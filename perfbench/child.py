"""One benchmark process.

``python3 child.py <spec.json>`` sets up a Spark session through the
package's ``session.get_spark``, runs a short warm-up, then runs the
workload's steps in a closed loop (the next step starts when the previous
one returned), times each layer call from outside, checks every output
against its DuckDB oracle after the timed window, and writes a result file.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json
import os
import sys
import threading
import time
import traceback

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# Process-tree CPU and memory (the Python driver, the driver JVM and the
# Python workers it forks).


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    pids, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        pids += frontier
    return pids


def _stat_fields(pid: int) -> list[bytes] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(b")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children's time."""
    total = 0
    for pid in _tree_pids(root):
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between the Python
    daemon and the workers it forks count once, split among them."""
    total_kb = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


class MemorySampler(threading.Thread):
    """Samples the tree's resident memory (PSS) until stopped; keeps the
    peak."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
        return self.peak_mb


# --------------------------------------------------------------------------
# Session set-up.


def setup(spec: dict):
    from data_pipeline__s3_to_postgres_s3_spark.session import get_spark

    run_dir = spec["work_dir"]
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir}/derby -Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if spec.get("trace"):
        os.makedirs(spec["event_log_dir"], exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": spec["event_log_dir"],
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{spec['workload']}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.monotonic()
    warm_up(spark, spec["warmup_corpus"])
    return spark, t_session, time.monotonic()


def warm_up(spark, corpus_dir: str) -> None:
    """One registry query on a tiny corpus of its own: the first-query
    costs (class loading, codegen, executor threads, catalog set-up) every
    workload would otherwise charge to whichever operation runs first. Its
    files are not the workload's, so no memo of the workload is filled."""
    from data_pipeline__s3_to_postgres_s3_spark.registry import QUERIES

    QUERIES["agg_shipments"](spark, corpus_dir).collect()


# --------------------------------------------------------------------------
# Streaming progress.


def make_listener():
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "bytes": s.memoryUsedBytes,
                        "dropped": s.numRowsDroppedByWatermark,
                    }
                    for s in p.stateOperators
                ],
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.append(str(event.runId))

    return ProgressLog()


# --------------------------------------------------------------------------
# Steps.


class Collected:
    """A query's result, collected inside the timed step, with the
    attributes the oracle harness reads from a frame: the output that is
    checked is the output that was timed, and no query runs twice."""

    def __init__(self, df):
        self.columns, self.schema = df.columns, df.schema
        self.rows = df.collect()

    def collect(self):
        return self.rows


class Runner:
    def __init__(self, spark, spec: dict, listener):
        from data_pipeline__s3_to_postgres_s3_spark import registry
        from data_pipeline__s3_to_postgres_s3_spark.pipelines import elt
        from data_pipeline__s3_to_postgres_s3_spark.streaming import docs, events

        self.spark, self.spec, self.listener = spark, spec, listener
        self.sc = spark.sparkContext
        self.trace = bool(spec.get("trace"))
        self.registry, self.elt = registry, elt
        self.streams = {
            n: getattr(m, n) for m in (events, docs) for n in dir(m) if n.startswith("stream_")
        }
        self.storage_mb: list[float] = []

    def _group(self, tag: str, what: str) -> None:
        if self.trace:
            self.sc.setJobGroup(tag, what)

    def storage_sample(self) -> None:
        if self.trace:
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            self.storage_mb.append(sum(i.memSize() + i.diskSize() for i in infos) / 1e6)

    def run(self, step: dict) -> tuple[dict, object]:
        rec = {k: step[k] for k in ("i", "kind", "visit", "pass")}
        rec["name"] = step.get("name", "elt_batch")
        rec["corpus"] = step.get("corpus")
        rec["start"] = time.monotonic()
        handle = None
        try:
            handle = getattr(self, f"_run_{step['kind']}")(step, rec)
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 — one failing step must not end the run
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc(file=sys.stderr)
        rec["end"] = time.monotonic()
        self.storage_sample()
        return rec, handle

    def _run_query(self, step: dict, rec: dict):
        fn = self.registry.QUERIES[step["name"]]
        tag = f"op{step['i']}"
        self._group(f"{tag}:build", step["name"])
        t0 = time.monotonic()
        df = fn(self.spark, self.spec["corpora"][step["corpus"]])
        t1 = time.monotonic()
        rec["exec_wall_start"] = time.time()
        self._group(f"{tag}:exec", step["name"])
        out = Collected(df)
        rec["build_s"] = t1 - t0
        rec["exec_s"] = time.monotonic() - t1
        rec["ops"] = [rec["build_s"] + rec["exec_s"]]
        return out

    def _run_elt(self, step: dict, rec: dict):
        elt = self.elt
        b = step["visit"] % self.spec["elt_batches"]
        paths = elt.EltPaths(
            raw_dir=os.path.join(self.spec["elt_raw"], f"batch-{b}"),
            staging_dir=os.path.join(self.spec["elt_out"], f"pass-{step['pass']}", "staging"),
            export_dir=os.path.join(self.spec["elt_out"], f"pass-{step['pass']}", "export"),
        )
        self._group(f"op{step['i']}:exec", f"elt batch {b}")
        t = [time.monotonic()]
        frames = elt.extract(self.spark, paths)
        t.append(time.monotonic())
        elt.load(self.spark, frames, paths)
        t.append(time.monotonic())
        results = elt.transform(self.spark, paths)
        t.append(time.monotonic())
        elt.export(results, paths)
        t.append(time.monotonic())
        rec["stages_s"] = dict(zip(("extract", "load", "transform", "export"), (t[i + 1] - t[i] for i in range(4))))
        rec["ops"] = [t[-1] - t[0]]
        return None

    def _run_stream(self, step: dict, rec: dict):
        fn = self.streams[step["name"]]
        lst = self.listener
        with lst.lock:
            n_prog, n_term = len(lst.progress), len(lst.terminated)
        rec["call_wall_start"] = time.time()
        df = fn(self.spark, self.spec["drops"][step["corpus"]], max_files_per_trigger=1)
        # The listener bus delivers asynchronously: wait for the query's
        # termination event so every progress record is in.
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            with lst.lock:
                if len(lst.terminated) > n_term:
                    break
            time.sleep(0.005)
        with lst.lock:
            run_ids = set(lst.terminated[n_term:])
            batches = [p for p in lst.progress[n_prog:] if p["run_id"] in run_ids]
        if not batches:
            raise RuntimeError("no micro-batch progress received")
        rec["batches"] = batches
        rec["ops"] = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in batches]
        return df


# --------------------------------------------------------------------------
# Output checks (outside the timed window).


def _csv_value_equal(text: str, want) -> bool:
    if want is None:
        return text == ""
    if isinstance(want, bool):
        return text.lower() == str(want).lower()
    if isinstance(want, (int, float)):
        try:
            return float(text) == float(want)
        except ValueError:
            return False
    if isinstance(want, (dt.date, dt.datetime)):
        return text[: len(want.isoformat())] == want.isoformat()
    return text == str(want)


def check_export(export_dir: str, name: str, con, sql: str) -> str | None:
    files = glob.glob(os.path.join(export_dir, name, "*.csv"))
    if len(files) != 1:
        return f"{name}: expected one exported CSV, found {len(files)}"
    with open(files[0], newline="", encoding="utf-8") as fh:
        rows = list(csv.DictReader(fh))
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    if len(rows) != len(want):
        return f"{name}: {len(rows)} exported rows, oracle has {len(want)}"
    got_key = sorted(tuple(r[c] for c in cols) for r in rows)
    want_rows = sorted(want, key=lambda r: tuple(str(v) for v in r))
    for g, w in zip(got_key, want_rows):
        if not all(_csv_value_equal(a, b) for a, b in zip(g, w)):
            return f"{name}: exported {g} != oracle {w}"
    return None


def check_staging(staging_dir: str, expected_rows: dict) -> str | None:
    """The watermark load must stage every view row exactly once (keyed
    tables) or once per delivery (reviews)."""
    import pyarrow.dataset as ds

    for table, want in expected_rows.items():
        path = os.path.join(staging_dir, table)
        got = ds.dataset(path, format="parquet").count_rows()
        if got != want:
            return f"staging {table}: {got} rows, expected {want}"
    return None


def check_outputs(spec: dict, records: list[dict], handles: list) -> None:
    sys.path.insert(0, spec["repo_root"])
    from tests.oracle_harness import compare, duckdb_connection

    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    # Every query reads the star corpus; the stream drops are cut from it.
    con = duckdb_connection(spec["corpora"]["star"])

    for rec, df in zip(records, handles):
        if not rec["ok"]:
            continue
        problem = None
        t0 = time.monotonic()
        try:
            if rec["kind"] in ("query", "stream"):
                report = compare(df, con, ORACLES[rec["name"]])
                rec["rows_out"] = report["spark_rows"]
                if not report["ok"]:
                    problem = f"oracle mismatch: {report['detail'][:300]}"
                elif report["spark_rows"] == 0:
                    # Every operation of the plan returns rows on the
                    # sf0.1 corpus, and the generator plants what each
                    # needs; an empty result means a path did no work.
                    problem = "empty output"
                if rec["kind"] == "stream":
                    dropped = sum(s["dropped"] for b in rec["batches"] for s in b["state"])
                    if dropped:
                        problem = f"{dropped} rows dropped by watermark on a time-ordered feed"
            elif rec["kind"] == "elt" and rec["visit"] % spec["elt_batches"] == spec["elt_batches"] - 1:
                out = os.path.join(spec["elt_out"], f"pass-{rec['pass']}")
                problem = check_staging(os.path.join(out, "staging"), spec["elt_expected_rows"])
                for name in ("agg_shipments", "agg_public_holiday"):
                    problem = problem or check_export(
                        os.path.join(out, "export"), name, con, ORACLES[name]
                    )
        except Exception as exc:  # noqa: BLE001 — a check that raises is a failed check
            problem = f"check raised {type(exc).__name__}: {exc}"[:400]
        rec["check_s"] = time.monotonic() - t0
        if problem:
            rec["ok"] = False
            rec["error"] = problem
            print(f"perfbench: step {rec['i']} {rec['name']} failed: {problem}", file=sys.stderr)


# --------------------------------------------------------------------------


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    spark, t_session, t_ready = setup(spec)
    result = {
        "session_start_s": t_session - spec["t_spawn"],
        "warmup_s": t_ready - t_session,
        "setup_s": t_ready - spec["t_spawn"],
    }
    try:
        measure(spark, spec, result)
    finally:
        spark.stop()
    with open(spec["result_path"], "w") as fh:
        json.dump(result, fh)
    return 0


def measure(spark, spec: dict, result: dict) -> None:
    listener = make_listener()
    spark.streams.addListener(listener)
    runner = Runner(spark, spec, listener)
    me = os.getpid()
    cpu0 = tree_cpu_s(me)
    sampler = MemorySampler(me)
    sampler.start()
    result["window_wall_start"] = time.time()
    records, handles = [], []
    for step in spec["steps"]:
        rec, handle = runner.run(step)
        records.append(rec)
        handles.append(handle)
    result["window_wall_end"] = time.time()
    result["peak_rss_mb"] = sampler.stop()
    result["cpu_s"] = tree_cpu_s(me) - cpu0
    result["storage_mb"] = runner.storage_mb
    if spec.get("check", True):
        check_outputs(spec, records, handles)
    if spec.get("trace"):
        from data_pipeline__s3_to_postgres_s3_spark.operators import similarity

        result["ann_root"] = similarity.ANN_ARTIFACT_ROOT
        if any(r["kind"] == "elt" for r in records):
            result["elt_counts"] = elt_counts(spark, spec)
    result["records"] = records


def elt_counts(spark, spec: dict) -> dict:
    """Rows kept and quarantined by the ELT passes, and staging bytes per
    CSV byte, counted after the timed window."""
    from data_pipeline__s3_to_postgres_s3_spark import schemas
    from data_pipeline__s3_to_postgres_s3_spark.pipelines import elt
    from data_pipeline__s3_to_postgres_s3_spark.sources.files import read_csv, split_corrupt

    import pyarrow.dataset as ds

    from gen import dir_bytes

    read = csv_bytes = quarantined = 0
    for b, shape in enumerate(spec["elt_shape"]):
        read += sum(shape["rows"].values())
        csv_bytes += sum(shape["bytes"].values())
        for table in elt.STAGING_TABLES:
            df = read_csv(spark, os.path.join(spec["elt_raw"], f"batch-{b}", f"{table}.csv"), schemas.CSV_SCHEMAS[table])
            # Collected, not counted: Spark rejects a count whose pruned
            # schema is only the corrupt-record column of a raw CSV scan.
            quarantined += len(split_corrupt(df)[1].collect())
    passes = sorted(glob.glob(os.path.join(spec["elt_out"], "pass-*", "staging")))
    staged = sum(ds.dataset(p, format="parquet").count_rows() for p in passes) / len(passes)
    staged_bytes = sum(dir_bytes(p) for p in passes) / len(passes)
    return {
        "elt.keep_ratio": (staged / read, "1"),
        "elt.rows_quarantined": (quarantined, "count"),
        "elt.stored_per_input": (staged_bytes / csv_bytes, "1"),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
