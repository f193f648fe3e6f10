"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Generates the workload's inputs from ``--seed`` into a fresh run directory
under ``perfbench/_runs/``, runs the workload in a fresh measuring process
(its own TMPDIR, SPARK_LOCAL_DIRS and warehouse), and prints, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the run record: header,
corpus shape and the details behind the metrics. See WORKLOADS.md for what
each workload runs and why.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fold  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "data_pipeline__s3_to_postgres_s3_spark"
REQUIRED = (os.path.join(PACKAGE, "session.py"), os.path.join("tests", "oracle_harness.py"))
# One pass of each workload takes about this long at 4 cores; a run makes
# round(--seconds / this) passes, at least one, so the work per run is
# fixed by --seconds and never by how fast the pass went.
NOMINAL_PASS_S = 30.0
# The driver heap, through the package's SPARK_GRAFT_DRIVER_MEM setting. In
# local mode it is all of the executor memory too. Below the package's 8g
# default because the inputs are small: with a larger cap the JVM grows its
# heap instead of collecting, so peak_rss_mb reads the collector's sizing
# more than the working set: over six runs of a longer query_mix pass on 4
# cores, the JVM's share ranged from 990 to 1,400 MB at 1g and from 980 to
# 1,090 MB at 512m.
DRIVER_MEM = "512m"
WARMUP_SF = 0.0005
# The corpus table each file drop is cut from.
STREAM_TABLES = {"events": "events", "docs": "documents"}
# A run must end within 180 s of its start; the children share what is
# left of this once the inputs are written.
RUN_DEADLINE_S = 170.0


def proc_steal() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def commit() -> str:
    # A checkout without its own .git is not asked: git would search the
    # directories above it.
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


# --------------------------------------------------------------------------
# Inputs.


def make_inputs(workload: str, seed: int, data_dir: str) -> dict:
    """Write the workload's inputs; return paths, shape and expectations
    for the child spec."""
    size = workloads.SIZES[workload]
    warmup = os.path.join(data_dir, "warmup")
    gen.write_corpus(warmup, gen.star_tables(0, WARMUP_SF))
    star = gen.star_tables(seed, size["star_sf"])
    star["documents"] = gen.documents_table(seed, size["docs"], size["dup_share"])
    star["embeddings"] = gen.embeddings_table(seed, size["vecs"], size["dup_share"])
    corpus = os.path.join(data_dir, "star")
    gen.write_corpus(corpus, star)
    shape: dict = {
        "tables": {
            t: {"rows": tab.num_rows, "bytes": os.path.getsize(os.path.join(corpus, f"{t}.parquet"))}
            for t, tab in star.items()
        },
        "dup_share": size["dup_share"],
    }
    inputs = {"warmup_corpus": warmup, "corpora": {"star": corpus}, "drops": {}}
    if workload == "ingest_mix":
        drops = inputs["drops"]
        drops["events"] = os.path.join(data_dir, "drop_events")
        gen.split_drop(star["events"], "ts", size["event_files"], drops["events"], "events")
        drops["docs"] = os.path.join(data_dir, "drop_docs")
        gen.split_drop(star["documents"], "doc_id", size["doc_files"], drops["docs"], "documents")
        elt_raw = os.path.join(data_dir, "elt_raw")
        elt_shape = gen.elt_batches(
            seed, star, size["elt_batches"], size["resend_share"], size["corrupt_share"], elt_raw
        )
        views = gen.reference_views(star)
        inputs.update(
            elt_raw=elt_raw,
            elt_batches=size["elt_batches"],
            elt_shape=elt_shape,
            elt_expected_rows={t: v.num_rows for t, v in views.items()},
        )
        shape["elt_batches"] = elt_shape
        shape["stream_files"] = {"events": size["event_files"], "docs": size["doc_files"]}
    inputs["shape"] = shape
    return inputs


def input_rows(steps: list[dict], shape: dict) -> int:
    """Generated rows the steps consume: a query the rows of the tables its
    oracle reads, an ELT step the CSV lines of its batch, a stream step its
    whole file drop."""
    rows = {t: v["rows"] for t, v in shape["tables"].items()}
    total = 0
    for s in steps:
        if s["kind"] == "elt":
            batch = shape["elt_batches"][s["visit"] % len(shape["elt_batches"])]
            total += sum(batch["rows"].values())
        elif s["kind"] == "stream":
            total += rows[STREAM_TABLES[s["corpus"]]]
        else:
            total += sum(rows[t] for t in workloads.QUERY_TABLES[s["name"]])
    return total


# --------------------------------------------------------------------------
# Processes.


def _group_alive(pgid: int) -> bool:
    """Whether a live (not zombie) process is left in process group pgid."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        if fields[0] != b"Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """End the child and everything it started in its session (the driver
    JVM and the Python workers), and wait until all of it has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(proc.pid):
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
    proc.wait()


def spawn(spec: dict, run_dir: str, name: str, cores: int, deadline: float) -> dict:
    """Run one child to completion in its own work dir; return its result."""
    work = os.path.join(run_dir, name)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    spec = dict(
        spec,
        work_dir=work,
        elt_out=os.path.join(work, "elt"),
        event_log_dir=os.path.join(work, "eventlog"),
        result_path=os.path.join(work, "result.json"),
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONWARNINGS="ignore",
    )
    spec_path = os.path.join(work, "spec.json")
    log_path = os.path.join(work, "child.log")
    spec["t_spawn"] = time.monotonic()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            stop_group(proc)
    if code != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{name} process ended with {code}")
    with open(spec["result_path"]) as fh:
        result = json.load(fh)
    result["spec"] = spec
    return result


def ann_usage(root: str) -> dict:
    if not os.path.isdir(root):
        return {"bytes": 0, "dirs": 0}
    return {
        "bytes": gen.dir_bytes(root),
        "dirs": sum(1 for e in os.scandir(root) if e.is_dir()),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-index", default="1/1", help='"k/N" when this run is one of N')
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop the children.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: package sources not found: {missing}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0 = proc_steal()
    header = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "commit": commit(),
        "start_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "run": args.run_index,
        "driver_mem": DRIVER_MEM,
    }
    try:
        inputs = make_inputs(args.workload, args.seed, os.path.join(run_dir, "data"))
        n_passes = max(1, round(args.seconds / NOMINAL_PASS_S))
        steps = []
        # The order is seeded by the pass, not by --seed: runs with
        # different seeds differ in their data, not in which query meets a
        # cold JVM.
        for p in range(n_passes):
            for step in workloads.plan(args.workload, p):
                steps.append(dict(step, i=len(steps), **{"pass": p}))
        spec = {
            "workload": args.workload,
            "repo_root": REPO,
            "steps": steps,
            "trace": False,
            **{k: v for k, v in inputs.items() if k != "shape"},
        }
        # With --trace 1 a second, untraced process runs the same pass: the
        # tracing overhead is measured against it.
        setups = []
        if args.trace:
            other = spawn(dict(spec, check=False), run_dir, "untraced", cores, deadline)
            setups.append(other["setup_s"])
        main_res = spawn(dict(spec, trace=bool(args.trace)), run_dir, "measure", cores, deadline)
        setups.append(main_res["setup_s"])
        header["steal_jiffies"] = proc_steal() - steal0

        records = main_res["records"]
        rows = input_rows(steps, inputs["shape"])
        e2e, details = fold.end_to_end(
            records, setups, rows,
            main_res["cpu_s"], main_res["peak_rss_mb"],
        )
        if args.trace:
            events = fold.read_event_log(main_res["spec"]["event_log_dir"])
            log = fold.fold_event_log(
                events, main_res["window_wall_start"] * 1000.0, main_res["window_wall_end"] * 1000.0
            )
            metrics = fold.per_layer(
                main_res, log, cores, ann_usage(main_res["ann_root"]),
                fold.wall_s(other["records"]), e2e["wall_s"][0],
            )
        else:
            metrics = e2e
        failures = [
            {"step": r["i"], "name": r["name"], "error": r.get("error")} for r in records if not r["ok"]
        ]
        record = {
            "header": header,
            "shape": inputs["shape"],
            "passes": n_passes,
            "details": details,
            "steps": [
                {k: r.get(k) for k in ("i", "name", "corpus", "visit", "ok", "build_s", "exec_s", "ops", "rows_out")}
                for r in records
            ],
            "failures": failures,
        }
        print(json.dumps(record, default=str))
        out = {
            "correct": details["failed"] == 0,
            "attempted": details["attempted"],
            "failed": details["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(out))
        return 0
    except Exception as exc:  # noqa: BLE001 — report and fail the run without a result line
        print(f"perfbench: run failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
