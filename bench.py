"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the noop sink (full pipeline runs, nothing
collected to the driver), so Catalyst can't prune the measured work.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
from data_pipeline__s3_to_postgres_s3_spark.config import default_sf_dir
from data_pipeline__s3_to_postgres_s3_spark.registry import QUERIES
from data_pipeline__s3_to_postgres_s3_spark.session import get_spark


def infer_sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def corpus_shape(sf_dir: str) -> dict:
    """Per-table row counts + byte sizes + doc-length summary, recorded
    NEXT TO the numbers they confound: the driver regenerates
    /root/testdata between rounds, and the r6→r7 uniform ~1.4× bench
    inflation could not be adjudicated because nothing recorded what the
    corpus looked like each round. Footer-metadata only (row counts from
    parquet metadata, no data scan) except the one small n_chars column
    read for the documents length profile."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    shape: dict[str, dict] = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            md = pq.ParquetFile(path).metadata
            shape[t] = {"rows": md.num_rows, "bytes": os.path.getsize(path)}
        except Exception as exc:  # noqa: BLE001 — shape is advisory, never fatal
            shape[t] = {"err": f"{type(exc).__name__}: {exc}"[:120]}
    try:
        n_chars = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["n_chars"]
        ).column("n_chars")
        shape["documents"]["n_chars_min"] = pc.min(n_chars).as_py()
        shape["documents"]["n_chars_max"] = pc.max(n_chars).as_py()
        shape["documents"]["n_chars_mean"] = round(
            pc.mean(n_chars).as_py() or 0.0, 1
        )
    except Exception as exc:  # noqa: BLE001
        shape.setdefault("documents", {})["n_chars_err"] = str(exc)[:120]
    try:
        vec0 = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
        ).column("embedding")
        shape["embeddings"]["dim"] = (
            len(vec0[0].as_py()) if len(vec0) else 0
        )
    except Exception as exc:  # noqa: BLE001
        shape.setdefault("embeddings", {})["dim_err"] = str(exc)[:120]
    return shape


def main() -> None:
    sf_dir = default_sf_dir()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warm-up prelude (round-6 judge ask #4): one relational query
    # warms JVM/codegen/executor setup, one stateful STREAMING query warms
    # the Python-worker + state-store machinery — the two first-call fixed
    # costs that polluted per-query numbers across rounds (the first
    # streaming query used to absorb ~1-2s of setup wherever rotation
    # happened to place it).
    for warm in ("agg_shipments", "stream_user_running_max"):
        try:
            QUERIES[warm](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001 — prelude must never kill the run
            print(f"bench: warm-up {warm} failed: {exc}", file=sys.stderr)

    # Per-query fault isolation: a single failing query records an "err"
    # entry instead of aborting the run — the bench must ALWAYS emit its
    # JSON line (losing a whole round's numbers to one AnalysisException is
    # a harness defect, not a measurement).
    per_query: dict[str, object] = {}
    errors: dict[str, str] = {}
    total = 0.0
    # CANONICAL bench order: alphabetical by name, decoupled from the
    # risk-ranked registry order — window rotation used to reshuffle run
    # positions every round and manufacture phantom per-query "deltas"
    # (r5→r6 burned hours reconciling pure position effects). Alphabetical
    # is stable across rounds regardless of rotation.
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — record and keep going
            msg = f"{type(exc).__name__}: {exc}"[:300]
            per_query[name] = {"err": msg}
            errors[name] = msg
            print(f"bench: {name} FAILED: {msg}", file=sys.stderr)
            continue
        dt = time.perf_counter() - t0
        per_query[name] = round(dt, 3)
        total += dt

    # Targeted min-of-2 (round-9 judge ask #5): every round re-litigates
    # individual movers by hand because the min-of-2 rule was applied only
    # at the TOTAL level. Compare this run against the previous committed
    # bench_latest.json with bench_delta's own guards, and re-run JUST the
    # flagged movers once more, recording the second sample next to the
    # first. The headline "queries" numbers stay the FIRST run (driver
    # contract unchanged); tools/bench_delta.py consumes "second_sample"
    # to auto-close noise-class movers (min of the two clears the guard).
    second_sample: dict[str, float] = {}
    latest = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_latest.json"
    )
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from bench_delta import MIN_DELTA, THRESHOLD

        baseline = json.load(open(latest))["queries"]
        movers = sorted(
            (
                (n / o, name)
                for name, n in per_query.items()
                if isinstance(n, float)
                and isinstance(o := baseline.get(name), (int, float))
                and o > 0
                and n / o > THRESHOLD
                and n - o > MIN_DELTA
            ),
            reverse=True,
        )[:12]  # bounded overhead: worst 12 ratios only
        for _ratio, name in movers:
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                second_sample[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — retry must never kill the run
                print(f"bench: retry {name} failed: {exc}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 — no baseline / guards = no retries
        print(f"bench: min-of-2 pass skipped: {exc}", file=sys.stderr)

    out = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": infer_sf(sf_dir),
        "corpus": corpus_shape(sf_dir),
    }
    if second_sample:
        out["second_sample"] = second_sample
    if errors:
        out["n_errors"] = len(errors)
    # The driver's BENCH_r{N}.json keeps only the last ~2000 chars of
    # stdout and tries to json-parse them; the full 191-query line is
    # ~6k chars, so the archived capture came back parsed:null every
    # round (r13 VERDICT #7). Emit a COMPACT line that fits the capture
    # (totals first, then the slowest queries until the budget is spent,
    # with a pointer to the full map), and persist the complete dict in
    # bench_latest.json — which remains the per-query history of record.
    latest = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_latest.json")
    with open(latest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(_compact_line(out), separators=(",", ":")))
    spark.stop()


_STDOUT_BUDGET = 1800  # chars; the driver's tail capture is 2000


def _compact_line(out: dict) -> dict:
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": sum(
            1 for v in out["queries"].values() if not isinstance(v, dict)
        ),
        "queries_full": "bench_latest.json",
        "queries": {},
    }
    if "n_errors" in out:
        compact["n_errors"] = out["n_errors"]
    timed = sorted(
        (
            (t, name)
            for name, t in out["queries"].items()
            if isinstance(t, (int, float))
        ),
        reverse=True,
    )
    for t, name in timed:
        compact["queries"][name] = t
        if len(json.dumps(compact, separators=(",", ":"))) > _STDOUT_BUDGET:
            del compact["queries"][name]
            break
    compact["n_shown"] = len(compact["queries"])
    return compact


if __name__ == "__main__":
    main()
