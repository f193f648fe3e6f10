"""Replay the grading driver's correctness gate locally.

Usage: python tools/verify_window.py [sf_dir] [--all | names...] [--mutate KEY]...

Mirrors the driver flow exactly: a PLAIN SparkSession (no engine confs),
__spark_entry__.entry() smoke check, then per-query
tests.oracle_harness.compare (row count + schema + order-insensitive
value hash + pandas-faithful dtypes) against DuckDB views over the same
parquet. Default scope is the 50-entry driver window; --all sweeps every
registered oracle; explicit names check just those.

--mutate KEY (repeatable) builds KEY's corpus from sf_dir into a temp
directory and replays the scope over it instead of over sf_dir. The keys
are the corpus mutations of tests/mutations.py (the robustness axes:
extreme_values, null_events, empty_orders, drift_all_required, ...).

Every query is fault-isolated: an exception prints `ERR name: ...`,
counts as red, and the sweep goes on. One verdict line per corpus; exit
code 0 iff everything checked is green. Benign noise to ignore: Spark's
'Failed to update accumulator ... non-existent accumulator' ERROR lines
(stale accumulators from completed stages in a shared session).
"""

from __future__ import annotations

import os
import sys
import tempfile
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def replay(spark, qs, oracles, targets, sf_dir) -> list[str]:
    """Check every target over sf_dir; returns the red names."""
    from oracle_harness import compare, duckdb_connection

    red: list[str] = []
    con = duckdb_connection(sf_dir)
    try:
        for name in targets:
            try:
                df = qs[name](spark, sf_dir)
                if name not in oracles:
                    print(f"  {name}: rows-only ({df.count()} rows)")
                    continue
                rep = compare(df, con, oracles[name])
            except Exception as e:  # noqa: BLE001 — one query must not end the sweep
                red.append(name)
                msg = "".join(traceback.format_exception_only(type(e), e))
                print(f"  ERR {name}: {msg.strip()[:400]}", flush=True)
                continue
            if not rep["ok"]:
                red.append(name)
                print(f"  RED {name}: " + str({
                    k: rep[k]
                    for k in (
                        "spark_rows",
                        "oracle_rows",
                        "cols_match",
                        "dtype_match",
                        "exact",
                        "near",
                    )
                }), flush=True)
    finally:
        con.close()
    return red


def main() -> int:
    args = sys.argv[1:]
    keys: list[str] = []
    while "--mutate" in args:
        i = args.index("--mutate")
        if i + 1 == len(args):
            raise SystemExit("--mutate needs a KEY")
        keys.append(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.01"
    if args and not args[0].startswith("--") and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    scope_all = "--all" in args
    names = [a for a in args if not a.startswith("--")]

    from mutations import MUTATIONS, build

    unknown = [k for k in keys if k not in MUTATIONS]
    if unknown:
        raise SystemExit(
            f"unknown --mutate key(s) {unknown}; known: {sorted(MUTATIONS)}"
        )

    # Local-mode Python workers (the applyInPandasWithState streams)
    # import the package too; sys.path above reaches only this process.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    entry_rows = len(entrymod.entry(spark).collect())
    print(f"entry(): {entry_rows} row(s)")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if names:
        targets = names
    elif scope_all:
        targets = list(qs)
    else:
        targets = list(qs)[:50]
    scope = "named" if names else "all" if scope_all else "window"

    any_red = False
    if not keys:
        red = replay(spark, qs, oracles, targets, sf_dir)
        print(f"checked {len(targets)} ({scope}), red: {red}")
        any_red = bool(red)
    for key in keys:
        with tempfile.TemporaryDirectory(prefix=f"mutate_{key}_") as d:
            red = replay(spark, qs, oracles, targets, build(key, sf_dir, d))
        print(f"checked {len(targets)} ({scope}, --mutate {key}), red: {red}")
        any_red = any_red or bool(red)
    return 1 if any_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
