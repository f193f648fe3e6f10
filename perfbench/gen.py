"""Seeded input generator for the benchmark.

Every table has the schema and value domains of the sf0.1 test corpus the
engine is tested on (TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``; orders dated 1995-01-01..2001-08-01 as ``EngineConfig``
assumes). The same seed and sizes give the same bytes: all randomness comes
from one ``numpy.random.Generator`` per table and files are written with
fixed parquet/CSV options.

Planted work: a seeded share of exact and near-duplicate documents, and of
near-duplicate vectors around ten label centroids, so the dedup, graph and
ANN paths find pairs and clusters instead of returning empty results.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

ORDER_START = dt.date(1995, 1, 1)
ORDER_END = dt.date(2001, 8, 1)
SHIP_START = dt.date(1995, 1, 2)
SHIP_END = dt.date(2001, 11, 4)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
# Mapping constants of the reference-shaped views (catalog.ref_orders /
# ref_shipments / ref_reviews with the default EngineConfig).
PRODUCT_MOD = 100

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _rng(seed: int, name: str) -> np.random.Generator:
    """One independent stream per (seed, table), so adding a table never
    shifts the bytes of another."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _days(start: dt.date, end: dt.date, rng: np.random.Generator, n: int) -> np.ndarray:
    span = (end - start).days + 1
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem, events at
    the test corpus's row counts for scale factor ``sf``."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    pk = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(P_ADJ)[r.integers(0, 8, n_part)], " "),
        np.array(P_NOUN)[r.integers(0, 8, n_part)],
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(P_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )

    r = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            # Keys start at 1: the ELT load's max-PK watermark starts at 0.
            "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _days(ORDER_START, ORDER_END, r, n_ord).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_ord + 1), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 901.0, 105_000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(SHIP_START, SHIP_END, r, n_li).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, EVENTS_SPAN_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64(EVENTS_START, "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    return out


def documents_table(seed: int, n_docs: int, dup_share: float) -> pa.Table:
    """Documents of 10..100 words from the test corpus's vocabulary. A
    ``dup_share`` of rows copies an earlier document exactly (half) or with
    one or two words replaced (the other half)."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for _ in range(n_docs):
        texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), r.integers(10, 101))]))
    n_dup = int(n_docs * dup_share)
    targets = r.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False)
    sources = r.integers(0, n_docs // 2, n_dup)
    for i, (t, s) in enumerate(zip(targets, sources)):
        if i % 2 == 0:
            texts[t] = texts[s]
        else:
            words = texts[s].split(" ")
            for pos in r.integers(0, len(words), 1 + i % 2):
                words[pos] = "dup"
            texts[t] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dup_share: float) -> pa.Table:
    """Unit vectors of dimension 64 around ten label centroids; a
    ``dup_share`` of rows is an earlier vector plus small noise."""
    r = _rng(seed, "embeddings")
    centroids = r.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = r.integers(0, N_LABELS, n_vecs)
    vecs = centroids[labels] * 0.35 + r.normal(0.0, 1.0, (n_vecs, EMB_DIM))
    n_dup = int(n_vecs * dup_share)
    targets = r.choice(np.arange(n_vecs // 2, n_vecs), n_dup, replace=False)
    sources = r.integers(0, n_vecs // 2, n_dup)
    vecs[targets] = vecs[sources] + r.normal(0.0, 0.01, (n_dup, EMB_DIM))
    labels[targets] = labels[sources]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def split_drop(table: pa.Table, order_col: str, k: int, out_dir: str, prefix: str) -> list[str]:
    """Split ``table`` into ``k`` files ``<prefix>-<i>.parquet`` in
    ``order_col`` order: the time-ordered file drops a stream consumes one
    per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    ordered = table.sort_by([(order_col, "ascending")])
    bounds = np.linspace(0, ordered.num_rows, k + 1).astype(int)
    paths = []
    for i in range(k):
        path = os.path.join(out_dir, f"{prefix}-{i}.parquet")
        _write(ordered.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


def reference_views(tables: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """The reference pipeline's orders / shipment_deliveries / reviews,
    computed with the same key arithmetic as ``catalog.ref_*``."""
    o, li = tables["orders"], tables["lineitem"]
    ok = o.column("o_orderkey").to_numpy()
    orders = pa.table(
        {
            "order_id": ok,
            "customer_id": o.column("o_custkey").to_numpy(),
            "order_date": o.column("o_orderdate").cast(pa.date32()),
            "product_id": ok % PRODUCT_MOD,
            "unit_price": ok % 300 + 100,
            "quantity": ok % 10 + 1,
            "total_price": (ok % 300 + 100) * (ok % 10 + 1),
        }
    )
    pk = li.column("l_partkey").to_numpy()
    sk = li.column("l_suppkey").to_numpy()
    ship = li.column("l_shipdate").cast(pa.date32()).to_numpy(zero_copy_only=False)
    shipped = pk % 3 != 0
    delivered = shipped & (pk % 2 == 0)
    ships = pa.table(
        {
            "shipment_id": li.column("l_orderkey").to_numpy() * 10
            + li.column("l_linenumber").to_numpy(),
            "order_id": li.column("l_orderkey").to_numpy(),
            "shipment_date": pa.array(ship, pa.date32(), mask=~shipped),
            "delivery_date": pa.array(
                ship + (sk % 4 + 1).astype("timedelta64[D]"), pa.date32(), mask=~delivered
            ),
        }
    )
    reviews = pa.table({"review": pk % 5 + 1, "product_id": pk % PRODUCT_MOD})
    return {"orders": orders, "shipment_deliveries": ships, "reviews": reviews}


CORRUPT_LINE = "oops,not,a,valid,row,at,all"


def elt_batches(
    seed: int,
    tables: dict[str, pa.Table],
    n_batches: int,
    resend_share: float,
    corrupt_share: float,
    out_dir: str,
) -> list[dict]:
    """Write ``n_batches`` incremental CSV drops of the reference views to
    ``out_dir/batch-<b>/<table>.csv``. Keyed tables arrive in primary-key
    order; from the second batch on, a ``resend_share`` of already-sent rows
    is re-sent (the max-PK watermark discards them). Reviews are
    append-only. A ``corrupt_share`` of malformed lines lands in every file.
    Returns per-batch row counts and byte sizes."""
    r = _rng(seed, "elt")
    views = reference_views(tables)
    pks = {"orders": "order_id", "shipment_deliveries": "shipment_id"}
    shape = []
    slices = {}
    for name, view in views.items():
        if name in pks:
            view = view.sort_by([(pks[name], "ascending")])
        bounds = np.linspace(0, view.num_rows, n_batches + 1).astype(int)
        slices[name] = (view, bounds)
    for b in range(n_batches):
        bdir = os.path.join(out_dir, f"batch-{b}")
        os.makedirs(bdir, exist_ok=True)
        info = {"batch": b, "rows": {}, "bytes": {}, "resent": {}, "corrupt": {}}
        for name, (view, bounds) in slices.items():
            part = view.slice(bounds[b], bounds[b + 1] - bounds[b])
            n_resent = 0
            if name in pks and b > 0:
                n_resent = int(bounds[b] * resend_share)
                idx = np.sort(r.choice(bounds[b], n_resent, replace=False))
                part = pa.concat_tables([view.take(idx), part])
            path = os.path.join(bdir, f"{name}.csv")
            pacsv.write_csv(part, path, pacsv.WriteOptions(include_header=True, quoting_style="none"))
            n_bad = int(part.num_rows * corrupt_share)
            if n_bad:
                with open(path, "a", encoding="utf-8") as fh:
                    fh.write((CORRUPT_LINE + "\n") * n_bad)
            info["rows"][name] = part.num_rows + n_bad
            info["bytes"][name] = os.path.getsize(path)
            info["resent"][name] = n_resent
            info["corrupt"][name] = n_bad
        shape.append(info)
    return shape


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
