"""Corpus mutations: the corpus-regeneration hazards the oracle gate must
survive, as one table shared by the robustness tests and the replay tool.

``MUTATIONS[key]`` maps each table the mutation rewrites to a function
``pa.Table -> pa.Table`` applied to the source table. ``build(key, src,
dst)`` writes the rewritten tables into ``dst`` and copies every other
``catalog.TABLES`` file unchanged. The ``tests/test_*_robustness.py``
fixtures pin representative queries over these corpora;
``python tools/verify_window.py SF_DIR --mutate KEY [--all]`` replays
the query scope over one.

Keys:

- ``extreme_values``: NaN / ±Inf / ±1e300 / 1e-300 in events.value.
- ``extreme_timestamps``: pre-epoch, far-future and sub-second-tied
  event ts, plus 6-deep identical (user, ts) pileups.
- ``null_events``: NULL event_id / ts / user_id / event_type / value.
- ``extreme_dates``: 1901 / 1969 / 2260 / 9999 in o_orderdate and
  l_shipdate.
- ``extreme_money``: the extreme_values specials in every relational
  measure (``MONEY_PLANT``).
- ``negative_ids``: negated doc_id / vec_id / event_id / user_id.
- ``empty_<table>``: the table with zero rows, schema intact;
  ``empty_embeddings_invalid``: every embeddings row invalid (NULL,
  empty, interior-NULL or NaN vector).
- ``drift_<table>_extra``: a never-referenced column at position 0;
  ``drift_<table>_reordered``: column order reversed;
  ``drift_lineitem_narrow``: int64 columns narrowed to int32 where the
  values fit; ``drift_all_required``: every NULL-free field of every
  table marked non-nullable.

Dropped required columns are deliberately absent: a feed that loses a
column a query selects is a broken contract, and a loud
UNRESOLVED_COLUMN is the correct behaviour.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES

Rewrite = Callable[[pa.Table], pa.Table]

NON_FINITE = [float("nan"), float("inf"), float("-inf"), 1e300, -1e300, 1e-300]

EXTREME_DATES = [
    dt.datetime(1901, 6, 15),
    dt.datetime(1969, 12, 31, 23, 50),
    dt.datetime(9999, 6, 1),
    dt.datetime(2260, 1, 2),
]

# table -> (measure column, stride) pairs the extreme_money key plants.
MONEY_PLANT = {
    "lineitem": [("l_extendedprice", 13), ("l_discount", 17),
                 ("l_tax", 19), ("l_quantity", 23)],
    "orders": [("o_totalprice", 11)],
    "part": [("p_retailprice", 7)],
    "customer": [("c_acctbal", 9)],
    "supplier": [("s_acctbal", 5)],
}

_BASE = dt.datetime(2024, 1, 1)


def _on_strides(new: Callable[[int, object], object], *cols) -> Rewrite:
    """Rewrite each ``(column, stride)``: every non-NULL value at a row
    ``i`` with ``i % stride == 3`` becomes ``new(i // stride, value)``."""

    def rewrite(table: pa.Table) -> pa.Table:
        for col, stride in cols:
            vals = table.column(col).to_pylist()
            for i, v in enumerate(vals):
                if v is not None and i % stride == 3:
                    vals[i] = new(i // stride, v)
            idx = table.schema.get_field_index(col)
            field = table.schema.field(idx)
            table = table.set_column(idx, field, pa.array(vals, field.type))
        return table

    return rewrite


def _cycle(specials: list) -> Callable[[int, object], object]:
    return lambda k, _v: specials[k % len(specials)]


def _negated(_k: int, v: int) -> int:
    return -v - 1  # -1 keeps 0 out of its own image


def _events(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )


def _extreme_values(_src: pa.Table) -> pa.Table:
    rows = []
    for i in range(80):
        v = float(i)
        if i % 9 == 4:
            v = NON_FINITE[(i // 9) % len(NON_FINITE)]
        rows.append(
            (
                i,
                _BASE + dt.timedelta(minutes=7 * i),
                100 + i % 4,
                ["view", "purchase", "click", "signup"][i % 4],
                v,
                '{"k": %d}' % (i % 9),
            )
        )
    return _events(rows)


def _extreme_timestamps(_src: pa.Table) -> pa.Table:
    types = ["view", "purchase", "click", "signup", "error"]
    rows = []

    def add(ts, user, etype, value):
        rows.append((len(rows), ts, user, etype, float(value), '{"k": 1}'))

    for i in range(120):
        ts = _BASE + dt.timedelta(minutes=11 * i)
        if i % 11 == 3:
            ts = dt.datetime(1969, 12, 31, 23, 50) if i % 2 else dt.datetime(
                1901, 6, 15, 12, 0
            )
        elif i % 13 == 5:
            ts = dt.datetime(9999, 6, 1, 0, 0) if i % 2 else dt.datetime(
                2260, 1, 2, 3, 4
            )
        elif i % 7 == 2:
            # sub-second tie cluster: same second, distinct micros
            ts = _BASE + dt.timedelta(minutes=11 * i, microseconds=i % 3)
        add(ts, 100 + i % 5, types[i % 5], i)
    # identical (user, ts) pileups: 6 events each, distinct event_ids,
    # mixed types so funnels/paths/OHLC all see the tie
    for k in range(4):
        ts = _BASE + dt.timedelta(hours=3 * k, minutes=17)
        for j in range(6):
            add(ts, 200 + k, types[j % 5], 1000 + j)
    return _events(rows)


def _null_events(_src: pa.Table) -> pa.Table:
    rows = []
    for i in range(60):
        rows.append(
            (
                None if i % 19 == 4 else i,
                None if i % 13 == 5 else _BASE + dt.timedelta(minutes=7 * i),
                None if i % 11 == 3 else 100 + i % 4,
                None
                if i % 17 == 7
                else ["view", "purchase", "click", "signup"][i % 4],
                None if i % 7 == 2 else float(i),
                '{"k": %d}' % (i % 9),
            )
        )
    return _events(rows)


def _empty(src: pa.Table) -> pa.Table:
    return src.schema.empty_table()


def _invalid_embeddings(src: pa.Table) -> pa.Table:
    """40 rows, none valid for the _embeddings chokepoint: NULL / empty /
    interior-NULL / NaN vectors in turn, so no max-dim row is left."""
    emb, vids, labels = [], [], []
    for i, r in enumerate(src.to_pylist()[:40]):
        vids.append(r["vec_id"])
        labels.append(r["label"])
        if i % 4 == 0:
            emb.append(None)
        elif i % 4 == 1:
            emb.append([])
        elif i % 4 == 2:
            v = list(r["embedding"])
            v[0] = None
            emb.append(v)
        else:
            v = list(r["embedding"])
            v[1] = float("nan")
            emb.append(v)
    return pa.table(
        {
            "vec_id": pa.array(vids, pa.int64()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _extra(src: pa.Table) -> pa.Table:
    col = pa.array(["drift"] * src.num_rows, pa.string())
    return src.add_column(0, pa.field("_schema_drift_extra", pa.string()), col)


def _reordered(src: pa.Table) -> pa.Table:
    return src.select(list(reversed(src.column_names)))


def _narrow(src: pa.Table) -> pa.Table:
    """Every int64 column whose values fit int32 becomes int32 — the
    encoding a space-conscious regeneration would pick."""
    cols = {}
    for f in src.schema:
        c = src.column(f.name)
        if pa.types.is_int64(f.type):
            mn, mx = pc.min(c).as_py(), pc.max(c).as_py()
            if mn is not None and -(2**31) <= mn and mx < 2**31:
                c = c.cast(pa.int32())
        cols[f.name] = c
    return pa.table(cols)


def _required(src: pa.Table) -> pa.Table:
    fields = [
        f if src.column(f.name).null_count else f.with_nullable(False)
        for f in src.schema
    ]
    return src.cast(pa.schema(fields))


MUTATIONS: dict[str, dict[str, Rewrite]] = {
    "extreme_values": {"events": _extreme_values},
    "extreme_timestamps": {"events": _extreme_timestamps},
    "null_events": {"events": _null_events},
    "extreme_dates": {
        "orders": _on_strides(_cycle(EXTREME_DATES), ("o_orderdate", 17)),
        "lineitem": _on_strides(_cycle(EXTREME_DATES), ("l_shipdate", 23)),
    },
    "extreme_money": {
        t: _on_strides(_cycle(NON_FINITE), *cols)
        for t, cols in MONEY_PLANT.items()
    },
    "negative_ids": {
        "documents": _on_strides(_negated, ("doc_id", 7)),
        "embeddings": _on_strides(_negated, ("vec_id", 9)),
        "events": _on_strides(_negated, ("event_id", 11), ("user_id", 13)),
    },
    **{f"empty_{t}": {t: _empty} for t in TABLES},
    "empty_embeddings_invalid": {"embeddings": _invalid_embeddings},
    **{
        f"drift_{t}_{kind}": {t: rewrite}
        for t in TABLES
        for kind, rewrite in (("extra", _extra), ("reordered", _reordered))
    },
    "drift_lineitem_narrow": {"lineitem": _narrow},
    "drift_all_required": {t: _required for t in TABLES},
}


def build(key: str, src_dir: str, dst_dir: str) -> str:
    """Write the ``key`` corpus of ``src_dir`` into ``dst_dir``; returns
    ``dst_dir``."""
    rewrites = MUTATIONS[key]
    os.makedirs(dst_dir, exist_ok=True)
    for t in TABLES:
        src, dst = f"{src_dir}/{t}.parquet", f"{dst_dir}/{t}.parquet"
        if t in rewrites:
            pq.write_table(rewrites[t](pq.read_table(src)), dst)
        else:
            shutil.copy(src, dst)
    return dst_dir
