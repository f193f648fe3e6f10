"""r14 census-op semantics: schema_snapshot_report (the schema-drift
DETECTOR) and table_column_stats (the ANALYZE-style optimizer-stats
census).

Detection contract (the key_uniqueness_report precedent): the detector
itself must stay oracle-GREEN on a drifted corpus — its OUTPUT is what
changes, and the changed row is the alarm. A detector that hash-reds on
the corpus shape it exists to detect would be useless as a gate.

Canonicalization pin: every stats value funnels through
(CAST(col AS DOUBLE) + 0.0) on BOTH engines — the +0.0 collapses -0.0
to +0.0, so a feed carrying IEEE negative zero cannot split the driver
hash (Spark's DISTINCT normalizes -0.0 == 0.0 and MIN/MAX returns an
engine-arbitrary member of the equal pair; the canonical domain makes
the question moot). Planted-value test below.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES, QUERIES

from .mutations import build
from .oracle_harness import compare, duckdb_connection


@pytest.fixture(scope="module")
def drift_dirs(sf_small, tmp_path_factory):
    """Two drifted sf0.001 variants of the orders table: a never-
    referenced extra column spliced in at position 0, and the column
    order reversed (the `drift_orders_*` corpora in tests/mutations.py)."""
    return {
        kind: build(
            f"drift_orders_{kind}",
            sf_small,
            str(tmp_path_factory.mktemp(f"drift_{kind}")),
        )
        for kind in ("extra", "reordered")
    }


def _snapshot_rows(spark, sf_dir):
    return {
        r["table_name"]: r
        for r in QUERIES["schema_snapshot_report"](spark, sf_dir).collect()
    }


def test_snapshot_matches_physical_schema(spark, sf_small):
    rows = _snapshot_rows(spark, sf_small)
    assert set(rows) == set(TABLES)
    for t in TABLES:
        names = sorted(pq.read_schema(f"{sf_small}/{t}.parquet").names)
        assert rows[t]["n_cols"] == len(names)
        assert rows[t]["col_list"] == ",".join(names)
        assert (
            rows[t]["n_rows"]
            == pq.read_metadata(f"{sf_small}/{t}.parquet").num_rows
        )


def test_snapshot_detects_added_column_and_stays_oracle_green(
    spark, drift_dirs
):
    d = drift_dirs["extra"]
    rows = _snapshot_rows(spark, d)
    assert rows["orders"]["n_cols"] == 7
    assert rows["orders"]["col_list"].startswith("_schema_drift_extra,")
    # the detector itself must not hash-red on the shape it detects
    con = duckdb_connection(d)
    try:
        rep = compare(
            QUERIES["schema_snapshot_report"](spark, d),
            con,
            ORACLES["schema_snapshot_report"],
        )
        assert rep["ok"], rep
    finally:
        con.close()


def test_snapshot_invariant_under_reorder_and_stays_oracle_green(
    spark, sf_small, drift_dirs
):
    """Column ORDER is not identity: the sorted-name census of a
    reordered table equals the baseline's (ordinal drift alarms via
    nothing — by design; a consumer with a positional assumption is the
    bug, and the probe's _reordered axis hunts those directly)."""
    d = drift_dirs["reordered"]
    base = _snapshot_rows(spark, sf_small)["orders"]
    drifted = _snapshot_rows(spark, d)["orders"]
    assert (drifted["n_cols"], drifted["col_list"], drifted["n_rows"]) == (
        base["n_cols"],
        base["col_list"],
        base["n_rows"],
    )
    con = duckdb_connection(d)
    try:
        rep = compare(
            QUERIES["schema_snapshot_report"](spark, d),
            con,
            ORACLES["schema_snapshot_report"],
        )
        assert rep["ok"], rep
    finally:
        con.close()


@pytest.fixture(scope="module")
def negzero_dir(sf_small, tmp_path_factory):
    """sf0.001 with customer.c_acctbal replaced by a tiny planted column
    carrying both IEEE zeros, a NULL, and one ordinary value."""
    d = str(tmp_path_factory.mktemp("negzero"))
    for t in TABLES:
        if t != "customer":
            shutil.copy(f"{sf_small}/{t}.parquet", f"{d}/{t}.parquet")
    src = pq.read_table(f"{sf_small}/customer.parquet")
    n = src.num_rows
    vals = [None] * n
    planted = [-0.0, 0.0, 5.5, None]
    for i in range(n):
        vals[i] = planted[i % len(planted)]
    idx = src.schema.get_field_index("c_acctbal")
    out = src.set_column(
        idx, src.schema.field(idx), pa.array(vals, pa.float64())
    )
    pq.write_table(out, f"{d}/customer.parquet")
    return d


def test_stats_hand_verified_and_negzero_canonical(spark, negzero_dir):
    rows = {
        (r["table_name"], r["column_name"]): r
        for r in QUERIES["table_column_stats"](spark, negzero_dir).collect()
    }
    n = pq.read_metadata(f"{negzero_dir}/customer.parquet").num_rows
    r = rows[("customer", "c_acctbal")]
    n_null = len([i for i in range(n) if i % 4 == 3])
    assert r["n_nonnull"] == n - n_null
    assert r["n_nulls"] == n_null
    # -0.0 and 0.0 are ONE equality class on the canonical domain
    assert r["n_distinct"] == 2
    assert r["min_value"] == 0.0 and str(r["min_value"])[0] != "-"
    assert r["max_value"] == 5.5
    con = duckdb_connection(negzero_dir)
    try:
        rep = compare(
            QUERIES["table_column_stats"](spark, negzero_dir),
            con,
            ORACLES["table_column_stats"],
        )
        assert rep["ok"], rep
    finally:
        con.close()


def test_stats_covers_every_spec_column(spark, sf_small):
    from data_pipeline__s3_to_postgres_s3_spark.operators.profiling import (
        TABLE_STATS_SPECS,
    )

    rows = QUERIES["table_column_stats"](spark, sf_small).collect()
    want = {(t, c) for t, cols in TABLE_STATS_SPECS for c in cols}
    assert {(r["table_name"], r["column_name"]) for r in rows} == want
    ids = {
        r["column_name"]: r
        for r in rows
        if r["table_name"] == "documents"
    }
    assert ids["doc_id"]["n_distinct"] == ids["doc_id"]["n_nonnull"] > 0
