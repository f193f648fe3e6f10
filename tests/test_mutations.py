"""Every corpus mutation in tests/mutations.py fires: the built corpus
holds all catalog tables, every table the key rewrites differs from the
source (schema or NaN-aware rows), and every other table is a byte copy.
A key whose rewrite silently became the identity would pin nothing in
the robustness tests and replay nothing under verify_window --mutate."""

from __future__ import annotations

import filecmp
import math
import os

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES

from .mutations import MUTATIONS, build


def _rows(table):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    return [{k: norm(v) for k, v in r.items()} for r in table.to_pylist()]


@pytest.mark.parametrize("key", sorted(MUTATIONS))
def test_mutation_fires(sf_small, tmp_path, key):
    d = build(key, sf_small, str(tmp_path))
    assert sorted(os.listdir(d)) == sorted(f"{t}.parquet" for t in TABLES)
    for t in TABLES:
        src, out = f"{sf_small}/{t}.parquet", f"{d}/{t}.parquet"
        if t not in MUTATIONS[key]:
            assert filecmp.cmp(src, out, shallow=False), t
            continue
        a, b = pq.read_table(src), pq.read_table(out)
        assert not a.schema.equals(b.schema) or _rows(a) != _rows(b), t
