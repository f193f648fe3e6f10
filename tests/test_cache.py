"""cache.py pins: one corpus identity, one memo.

- a superseded checkpoint frame releases its executor blocks, and so
  does the frame of a corpus that was deleted;
- building a memoized frame's plan writes no cut blocks (cuts are lazy);
- an equal-valued config reaches the same memoized frame (the memo keys
  on the parameters a frame reads, never on object identity);
- a corpus rewritten in place rebuilds the sql_script table plans;
- the supersede rule itself, on plain values.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark import cache
from data_pipeline__s3_to_postgres_s3_spark.config import DEFAULT_CONFIG
from data_pipeline__s3_to_postgres_s3_spark.registry import QUERIES


def _copy_tables(src: str, dst: str, names) -> str:
    for n in names:
        shutil.copy(os.path.join(src, f"{n}.parquet"), dst)
    return dst


def _rewrite_in_place(path: str, keep=None) -> None:
    """Rewrite a parquet file at the same path (optionally a row prefix)
    and move its ns mtime, as a corpus regeneration does."""
    t = pq.read_table(path)
    if keep is not None:
        t = t.slice(0, keep(t.num_rows))
    st = os.stat(path)
    pq.write_table(t, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000))


def test_corpus_id_covers_files_directories_and_globs(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"ab")
    (tmp_path / "events_late.parquet").write_bytes(b"c")
    d = tmp_path / "documents.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"xyz")
    (d / "_SUCCESS").write_bytes(b"")

    ev = cache.corpus_id(str(tmp_path), "events*.parquet")
    assert [(os.path.basename(p), s) for p, _m, s in ev] == [
        ("events.parquet", 2),
        ("events_late.parquet", 1),
    ]
    docs = cache.corpus_id(str(tmp_path), "documents.parquet")
    assert sorted(os.path.basename(p) for p, _m, _s in docs) == [
        "_SUCCESS",
        "part-0.parquet",
    ]
    assert all(os.path.isabs(p) for p, _m, _s in ev + docs)
    assert cache.corpus_id(str(tmp_path), "missing.parquet") == ()


def test_memo_supersedes_on_new_identity_and_skips_empty_identity(tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"x")
    cid = lambda: cache.corpus_id(str(tmp_path), "t.parquet")  # noqa: E731
    calls = []

    def build(v):
        return lambda: calls.append(v) or v

    assert cache.memo("probe", cid(), (1,), build("a")) == "a"
    assert cache.memo("probe", cid(), (2,), build("b")) == "b"
    assert cache.memo("probe", cid(), (1,), build("x")) == "a"
    assert calls == ["a", "b"]

    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert cache.memo("probe", cid(), (1,), build("c")) == "c"
    live = [k for k in cache._MEMO if k[0] == "probe" and k[1] == (str(p),)]
    # Both params of the old identity went; only the new entry is left.
    assert live == [("probe", (str(p),), (1,))]

    # Nothing matches: built every time, never stored.
    assert cache.memo("probe", (), (), build("d")) == "d"
    assert cache.memo("probe", (), (), build("e")) == "e"
    assert not [k for k in cache._MEMO if k[1] == ()]


@pytest.mark.parametrize("query", ["dedup_ngram_jaccard", "cross_source_neardups"])
def test_superseded_memo_frame_releases_checkpoint_blocks(
    spark, sf_small, tmp_path, query
):
    """A corpus rewritten in place supersedes the memoized lineage-cut
    frame; its localCheckpoint blocks must leave executor storage instead
    of living until the SparkContext dies."""
    d = _copy_tables(sf_small, str(tmp_path), ["documents"])
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    QUERIES[query](spark, d).count()
    before = rdds().size()
    _rewrite_in_place(os.path.join(d, "documents.parquet"))
    QUERIES[query](spark, d).count()
    assert rdds().size() <= before


def _stored(spark) -> set[int]:
    """Ids of the RDDs that hold cached blocks."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cut_rdd(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _ngram_frame(d: str):
    """The memoized n-gram inter-counts frame of corpus ``d``."""
    path = os.path.join(os.path.abspath(d), "documents.parquet")
    (entry,) = [e for k, e in cache._MEMO.items() if k[:2] == ("ngram_inter", (path,))]
    return entry[2]


def test_memo_frame_of_a_deleted_corpus_is_released(spark, sf_small, tmp_path):
    """A temp corpus deleted after use (verify_window --mutate builds one
    per mutation) must not keep its memo frames and their blocks until
    the process exits: the next miss drops them."""
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _copy_tables(sf_small, str(a), ["documents"])
    _copy_tables(sf_small, str(b), ["documents"])
    QUERIES["dedup_ngram_jaccard"](spark, str(a)).count()
    gone = _cut_rdd(_ngram_frame(str(a)))
    assert gone in _stored(spark)

    shutil.rmtree(a)
    QUERIES["dedup_ngram_jaccard"](spark, str(b)).count()
    assert not [k for k in cache._MEMO if k[1][0].startswith(str(a))]
    assert gone not in _stored(spark)


def test_ngram_family_plans_store_nothing_and_share_one_census(
    spark, sf_small, tmp_path
):
    """Building the three n-gram members' plans writes no cut blocks;
    once they run, the one memoized census is the only new cached
    frame."""
    d = _copy_tables(sf_small, str(tmp_path), ["documents"])
    names = ["dedup_ngram_jaccard", "dedup_containment", "jaccard_threshold_sweep"]
    before = _stored(spark)
    frames = [QUERIES[n](spark, d) for n in names]
    assert _stored(spark) <= before
    for df in frames:
        df.count()
    assert _stored(spark) - before == {_cut_rdd(_ngram_frame(d))}


def test_equal_config_builds_each_memo_frame_once(
    spark, sf_small, tmp_path, monkeypatch
):
    """An equal-valued but distinct EngineConfig shares the n-gram
    intersection frame and the LSH pair frame: each builds once."""
    from data_pipeline__s3_to_postgres_s3_spark.operators import dedup, graph

    d = _copy_tables(sf_small, str(tmp_path), ["documents"])
    other = dataclasses.replace(DEFAULT_CONFIG, holiday_year=1999)
    assert other is not DEFAULT_CONFIG

    counts, lsh = [], []
    real_counts, real_lsh = dedup._ngram_inter_counts, dedup.dedup_minhash_lsh
    monkeypatch.setattr(
        dedup,
        "_ngram_inter_counts",
        lambda docs, cap: counts.append(cap) or real_counts(docs, cap),
    )
    monkeypatch.setattr(
        dedup,
        "dedup_minhash_lsh",
        lambda *a, **k: lsh.append(1) or real_lsh(*a, **k),
    )

    a = dedup.dedup_ngram_jaccard(spark, d)
    b = dedup.dedup_ngram_jaccard(spark, d, other)
    assert counts == [dedup.NGRAM_DF_CAP]
    assert sorted(a.collect()) == sorted(b.collect())

    c = graph.dedup_clusters(spark, d)
    e = graph.dedup_clusters(spark, d, other)
    assert lsh == [1]
    assert sorted(c.collect()) == sorted(e.collect())


def test_script_transform_tables_rebuilds_on_in_place_rewrite(
    spark, sf_small, tmp_path
):
    """The sql_script plans are keyed on every table's file identity: a
    corpus rewritten in place gets new plans that read the new rows."""
    from data_pipeline__s3_to_postgres_s3_spark.catalog import TABLES
    from data_pipeline__s3_to_postgres_s3_spark.pipelines.sql_script import (
        _script_transform_tables,
        script_transform_tables,
    )

    d = _copy_tables(sf_small, str(tmp_path), TABLES)
    first = script_transform_tables(spark, d)
    assert script_transform_tables(spark, d) is first

    _rewrite_in_place(os.path.join(d, "orders.parquet"), keep=lambda n: n // 2)
    again = script_transform_tables(spark, d)
    assert again is not first
    fresh = _script_transform_tables(spark, d)
    for name, df in fresh.items():
        assert Counter(again[name].collect()) == Counter(df.collect()), name
