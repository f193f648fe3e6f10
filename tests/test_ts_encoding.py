"""Timestamp-encoding invariance: every events consumer must return
IDENTICAL results whatever physical layout the producer wrote for ``ts``.

Round 3 post-mortem: the driver re-encoded events.parquet from
TIMESTAMP(NANOS)-as-int64 to timestamp[us] (TIMESTAMP_NTZ to Spark) and six
queries silently broke — the streaming reader's hardcoded LongType schema
reinterpreted micros as nanos (every timestamp shrank 1000×) and
``unix_micros`` rejected NTZ outright. This module rewrites the same 1000
events in all three encodings and pins result equality across them for the
batch AND streaming consumers, so a driver-side re-encode can never again
split the engine into per-encoding behaviors.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline__s3_to_postgres_s3_spark.catalog import load_events
from data_pipeline__s3_to_postgres_s3_spark.operators.events_analytics import (
    active_users_rolling,
    conversion_latency_stats,
    event_transition_matrix,
    funnel_conversion,
    retention_cohorts,
    top_session_paths,
)
from data_pipeline__s3_to_postgres_s3_spark.operators.temporal import (
    error_bursts_range,
    events_gapfill_locf,
    purchase_last_view_asof,
    purchases_pit_stage,
)
from data_pipeline__s3_to_postgres_s3_spark.operators.profiling import (
    profile_events,
)
from data_pipeline__s3_to_postgres_s3_spark.operators.windows import (
    event_type_hourly,
    events_ohlc,
    events_sessionized,
)
from data_pipeline__s3_to_postgres_s3_spark.streaming import (
    stream_dedup_events,
    stream_funnel_stage,
    stream_ohlc,
    stream_hourly_rollup,
    stream_static_enrich,
    stream_user_running_max,
    stream_view_purchase_join,
)

ENCODINGS = ("nanos_int64", "micros_ntz", "micros_utc")


@pytest.fixture(scope="module")
def encoded_dirs(spark, sf_small, tmp_path_factory):
    """The sf0.001 events table re-encoded three ways, one directory each
    (the queries take an sf_dir containing events.parquet)."""
    # Read once via the engine loader (LTZ, UTC session) then down-convert.
    pdf = load_events(spark, sf_small).toPandas()
    # toPandas under a UTC session yields tz-naive datetime64[us] wall-clock
    # values; treat them as UTC instants for the tz-adjusted variant.
    naive = pdf["ts"]
    dirs: dict[str, str] = {}
    variants = {
        "nanos_int64": pa.array(
            naive.astype("datetime64[ns]").astype("int64"), type=pa.int64()
        ),
        "micros_ntz": pa.array(naive.astype("datetime64[us]")),
        "micros_utc": pa.array(
            naive.dt.tz_localize("UTC"), type=pa.timestamp("us", tz="UTC")
        ),
    }
    base = tmp_path_factory.mktemp("ts_encodings")
    for name, ts_arr in variants.items():
        cols = {c: pa.array(pdf[c]) for c in pdf.columns if c != "ts"}
        table = pa.table({**cols, "ts": ts_arr}).select(list(pdf.columns))
        d = base / name
        d.mkdir()
        pq.write_table(table, str(d / "events.parquet"))
        # static dims alongside, for stream-static joins (the events* glob
        # keeps them out of the stream source).
        shutil.copy(f"{sf_small}/customer.parquet", str(d / "customer.parquet"))
        dirs[name] = str(d)
    return dirs


def _rows(df):
    return sorted(
        tuple(str(v) for v in row) for row in (r for r in df.collect())
    )


@pytest.mark.parametrize(
    "query",
    [
        load_events,
        event_type_hourly,
        events_ohlc,
        events_sessionized,
        profile_events,
        error_bursts_range,
        events_gapfill_locf,
        purchase_last_view_asof,
        purchases_pit_stage,
        active_users_rolling,
        conversion_latency_stats,
        event_transition_matrix,
        funnel_conversion,
        retention_cohorts,
        top_session_paths,
        stream_hourly_rollup,
        stream_user_running_max,
        stream_dedup_events,
        stream_funnel_stage,
        stream_ohlc,
        stream_view_purchase_join,
        stream_static_enrich,
    ],
    ids=lambda f: f.__name__,
)
def test_encoding_invariance(spark, encoded_dirs, query):
    results = {
        name: _rows(query(spark, d)) for name, d in encoded_dirs.items()
    }
    ref = results["micros_ntz"]
    assert len(ref) > 0
    for name in ENCODINGS:
        assert results[name] == ref, f"{query.__name__} differs under {name}"


def test_loader_always_yields_ltz(spark, encoded_dirs):
    """Every consumer downstream assumes TIMESTAMP (LTZ) — pin the dtype."""
    for name, d in encoded_dirs.items():
        dt = dict(load_events(spark, d).dtypes)["ts"]
        assert dt == "timestamp", f"{name}: ts is {dt}, want timestamp"


def test_load_table_reads_nanos_events_without_caller_conf(
    spark, sf_small, tmp_path
):
    """load_table sets the nanosAsLong legacy conf itself for events, so a
    TIMESTAMP(NANOS) ts reads whoever the caller is."""
    from data_pipeline__s3_to_postgres_s3_spark.catalog import load_table

    t = pq.read_table(f"{sf_small}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns", tz="UTC")))
    pq.write_table(t, str(tmp_path / "events.parquet"), version="2.6")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert _rows(ev) == _rows(load_events(spark, sf_small))


# ---------------------------------------------------------------------------
# Same philosophy for the embeddings table: the driver may re-encode
# array<float> as array<double>; every similarity operator casts element-wise
# before arithmetic, so results must be IDENTICAL... provided the float32
# values are preserved exactly (float->double widening is lossless).
# ---------------------------------------------------------------------------


def test_embedding_dtype_invariance(spark, sf_small, tmp_path):
    from data_pipeline__s3_to_postgres_s3_spark.operators.similarity import (
        embedding_kmeans,
        similarity_bruteforce_topk,
        similarity_ivf_topk,
    )

    src = f"{sf_small}/embeddings.parquet"
    t = pq.read_table(src)
    idx = t.schema.get_field_index("embedding")
    widened = t.set_column(
        idx,
        "embedding",
        t.column("embedding").cast(pa.list_(pa.float64())),
    )
    d = tmp_path / "emb64"
    d.mkdir()
    pq.write_table(widened, str(d / "embeddings.parquet"))

    for query in (similarity_bruteforce_topk, similarity_ivf_topk, embedding_kmeans):
        a = _rows(query(spark, sf_small))
        b = _rows(query(spark, str(d)))
        assert a == b, f"{query.__name__} differs under float64 embeddings"
        assert len(a) > 0


# ---------------------------------------------------------------------------
# Third drift domain: the documents table. A producer may narrow integer
# columns (int32) or use arrow large_string for text; operator VALUES must
# not change (output dtypes follow the input, which is fine — the driver
# reads both sides from the same file).
# ---------------------------------------------------------------------------


def test_documents_dtype_invariance(spark, sf_small, tmp_path):
    from data_pipeline__s3_to_postgres_s3_spark.operators.dedup import (
        dedup_exact,
    )
    from data_pipeline__s3_to_postgres_s3_spark.operators.sampling import (
        dataset_split,
    )
    from data_pipeline__s3_to_postgres_s3_spark.operators.textops import (
        text_quality,
        winnow_fingerprints,
    )

    t = pq.read_table(f"{sf_small}/documents.parquet")
    narrowed = t
    for name, typ in (
        ("doc_id", pa.int32()),
        ("n_chars", pa.int32()),
        ("text", pa.large_string()),
    ):
        idx = narrowed.schema.get_field_index(name)
        narrowed = narrowed.set_column(
            idx, name, narrowed.column(name).cast(typ)
        )
    d = tmp_path / "docs_narrow"
    d.mkdir()
    pq.write_table(narrowed, str(d / "documents.parquet"))

    for query in (dataset_split, dedup_exact, text_quality, winnow_fingerprints):
        a = _rows(query(spark, sf_small))
        b = _rows(query(spark, str(d)))
        assert a == b, f"{query.__name__} differs under narrowed documents"
        assert len(a) > 0
