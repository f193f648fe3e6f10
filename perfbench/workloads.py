"""Workload definitions: what each benchmark workload runs, in which
seeded order, over which generated inputs.

A *step* is one call into the package. A query step is one operation; an
ELT step is one operation (one incremental batch); a stream step yields
one operation per micro-batch.
"""

from __future__ import annotations

import random

# Registry queries over the star-schema corpus, each run once, so per-query
# fixed cost (catalog probes, frame construction, planning, job launch)
# dominates: one from each of the thirteen families of the warehouse
# surface, and a second, short one from each of the four largest
# (relational, windows, profiling, events_analytics). Most of these queries
# take well under a second, so the median operation lies among many
# distinct short queries, and one slow call moves it little; with one
# query per family it fell between the short and the long ones and jumped
# with every slow call. More queries did not fit the run time. Each query
# maps to the corpus tables its DuckDB oracle reads: the input rows it
# consumes.
WAREHOUSE_QUERIES = {
    "pricing_summary": ("lineitem",),  # relational
    "cube_orders": ("orders",),  # relational
    "customer_revenue_deciles": ("customer", "nation", "orders"),  # windows
    "events_running_totals": ("events",),  # windows
    "funnel_conversion": ("events",),  # events_analytics
    "conversion_latency_stats": ("events",),  # events_analytics
    "profile_orders": ("orders",),  # profiling
    "profile_documents": ("documents",),  # profiling
    "purchase_last_view_asof": ("events",),  # temporal
    "incremental_load_watermark": ("orders",),  # watermark
    "best_performing_product": ("lineitem", "orders", "part"),  # best_product
    "agg_shipments": ("lineitem", "orders"),  # shipments
    "agg_public_holiday": ("orders",),  # public_holiday
    "tripdata_monthly_metrics": ("events",),  # tripdata
    "sql_script_public_holiday": ("orders",),  # sql_script
    "salted_brand_revenue": ("lineitem", "part"),  # skew
    "cdc_merge_customers": ("customer",),  # cdc
}

# The ANN query runs twice over the same corpus: the first visit trains
# the index and writes its on-disk artifact, the revisit serves from it
# (and from the in-process index-metadata memo).
ANN_QUERY = "ann_index_topk"
QUERY_TABLES = {**WAREHOUSE_QUERIES, ANN_QUERY: ("embeddings",)}

# Stream queries whose multi-batch result is pinned equal to the batch
# result, run with max_files_per_trigger=1 over time-ordered file drops.
EVENT_STREAMS = ("stream_hourly_rollup",)
DOC_STREAMS = ("stream_minhash_dedup",)

WORKLOADS = ("query_mix", "ingest_mix")

# Generated input sizes per workload.
SIZES = {
    "query_mix": {
        "star_sf": 0.002,  # 3k orders, 12k lineitem, 2k events
        "docs": 200,
        "vecs": 200,
        "dup_share": 0.1,
    },
    "ingest_mix": {
        "star_sf": 0.002,  # ELT views (3k orders, 12k shipments) and 2k events
        "docs": 200,
        "vecs": 200,
        "dup_share": 0.1,
        "elt_batches": 2,  # the plan below runs exactly two
        "resend_share": 0.1,
        "corrupt_share": 0.01,
        # Micro-batches per stream. The documents stream has most of them,
        # so the median operation is one of its steady-state batches: their
        # latency moves far less with host CPU steal than that of the
        # events stream's short batches.
        "event_files": 3,
        "doc_files": 5,
    },
}


def plan(workload: str, seed: int) -> list[dict]:
    """The step order of one pass.

    query_mix: the warehouse queries in a seeded order, with the ANN
    query's two visits at seeded positions among them. ingest_mix: a fixed
    order (ELT batch, events stream, ELT batch, documents stream), so the
    seed varies only the data."""
    if workload == "query_mix":
        steps = [{"kind": "query", "name": q, "corpus": "star"} for q in WAREHOUSE_QUERIES]
        rng = random.Random(seed)
        rng.shuffle(steps)
        ann = {"kind": "query", "name": ANN_QUERY, "corpus": "star"}
        for pos in sorted(rng.sample(range(len(steps) + 2), 2)):
            steps.insert(pos, ann)
    elif workload == "ingest_mix":
        steps = [
            {"kind": "elt"},
            *({"kind": "stream", "name": s, "corpus": "events"} for s in EVENT_STREAMS),
            {"kind": "elt"},
            *({"kind": "stream", "name": s, "corpus": "docs"} for s in DOC_STREAMS),
        ]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    seen: dict[tuple, int] = {}
    out = []
    for i, step in enumerate(steps):
        key = (step["kind"], step.get("name"), step.get("corpus"))
        out.append(dict(step, i=i, visit=seen.get(key, 0)))
        seen[key] = seen.get(key, 0) + 1
    return out
