"""Tests of the benchmark's own pieces: the tail-percentile rule, the
event-log fold, the workload plans and the generator's determinism.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fold  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


# --------------------------------------------------------------------------
# op_tail_s: the highest percentile with at least ten samples beyond it.


def test_tail_has_ten_samples_beyond_it():
    value, pct, n = fold.tail([float(x) for x in range(30, 0, -1)])
    assert (value, n) == (20.0, 30)
    assert pct == pytest.approx(100.0 * 20 / 30)


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct, n = fold.tail([float(x) for x in range(1, 21)])
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_below_twenty_samples_is_the_maximum():
    assert fold.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert fold.tail([float(x) for x in range(19)]) == (18.0, 100.0, 19)


def test_end_to_end_counts_failed_operations():
    records = [
        {"start": 0.0, "end": 1.0, "ok": True, "ops": [1.0]},
        {"start": 1.0, "end": 4.0, "ok": True, "ops": [1.0, 2.0]},
        {"start": 4.0, "end": 5.0, "ok": False, "ops": [1.0]},
    ]
    metrics, details = fold.end_to_end(records, [2.0, 4.0, 3.0], 100, 7.0, 50.0)
    assert metrics["setup_s"] == (3.0, "s")
    assert metrics["wall_s"] == (5.0, "s")
    assert metrics["op_p50_s"] == (1.0, "s")
    assert metrics["rows_per_s"] == (20.0, "rows/s")
    assert metrics["ok_ratio"] == (0.75, "1")
    assert (details["attempted"], details["failed"], details["failed_ratio"]) == (4, 1, 0.25)


# --------------------------------------------------------------------------
# Event-log fold on a small canned log.

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _job(job_id, t, group, execution, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": t,
        "Stage IDs": stages,
        "Properties": props,
    }


def _task(stage, cpu_ns, gc_ms, shuffle, spill, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": a, "Update": u} for a, u in accs]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
        },
    }


CANNED_LOG = [
    # Before the window: the warm-up job, which the fold must ignore.
    _job(0, 500, None, 0, [0]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(0, 9_000_000_000, 900, 9, 9),
    # A build-time job and an execution with a Python node.
    _job(1, 1_100, "op0:build", None, [1]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    _task(1, 1_000_000_000, 10, 0, 0),
    {
        "Event": SQL_START,
        "executionId": 7,
        "time": 1_250,
        "sparkPlanInfo": {
            "nodeName": "Project",
            "metrics": [{"name": "number of output rows", "accumulatorId": 40}],
            "children": [
                {
                    "nodeName": "ArrowEvalPython",
                    "metrics": [{"name": "number of output rows", "accumulatorId": 41}],
                    "children": [],
                }
            ],
        },
    },
    _job(2, 1_300, "op0:exec", 7, [2, 3]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    _task(2, 2_000_000_000, 20, 1_000_000, 0, accs=[(41, 5), (40, 99)]),
    _task(3, 500_000_000, 5, 0, 2_000_000, accs=[(41, "7")]),
]


def test_fold_counts_only_jobs_inside_the_window():
    out = fold.fold_event_log(CANNED_LOG, 1_000, 2_000)
    assert (out["jobs"], out["stages"], out["tasks"]) == (2, 3, 3)
    assert out["cpu_ns"] == 3_500_000_000
    assert out["gc_ms"] == 35
    assert out["shuffle_bytes"] == 1_000_000
    assert out["spill_bytes"] == 2_000_000
    assert out["build_jobs"] == 1
    assert out["python_rows"] == 12
    assert out["exec_groups"] == {"op0:exec": {7}}
    assert out["sql_start_ms"] == {7: 1_250}


def test_read_event_log_reads_rolling_directory(tmp_path):
    log_dir = tmp_path / "eventlog_v2_app"
    log_dir.mkdir()
    half = len(CANNED_LOG) // 2
    for i, chunk in enumerate((CANNED_LOG[:half], CANNED_LOG[half:])):
        (log_dir / f"events_{i + 1}_app").write_text("\n".join(json.dumps(e) for e in chunk) + "\n")
    (log_dir / ".hidden").write_text("not json")
    assert fold.read_event_log(str(tmp_path)) == CANNED_LOG


def test_per_layer_folds_streaming_and_elt_records():
    batch = {
        "timestamp": "2024-01-01T00:00:02.000Z",
        "duration_ms": {"triggerExecution": 300, "addBatch": 200, "queryPlanning": 20, "commitOffsets": 5},
        "state": [{"rows": 10, "bytes": 2_000_000, "dropped": 0}],
    }
    t0 = 1_704_067_200.0  # 2024-01-01T00:00:00Z
    result = {
        "session_start_s": 8.0,
        "warmup_s": 4.0,
        "records": [
            {"kind": "stream", "ok": True, "start": 0.0, "end": 1.0, "call_wall_start": t0, "batches": [batch, batch]},
            {"kind": "elt", "ok": True, "start": 1.0, "end": 3.0,
             "stages_s": {"extract": 0.1, "load": 0.5, "transform": 1.0, "export": 0.4}},
        ],
        "elt_counts": {"elt.keep_ratio": [0.9, "1"]},
    }
    log = fold.fold_event_log(CANNED_LOG, 1_000, 2_000)
    m = fold.per_layer(result, log, 4, {"bytes": 0, "dirs": 0}, 10.0, 10.5)
    assert m["streaming.start_s"] == (2.0, "s")
    assert m["streaming.trigger_ms"] == (300, "ms")
    assert m["streaming.state_mb"] == (2.0, "MB")
    assert m["elt.transform_s"] == (1.0, "s")
    assert m["elt.keep_ratio"] == (0.9, "1")
    assert m["trace.overhead_s"] == (0.5, "s")
    assert m["exec.cpu_eff"][0] == pytest.approx(3.5 / (3.0 * 4))


# --------------------------------------------------------------------------
# Workload plans and the generator.


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_plan_is_seeded(workload):
    assert workloads.plan(workload, 3) == workloads.plan(workload, 3)


def test_query_mix_revisits_follow_first_visits():
    a, b = workloads.plan("query_mix", 1), workloads.plan("query_mix", 2)
    assert [s["name"] for s in a] != [s["name"] for s in b]
    for steps in (a, b):
        seen = {}
        for s in steps:
            key = (s["name"], s["corpus"])
            assert s["visit"] == seen.get(key, 0)
            seen[key] = s["visit"] + 1


def test_query_mix_runs_each_warehouse_query_once_and_the_ann_query_twice():
    for seed in range(5):
        names = [s["name"] for s in workloads.plan("query_mix", seed)]
        assert sorted(n for n in names if n != workloads.ANN_QUERY) == sorted(workloads.WAREHOUSE_QUERIES)
        assert names.count(workloads.ANN_QUERY) == 2


def test_query_tables_are_the_tables_each_oracle_reads():
    sys.path.insert(0, run.REPO)
    from data_pipeline__s3_to_postgres_s3_spark.registry import ORACLES

    corpus = set(gen.STAR_TABLES) | {"documents", "embeddings"}
    for name, tables in workloads.QUERY_TABLES.items():
        read = {t for t in corpus if re.search(rf"\b{t}\b", ORACLES[name])}
        assert set(tables) == read, name


def test_input_rows_counts_what_each_step_reads():
    shape = {
        "tables": {t: {"rows": n} for t, n in
                   (("lineitem", 100), ("orders", 10), ("embeddings", 5), ("documents", 3))},
        "elt_batches": [{"rows": {"orders": 4, "reviews": 6}}, {"rows": {"orders": 1}}],
    }
    steps = [
        {"kind": "query", "name": "agg_shipments", "corpus": "star", "visit": 0},
        {"kind": "query", "name": workloads.ANN_QUERY, "corpus": "star", "visit": 0},
        {"kind": "elt", "visit": 0},
        {"kind": "elt", "visit": 1},
        {"kind": "stream", "name": "stream_minhash_dedup", "corpus": "docs", "visit": 0},
    ]
    assert run.input_rows(steps, shape) == 110 + 5 + 10 + 1 + 3


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, out: str) -> None:
    tables = gen.star_tables(seed, 0.0005)
    tables["documents"] = gen.documents_table(seed, 60, 0.2)
    tables["embeddings"] = gen.embeddings_table(seed, 60, 0.2)
    gen.write_corpus(os.path.join(out, "corpus"), tables)
    gen.split_drop(tables["events"], "ts", 3, os.path.join(out, "drop"), "events")
    gen.elt_batches(seed, tables, 2, 0.1, 0.05, os.path.join(out, "elt"))


def test_same_seed_gives_same_bytes(tmp_path):
    _write_all(11, str(tmp_path / "a"))
    _write_all(11, str(tmp_path / "b"))
    _write_all(12, str(tmp_path / "c"))
    a, b, c = (_tree_digest(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generator_plants_duplicates():
    docs = gen.documents_table(5, 100, 0.2).column("text").to_pylist()
    assert len(set(docs)) < len(docs)
    vecs = gen.embeddings_table(5, 100, 0.2).column("embedding").to_pylist()
    import numpy as np

    v = np.array(vecs)
    sims = v @ v.T - np.eye(len(v)) * 2
    assert (sims.max(axis=1) > 0.99).sum() >= 10


def test_elt_batches_resend_keyed_rows(tmp_path):
    tables = gen.star_tables(2, 0.0005)
    shape = gen.elt_batches(2, tables, 2, 0.1, 0.0, str(tmp_path))
    assert shape[0]["resent"] == {"orders": 0, "shipment_deliveries": 0, "reviews": 0}
    assert shape[1]["resent"]["orders"] > 0 and shape[1]["resent"]["reviews"] == 0


def test_benchmark_json_names_the_metrics_the_fold_reports():
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    records = [{"start": 0.0, "end": 1.0, "ok": True, "ops": [1.0], "kind": "elt",
                "stages_s": dict.fromkeys(("extract", "load", "transform", "export"), 0.25)}]
    e2e, _ = fold.end_to_end(records, [1.0], 1, 1.0, 1.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: u for k, (_v, u) in e2e.items()}
    result = {"session_start_s": 1.0, "warmup_s": 1.0, "records": records}
    layer = fold.per_layer(result, fold.fold_event_log([], 0, 1), 4, {"bytes": 0, "dirs": 0}, 1.0, 1.0)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (_v, u) in layer.items()}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
