"""Folds a run into its metrics, with the standard library only.

``end_to_end`` turns the measuring process's step records into the
end-to-end metrics. ``per_layer`` folds Spark's uncompressed event log, the
job-group tags the benchmark set around each step, and the streaming
progress records into the per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics

PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at least
    ten samples beyond it. Below 20 samples that percentile would not
    reach the median, so the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10  # 1-based: exactly ten samples lie above this one
    if 100.0 * rank / n < 50.0:
        return xs[-1], 100.0, n
    return xs[rank - 1], 100.0 * rank / n, n


def op_latencies(records: list[dict]) -> tuple[list[float], int, int]:
    """(latencies of successful operations, attempted, failed). A step
    that failed counts each of its operations as failed, or one if it
    failed before yielding any."""
    lat, attempted, failed = [], 0, 0
    for rec in records:
        ops = rec.get("ops") or [rec["end"] - rec["start"]]
        attempted += len(ops)
        if rec["ok"]:
            lat += ops
        else:
            failed += len(ops)
    return lat, attempted, failed


def wall_s(records: list[dict]) -> float:
    """First operation start to last operation end."""
    return max(r["end"] for r in records) - min(r["start"] for r in records)


def end_to_end(records: list[dict], setups: list[float], input_rows: int, cpu_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, details) of one measuring run."""
    lat, attempted, failed = op_latencies(records)
    wall = wall_s(records)
    tail_v, tail_p, n = tail(lat) if lat else (0.0, 100.0, 0)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (input_rows / wall, "rows/s"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "ok_ratio": (1.0 - failed / attempted, "1"),
    }
    details = {
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "op_tail_percentile": round(tail_p, 2),
        "op_samples": n,
        "input_rows": input_rows,
        "setup_samples_s": setups,
    }
    return metrics, details


# --------------------------------------------------------------------------
# Event log.


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) event-log file under log_dir,
    in file-name then line order; handles the single-file and the rolling
    directory layouts."""
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files if not f.startswith(".")]
    events = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _walk_plan(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _walk_plan(child)


def fold_event_log(events: list[dict], t_start_ms: float, t_end_ms: float) -> dict:
    """Job, stage, task and SQL-execution totals for jobs submitted inside
    the [t_start_ms, t_end_ms] window."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql_start: dict[int, float] = {}
    python_row_accs: set[int] = set()
    tasks = []
    n_stages = 0
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "time": ev.get("Submission Time", 0),
                "group": props.get("spark.jobGroup.id"),
                "execution": props.get("spark.sql.execution.id"),
            }
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = ev["Job ID"]
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if kind.endswith("Start"):
                sql_start[ev["executionId"]] = ev["time"]
            for node in _walk_plan(ev.get("sparkPlanInfo") or {}):
                if any(m in node.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
                    for metric in node.get("metrics", ()):
                        if metric.get("name") == "number of output rows":
                            python_row_accs.add(metric["accumulatorId"])
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None and t_start_ms <= jobs[job]["time"] <= t_end_ms:
                n_stages += 1
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    in_window = {j for j, info in jobs.items() if t_start_ms <= info["time"] <= t_end_ms}
    out = {
        "jobs": len(in_window),
        "stages": n_stages,
        "tasks": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "python_rows": 0,
        "build_jobs": sum(1 for j in in_window if (jobs[j]["group"] or "").endswith(":build")),
        "sql_start_ms": sql_start,
        "exec_groups": {},
    }
    for j in in_window:
        group, execution = jobs[j]["group"], jobs[j]["execution"]
        if group and group.endswith(":exec") and execution is not None:
            out["exec_groups"].setdefault(group, set()).add(int(execution))
    for ev in tasks:
        job = stage_job.get(ev.get("Stage ID"))
        if job not in in_window:
            continue
        m = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["cpu_ns"] += m.get("Executor CPU Time", 0)
        out["gc_ms"] += m.get("JVM GC Time", 0)
        out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if acc.get("ID") in python_row_accs:
                out["python_rows"] += int(acc.get("Update") or 0)
    return out


# --------------------------------------------------------------------------
# Per-layer metrics.


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _progress_epoch_s(timestamp: str) -> float:
    return dt.datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


def per_layer(result: dict, log: dict, cores: int, ann: dict, untraced_wall_s: float, wall_s: float) -> dict:
    """Per-layer metrics of one traced run: (value, unit) by name."""
    recs = [r for r in result["records"] if r["ok"]]
    queries = [r for r in recs if r["kind"] == "query"]
    elts = [r for r in recs if r["kind"] == "elt"]
    streams = [r for r in recs if r["kind"] == "stream"]
    batches = [b for r in streams for b in r["batches"]]

    plan_s = []
    for r in queries:
        execs = log["exec_groups"].get(f"op{r['i']}:exec", ())
        starts = [log["sql_start_ms"][e] for e in execs if e in log["sql_start_ms"]]
        if starts:
            plan_s.append(max(0.0, min(starts) / 1000.0 - r["exec_wall_start"]))

    revisited = {r["name"] for r in queries if r["visit"] > 0}
    first = sum(r["build_s"] for r in queries if r["name"] in revisited and r["visit"] == 0)
    again = sum(r["build_s"] for r in queries if r["visit"] > 0)
    exec_wall = sum(r["exec_s"] for r in queries) + sum(r["end"] - r["start"] for r in elts + streams)

    def dur(key: str) -> float:
        return _median([b["duration_ms"].get(key, 0) for b in batches])

    def state(key: str) -> float:
        per_batch = [sum(s[key] for s in b["state"]) for b in batches]
        return max(per_batch, default=0)

    def stage(key: str) -> float:
        return _median([r["stages_s"][key] for r in elts])

    storage = result.get("storage_mb") or [0.0]
    metrics = {
        "session.start_s": (result["session_start_s"], "s"),
        "session.warmup_s": (result["warmup_s"], "s"),
        "registry.build_s": (sum(r["build_s"] for r in queries), "s"),
        "registry.build_jobs": (log["build_jobs"], "count"),
        "registry.exec_s": (sum(r["exec_s"] for r in queries), "s"),
        "catalyst.plan_s": (sum(plan_s), "s"),
        "exec.jobs": (log["jobs"], "count"),
        "exec.stages": (log["stages"], "count"),
        "exec.tasks": (log["tasks"], "count"),
        "exec.cpu_eff": (log["cpu_ns"] / 1e9 / (exec_wall * cores) if exec_wall else 0.0, "1"),
        "exec.shuffle_mb": (log["shuffle_bytes"] / 1e6, "MB"),
        "exec.spill_mb": (log["spill_bytes"] / 1e6, "MB"),
        "exec.gc_s": (log["gc_ms"] / 1000.0, "s"),
        "exec.python_rows": (log["python_rows"], "count"),
        "cache.storage_mb_peak": (max(storage), "MB"),
        "cache.storage_mb_end": (storage[-1], "MB"),
        "cache.revisit_build_ratio": (again / first if first else 0.0, "1"),
        "similarity.ann_s": (sum(r["end"] - r["start"] for r in queries if r["name"].startswith("ann_")), "s"),
        "similarity.ann_disk_mb": (ann["bytes"] / 1e6, "MB"),
        "similarity.ann_dirs": (ann["dirs"], "count"),
        "streaming.start_s": (
            _median([_progress_epoch_s(r["batches"][0]["timestamp"]) - r["call_wall_start"] for r in streams]),
            "s",
        ),
        "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.plan_ms": (dur("queryPlanning"), "ms"),
        "streaming.commit_ms": (dur("commitOffsets"), "ms"),
        "streaming.state_rows": (state("rows"), "count"),
        "streaming.state_mb": (state("bytes") / 1e6, "MB"),
        "streaming.dropped_by_watermark": (sum(s["dropped"] for b in batches for s in b["state"]), "count"),
        "elt.extract_s": (stage("extract"), "s"),
        "elt.load_s": (stage("load"), "s"),
        "elt.transform_s": (stage("transform"), "s"),
        "elt.export_s": (stage("export"), "s"),
        "elt.keep_ratio": (0.0, "1"),
        "elt.rows_quarantined": (0, "count"),
        "elt.stored_per_input": (0.0, "1"),
        "trace.overhead_s": (wall_s - untraced_wall_s, "s"),
    }
    metrics.update({k: tuple(v) for k, v in result.get("elt_counts", {}).items()})
    return metrics
