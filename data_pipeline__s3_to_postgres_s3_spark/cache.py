"""One corpus identity, one process memo, one lineage cut.

Every reuse in the engine (catalog dirtiness probes, similarity index
metadata, the dedup/graph lineage-cut frames, the sql_script plans) is a
pure function of its input files, so it is correct exactly while they
are unchanged; the DuckDB oracles recompute from data, so a stale entry
would hash-red immediately.

``corpus_id`` is the one staleness key: (abspath, st_mtime_ns, st_size)
of every file a pattern matches, a matched directory (a Spark-written
table) contributing every file under it. ``memo`` is the one dict:
``params`` names what the value reads beyond the files, never object
identity. Frame-valued entries (a DataFrame or a dict of them) also
carry the SparkContext applicationId. A new entry for the same kind and
paths with another file identity or application supersedes the old ones;
a miss also drops every entry whose first path is gone (a deleted temp
corpus). A dropped frame has its cut blocks released. An empty identity
(nothing matches, e.g. an object-store URI) is never memoized.

``cut`` is the one lineage cut, always lazy: the first job over the
frame writes its blocks (under AQE, taking the cut already runs the cut
plan's shuffle stages). ``release`` frees them early; Spark's
ContextCleaner reclaims any other cut once its frame is garbage.
"""

from __future__ import annotations

import glob
import os

from pyspark import SparkContext
from pyspark.sql import DataFrame

_MEMO: dict[tuple, tuple] = {}
# Called with each frame before ``cut`` cuts it (plans.checkpoint_audit).
cut_recorders: list = []


def corpus_id(sf_dir: str, pattern: str) -> tuple:
    """Sorted (abspath, st_mtime_ns, st_size) of every file matching
    ``pattern`` under ``sf_dir``; () when nothing matches."""
    root = glob.escape(os.path.abspath(sf_dir))
    files = []
    for p in glob.glob(os.path.join(root, pattern)):
        if os.path.isdir(p):
            files += [os.path.join(r, f) for r, _d, fs in os.walk(p) for f in fs]
        else:
            files.append(p)
    out = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except OSError:  # removed between the glob and the stat
            continue
        out.append((f, st.st_mtime_ns, st.st_size))
    return tuple(out)


def memo(kind: str, cid: tuple, params: tuple, build):
    """``build()``, reused while ``cid`` (and, for frames, the
    SparkContext) is unchanged for this ``(kind, params)``."""
    if not cid:
        return build()
    key = (kind, tuple(p for p, _m, _s in cid), params)
    hit = _MEMO.get(key)
    # The applicationId is a JVM round trip: asked only for frames.
    if hit is not None and hit[0] == cid:
        if hit[1] is None or hit[1] == _app_id():
            return hit[2]
    value = build()
    app = _app_id() if _frames(value) else None
    stale = [
        k
        for k, e in _MEMO.items()
        if (k[:2] == key[:2] and e[:2] != (cid, app)) or not os.path.exists(k[1][0])
    ]
    for k in stale:
        _cid, old_app, old = _MEMO.pop(k)
        # Only in the live context: a dead context's blocks went with it.
        if old_app is not None and old_app == _app_id():
            for df in _frames(old):
                release(df)
    _MEMO[key] = (cid, app, value)
    return value


def _app_id():
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def _frames(value) -> list:
    """The DataFrames a value holds: itself, or a dict's values."""
    vals = value.values() if isinstance(value, dict) else [value]
    return [v for v in vals if isinstance(v, DataFrame)]


def cut(df: DataFrame) -> DataFrame:
    """``df`` with its lineage truncated at the blocks of its first run,
    so every later job over the frame reuses them instead of recomputing
    the plan."""
    for record in cut_recorders:
        record(df)
    return df.localCheckpoint(eager=False)


def release(df: DataFrame) -> None:
    """Unpersist the blocks of a frame ``cut`` returned; any other frame
    is left alone."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
