"""One corpus identity and one process memo.

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
a superseded ``localCheckpoint`` frame has its blocks unpersisted. An
empty identity (nothing matches, e.g. an object-store URI) is never
memoized.
"""

from __future__ import annotations

import glob
import os

from pyspark import SparkContext
from pyspark.sql import DataFrame

_MEMO: dict[tuple, tuple] = {}


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
    stale = [k for k, e in _MEMO.items() if k[:2] == key[:2] and e[:2] != (cid, app)]
    for k in stale:
        _release(_MEMO.pop(k), app)
    _MEMO[key] = (cid, app, value)
    return value


def _app_id():
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def _frames(value) -> list:
    """The DataFrames a value holds: itself, or a dict's values."""
    vals = value.values() if isinstance(value, dict) else [value]
    return [v for v in vals if isinstance(v, DataFrame)]


def _release(entry: tuple, app) -> None:
    """Unpersist the blocks of every superseded checkpoint frame — only
    in the live context; a dead context's blocks went with it."""
    _cid, entry_app, value = entry
    if entry_app is None or entry_app != app:
        return
    for df in _frames(value):
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
