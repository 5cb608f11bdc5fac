"""Eager localCheckpoint, and one owner for the blocks a registry build
pins.

Why this exists: ``df.localCheckpoint(eager=True)`` truncates lineage and
caches the partitions — but the cached blocks are the ONLY copy, so Spark
can never evict them under memory pressure, and PySpark offers no public
handle to free them (``DataFrame.unpersist`` only covers cacheManager
entries). Repeated calls to a checkpoint-using query therefore ACCUMULATE
non-evictable blocks until the JVM GC-locks: measured at sf10,
back-to-back ``q_pagerank`` calls crashed the second run, and at sf1
back-to-back ``q_dedup_clusters`` calls degraded 83 s -> 121 s with
GCLocker thrash (BASELINE.md round-5 notes). Spark's ContextCleaner does
not help: it did not free ``localCheckpoint`` blocks after every Python
reference was dropped and ``System.gc()`` ran, so the release has to be
explicit.

Owner rule: every registry build (``registry_build``, entered by
``registry.wrapped``) gets a ``Build`` record. ``eager_checkpoint``
records the checkpoint's JVM RDD and ``persist`` the persisted frame's
JVM Dataset into the current record; the wrapper hands the record the
frame the build returned, kept only as a weak reference. At the start
of each later registry build, a record is released (every handle
``unpersist(False)``, best-effort) once its build has returned AND its
result's weak reference is dead. A build that raises releases its
record on exit; a running build, or one whose result is still
reachable, is never released. So "build A, build B, collect A" and
registry builds on concurrent threads keep their blocks, while
sequential build-and-consume loops still free each build's blocks at
the next build. Release waits for the next build instead of running in
a finalizer on the result: the result's weak reference dies while
``result.orderBy(...)`` is still alive.

Contract: a frame DERIVED from a registry result must be consumed
before the next registry build if the result itself has been dropped.

Checkpoints and persisted frames created outside a registry build (the
public CellTable API, e.g. ``dedup_clusters`` -> connected_components)
are NOT recorded: they follow stock localCheckpoint/persist lifetime,
so no registry build can free blocks backing an API-returned frame.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


# (application id, rdd id) -> stable key of the plan the checkpoint
# replaced. Lets a statistics cache recognise "the same logical input,
# checkpointed again on a later build" without trusting the checkpoint
# RDD's identity. The application-id half of the key is load-bearing
# (r15 ADVICE medium): RDD ids restart from 0 when a SparkContext is
# replaced, so a bare rdd-id key could resolve a NEW context's
# checkpoint to the OLD source's stable key and return a stale vocab
# size — which mis-sizes the Jaccard bitmap, a correctness failure, not
# a strategy one. With the app id in the key, entries from a dead
# context can never match; they age out via the size-capped clear().
RDD_SOURCE_HASH: dict[tuple[str, int], object] = {}
_RDD_SOURCE_HASH_MAX = 1024


def _app_id(df: DataFrame) -> str:
    try:
        return df.sparkSession.sparkContext.applicationId
    except Exception:  # pragma: no cover - context already stopped
        return ""


def stable_plan_key(df: DataFrame):
    """A cache key for df's logical plan that is stable across repeated
    builds of the same query, including plans that sit ON TOP of an eager
    checkpoint (whose LogicalRDD leaf re-identifies on every build and so
    poisons a raw semanticHash).

    Shape: (sha1 of normalized analyzed-plan text, per-LogicalRDD source
    keys). Expression ids are normalized out of the text before hashing
    (the digest bounds per-entry memory — r15 VERDICT noted multi-KB plan
    strings piling up in _VOCAB_STATS); every LogicalRDD leaf is resolved
    through RDD_SOURCE_HASH to the stable key of the plan its checkpoint
    replaced — recursively, so a pipeline of chained checkpoints still
    keys on the original scans. An RDD leaf this engine did not
    checkpoint keeps its raw (application id, per-build rdd id) in the
    key: an unknown input degrades to cache-miss, never to a collision,
    because a wrong hit could mis-size a bitmap, not just mis-pick a
    strategy."""
    import hashlib
    import re

    h = getattr(df, "_cb_semantic_hash", None)
    if h is not None:
        return h
    analyzed = df._jdf.queryExecution().analyzed()
    txt = re.sub(r"#\d+", "#", analyzed.toString())
    app = _app_id(df)
    leaves = analyzed.collectLeaves()
    resolved = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            rid = int(leaf.rdd().id())
            resolved.append(RDD_SOURCE_HASH.get((app, rid), ("rdd", app, rid)))
    return (hashlib.sha1(txt.encode()).hexdigest(), tuple(resolved))


class Build:
    """What one registry build pinned: JVM handles (checkpoint RDDs and
    persisted Datasets, both freed by ``unpersist(False)``) and a weak
    reference to the frame the build returned (None while it runs)."""

    __slots__ = ("handles", "result")

    def __init__(self) -> None:
        self.handles: list = []
        self.result = None

    def returned(self, df: DataFrame) -> DataFrame:
        self.result = weakref.ref(df)
        return df

    def _release(self) -> None:
        for h in self.handles:
            try:
                h.unpersist(False)
            except Exception:  # pragma: no cover - session already stopped
                pass
        self.handles.clear()


# Records of registry builds not yet released, guarded by _BUILDS_LOCK.
# The current build is context-local, so a checkpoint made on another
# thread (API surface or a concurrent build) lands in its own record.
_BUILDS: list[Build] = []
_BUILDS_LOCK = threading.Lock()
_CURRENT: ContextVar[Build | None] = ContextVar("cellbase_ckpt_build", default=None)


@contextmanager
def registry_build():
    """Scope one registry build: release the records of earlier builds
    whose results are gone, then yield this build's record. The caller
    passes the build's result to ``Build.returned``."""
    build = Build()
    with _BUILDS_LOCK:
        gone = [b for b in _BUILDS if b.result is not None and b.result() is None]
        for b in gone:
            _BUILDS.remove(b)
        _BUILDS.append(build)
    for b in gone:
        b._release()
    token = _CURRENT.set(build)
    try:
        yield build
    except BaseException:
        with _BUILDS_LOCK:
            _BUILDS.remove(build)
        build._release()
        raise
    finally:
        _CURRENT.reset(token)


def pinned() -> int:
    """Checkpoint handles plus persisted frames held by unreleased
    registry builds."""
    with _BUILDS_LOCK:
        return sum(len(b.handles) for b in _BUILDS)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` — evictable, lineage kept — and,
    inside a registry build, recorded so the build's record releases it."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    build = _CURRENT.get()
    if build is not None:
        build.handles.append(out._jdf)
    return out


def eager_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``; record the block handle in the
    current registry build's record (API-created checkpoints are never
    recorded — see module docstring).

    ``eager=False`` defers materialization to the caller's FIRST action
    on the returned frame — lineage truncation, block recording and the
    stable-key registration are identical, but the materialization job
    and that first action collapse into one (used by the iterative CC
    loop, whose per-round convergence agg is exactly such an action:
    one job per round instead of checkpoint-job + agg-job — r15 VERDICT
    task #5). Callers must guarantee an action follows promptly, or the
    checkpoint stays a plan.

    The checkpointed frame also carries the SOURCE plan's semanticHash
    (``_cb_semantic_hash``): a checkpoint scans a fresh RDD, so its own
    semanticHash changes on every build, which silently defeated any
    plan-keyed statistics cache downstream (the dedup vocab probes re-ran
    their 2-3 driver actions on every execution — optimization r15).
    Chained checkpoints propagate the original hash."""
    try:
        src_key = stable_plan_key(df)
    except Exception:  # analysis failure: leave the cache key unstable
        src_key = None
    out = df.localCheckpoint(eager=eager)
    if src_key is not None:
        out._cb_semantic_hash = src_key
        try:
            # Register rdd-id -> source key so plans DERIVED from this
            # checkpoint (which only see an anonymous LogicalRDD leaf) can
            # still build a build-stable statistics-cache key — see
            # operators/dedup._cached_probe.
            if len(RDD_SOURCE_HASH) >= _RDD_SOURCE_HASH_MAX:
                RDD_SOURCE_HASH.clear()
            rid = out._jdf.queryExecution().analyzed().rdd().id()
            RDD_SOURCE_HASH[(_app_id(out), int(rid))] = src_key
        except Exception:  # pragma: no cover - py4j accessor drift
            pass
    build = _CURRENT.get()
    if build is not None:
        try:  # best-effort: failing to record must never fail the query
            build.handles.append(out._jdf.queryExecution().analyzed().rdd())
        except Exception:  # pragma: no cover - py4j accessor drift
            pass
    return out
