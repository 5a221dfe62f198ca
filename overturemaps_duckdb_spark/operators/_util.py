"""Shared operator plumbing.

``materialize`` pins a DataFrame's contents so downstream consumers can
never observe a recompute — required wherever an upstream result is
merge-order-sensitive (``percentile_approx`` boundaries, quantiles.py),
must be frozen before a conflicting write (incremental MinHash index,
dedup.py), or anchors an iterative lineage cut (cluster propagation,
dedup.py).

This module also owns the one registry of session-lived artifacts — the
twin of the state the reference keeps in its long-lived DuckDB handle
(FTS helper tables, memoized results).  Its contract:

- **Key.** Application id → slot name → caller key.  The application id
  is implicit (``spark.sparkContext.applicationId``); each caller builds
  the rest of its key from what identifies the data (a fixture's
  realpath, a table's file stamp, a plan's ``semanticHash``) and, in a
  shared slot, its own name.  :func:`cache_get` looks up,
  :func:`cache_put` stores; a store under an existing key replaces the
  value and refreshes its LRU position.
- **Bound.** Each slot keeps at most ``max_entries`` (default
  ``LRU_PERSIST_MAX_ENTRIES`` = 8 for slots that pin executor storage;
  slots of small in-memory values such as schemas pass 256).  At most
  ``LRU_PERSIST_MAX_APPS`` applications are kept; a new one drops the
  least recently used other application's slots.
- **Eviction.** Overflow drops the oldest entry and calls its
  ``unpersist()`` if it has one (``DataFrame``, ``FtsIndex``).  Eviction
  never changes values: an evicted frame recomputes from its lineage, an
  evicted in-memory value is rebuilt by the caller on its next miss.
- **Counters.** Hits, misses and evictions per (application, slot),
  read through :func:`cache_stats`.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Checkpoint ``df``: reliable ``checkpoint()`` when the session has
    a checkpoint directory configured (``sc.setCheckpointDir``), else
    ``localCheckpoint()``.

    On a multi-executor cluster a lost executor silently drops
    ``localCheckpoint`` blocks and fails every downstream job, so
    long-lived cluster sessions should configure a checkpoint dir and get
    the reliable form automatically; in single-JVM dev/test sessions the
    local form is both safe (no executor loss) and faster (no
    filesystem round-trip).  With ``eager=False`` the checkpoint
    materializes on the frame's first action — use when a probe/collect
    immediately follows, so the scan, checkpoint write, and probe share
    one job.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_materialized(df: DataFrame | None) -> None:
    """Free the executor-storage blocks pinned by a :func:`materialize`d
    frame once it is SUPERSEDED (ADVICE r12 / NOTES r12 watch item).

    A ``localCheckpoint`` persists its rows in the BlockManager and those
    blocks are only reclaimed by driver GC of the RDD — an iterative
    closure that checkpoints every round therefore accumulates one dead
    frame of storage per round for the whole job.  This hands the loop an
    explicit release: unpersist the LogicalRDD behind the checkpointed
    frame (non-blocking).  MUST only be called on frames with no further
    consumers — a released localCheckpoint cannot recompute (its lineage
    is truncated by design).  No-op for reliable ``checkpoint()`` frames
    (files, owned by the checkpoint-dir lifecycle) and for plans that are
    not checkpointed RDD scans.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            rdd = plan.rdd()
            # Explicit no-op guard (ADVICE r13): a reliable checkpoint()
            # Dataset ALSO analyzes to LogicalRDD; its RDD merely happens
            # to hold no persisted blocks today.  Checking the storage
            # level (NONE → isValid() false) makes the reliable-checkpoint
            # no-op a stated contract instead of an implementation detail.
            if rdd.getStorageLevel().isValid():
                rdd.unpersist(False)
    except Exception:  # noqa: BLE001 — release is best-effort hygiene
        pass


#: application id → slot → ``(entries, [hits, misses, evicts])``, where
#: ``entries`` is an LRU ``OrderedDict`` (oldest first).  See the module
#: docstring for the key, bound and eviction contract.
_REGISTRY: OrderedDict = OrderedDict()
_REGISTRY_LOCK = threading.Lock()
LRU_PERSIST_MAX_ENTRIES = 8
LRU_PERSIST_MAX_APPS = 4


def _slot(spark, slot: str):
    app = spark.sparkContext.applicationId
    if app not in _REGISTRY:
        while len(_REGISTRY) >= LRU_PERSIST_MAX_APPS:
            # least recently used other application first: its session is
            # usually stopped (handles inert); a live one merely rebuilds
            _REGISTRY.popitem(last=False)
        _REGISTRY[app] = {}
    _REGISTRY.move_to_end(app)
    return _REGISTRY[app].setdefault(slot, (OrderedDict(), [0, 0, 0]))


def cache_get(spark, slot: str, key):
    """The value stored under ``key`` in this application's ``slot``
    (refreshing its LRU position), or None.  Counts a hit or a miss."""
    with _REGISTRY_LOCK:
        entries, counts = _slot(spark, slot)
        if key in entries:
            entries.move_to_end(key)
            counts[0] += 1
            return entries[key]
        counts[1] += 1
        return None


def cache_put(spark, slot: str, key, value, *, max_entries: int = LRU_PERSIST_MAX_ENTRIES):
    """Store ``value`` under ``key`` as the newest entry of ``slot``.
    Past ``max_entries`` the oldest entry is dropped and ``unpersist``ed
    if it has that method.  A value replaced under the same key is not
    unpersisted (for a persisted plan it is the same cache entry)."""
    with _REGISTRY_LOCK:
        entries, counts = _slot(spark, slot)
        entries[key] = value
        entries.move_to_end(key)
        while len(entries) > max_entries:
            _, old = entries.popitem(last=False)
            counts[2] += 1
            if hasattr(old, "unpersist"):
                try:
                    old.unpersist()
                except Exception:  # noqa: BLE001 — best-effort hygiene
                    pass


def cache_stats(spark, slot: str) -> dict:
    """``{"hits", "misses", "evicts"}`` of this application's ``slot``
    (zeros for a slot never used)."""
    with _REGISTRY_LOCK:
        slots = _REGISTRY.get(spark.sparkContext.applicationId, {})
        counts = slots.get(slot, (None, [0, 0, 0]))[1]
        return dict(zip(("hits", "misses", "evicts"), counts))


def lru_persist(df: DataFrame, slot: str, *, max_entries: int = LRU_PERSIST_MAX_ENTRIES) -> DataFrame:
    """``persist()`` tracked in the session registry under ``slot``: the
    oldest cached plan is unpersisted once more than ``max_entries``
    DISTINCT plans have been persisted under the slot (VERDICT r13 #5 /
    ADVICE r13: the pl4 matched-id sets and the e6/e7 activity frame were
    session-lived with no release path, so a long-lived engine session
    running many distinct pipelines/fixtures accumulated dead cache
    entries forever — the leak class ``release_materialized`` closed for
    the dedup closure).

    Spark's CacheManager dedupes cache entries by analyzed plan, so
    repeated calls with the SAME plan stay one entry (keyed here by
    ``semanticHash``: re-persisting is a hit that refreshes its LRU
    position instead of growing the slot)."""
    df = df.persist()
    try:
        spark, h = df.sparkSession, df.semanticHash()
        if cache_get(spark, slot, h) is None:
            cache_put(spark, slot, h, df, max_entries=max_entries)
    except Exception:  # noqa: BLE001 — tracking is hygiene, never fatal
        pass
    return df


#: Age gate for sweeping another application's omds_* staging dirs: old
#: enough that any live session re-invoking its staging queries has long
#: since refreshed its root's mtime (wipe+recreate per call), short enough
#: that a day of repeated bench/pytest processes stays bounded in /tmp.
STAGING_STALE_SECONDS = 2 * 3600


def staging_root(
    spark, sf_dir: str | None, tag: str, *, wipe: bool = True, token: str | None = None
) -> str:
    """ONE deterministic staging directory per (application, fixture, tag),
    recreated empty on each call.

    ``token`` (optional) appends a caller-supplied discriminator to the
    root name WITHOUT changing the sweep tag: two SparkSessions from
    ``spark.newSession()`` share one applicationId, so a purely
    app-keyed path would alias their roots and ``wipe`` would destroy
    the sibling session's live files (ADVICE r10) — the console session
    store passes a per-SparkSession token for exactly this.  Because the
    token is not part of the glob tag, dead tokened roots are still
    swept by the same age-gated pass as everything else.

    Queries that stage files (banded exports, bucketed copies, snapview
    stores, streaming symlink manifests) used a fresh ``mkdtemp`` per
    invocation, so every bench/parity run accumulated another copy in
    /tmp forever — the resource-lifecycle defect class the r8 review fixed
    for i5/i6/ex1 (queries/events.py) — while the deterministic form is
    also what a cluster deployment wants (a re-run overwrites its own
    scratch, never a growing orphan set).

    ``wipe=True`` (default) removes the previous contents first: callers
    re-stage from scratch and must not inherit stale files (a reused
    symlink name raises EEXIST; a hydrating store would resurrect old
    keys).  CAVEAT shared with the i6/ex1 precedent: a DataFrame captured
    from a PREVIOUS invocation lazily references the old files — collect
    results before re-invoking the same query in one session.

    Reuse is per-APPLICATION (the path embeds the Spark applicationId),
    so each fresh bench/pytest/parity PROCESS still mints one new root
    per (fixture, tag); creation therefore sweeps stale same-tag sibling
    dirs from dead applications (ADVICE r09).  The sweep is age-gated by
    :data:`STAGING_STALE_SECONDS` so a concurrently-running session's
    live staging is never yanked out from under it — every invocation
    recreates its root (fresh mtime), so only applications that hold a
    staged dir past the gate WITHOUT re-invoking are at risk, which the
    collect-before-reinvoking caveat above already rules out.

    The fixture component is ``basename-sha1(realpath)[:8]`` — basename
    alone made two different fixture dirs with the same leaf name
    (``/a/sf0.01`` vs ``/b/sf0.01``) collide on one root, and ``wipe``
    would destroy the other fixture's staged files mid-session
    (ADVICE r09).

    The stale gate consults the NEWEST mtime within two directory levels
    of a candidate, not just the root's own mtime: a single invocation
    that stays live past the gate (a long console session flushing into
    ``<root>/_session/``, a long-running stream appending under
    ``<root>/sink``/``ckpt``) never touches the root itself, but its
    writes DO refresh the containing subdirectory — ``os.replace`` and
    new part/offset files update their parent dir's mtime (ADVICE r10).
    The deeper scan only runs once the root's own mtime is already past
    the gate, so the common fresh-root case stays one ``stat``.
    """
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    real = os.path.realpath(sf_dir).rstrip("/") if sf_dir else "nosf"
    base = os.path.basename(real) if sf_dir else "nosf"
    fp = hashlib.sha1(real.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    suffix = f"-{token}" if token else ""
    root = os.path.join(
        tmp,
        f"omds_{tag}_{spark.sparkContext.applicationId}_{base}-{fp}{suffix}",
    )
    now = time.time()

    def _is_stale(path: str) -> bool:
        try:
            if now - os.stat(path).st_mtime <= STAGING_STALE_SECONDS:
                return False
            # root looks stale — check two levels down for live writes
            # (e.g. _session/ kv flushes, sink/ part files, ckpt/offsets/)
            with os.scandir(path) as level1:
                for child in level1:
                    if now - child.stat().st_mtime <= STAGING_STALE_SECONDS:
                        return False
                    if child.is_dir(follow_symlinks=False):
                        with os.scandir(child.path) as level2:
                            for gc in level2:
                                if (
                                    now - gc.stat().st_mtime
                                    <= STAGING_STALE_SECONDS
                                ):
                                    return False
        except OSError:
            return False  # raced with another sweeper / already gone
        return True

    for sib in glob.glob(os.path.join(tmp, f"omds_{tag}_*")):
        if sib == root:
            continue
        if _is_stale(sib):
            shutil.rmtree(sib, ignore_errors=True)
    if wipe:
        shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root
