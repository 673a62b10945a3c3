"""Bounded persist registry for small intermediate frames.

Operators that persist a tiny frame across a self-join (the banded LSH
frames in ``dedup.py`` / ``similarity.py``) register it here: the most
recent few stay cached, older ones are unpersisted — so bench loops and
long sessions running many queries don't accumulate executor storage
until eviction pressure sets in (each frame is small; the bound is
about lifetime, not size).
"""

from __future__ import annotations

import os
import threading

from pyspark.errors import SparkNoSuchElementException
from pyspark.sql import DataFrame

from scdataset_spark.session import _cluster_width, input_probe

_CACHE: list[DataFrame] = []
# 8 covers the bench's banded-frame query mix without eviction churn
# (round-5 ran more banded queries than the bound of 4 could hold)
_CACHE_MAX = 8
# Bytes bound on TOTAL cached storage (memory + disk), swept lazily on
# each registration: an entry count alone is the wrong unit at scale —
# the sf100 audit measured 8 retained sf100-sized frames pinning the
# whole heap, after which every later query in the session GC/spill-
# thrashed (sim_lsh_ann 645 s in-queue vs 21 s in a fresh session).
_CACHE_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", str(8 << 30)))
_LOCK = threading.Lock()


def _storage_bytes(spark) -> int:
    """Total bytes of ALL cached RDD storage in the app (registry
    entries, localCheckpoints, user persists) — the real pressure
    signal."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def persist_bounded(df: DataFrame) -> DataFrame:
    """Persist ``df``, evicting the least-recently-registered frame
    beyond the bound.  Callers that need a longer lifetime own their own
    persist.

    Re-registering a SEMANTICALLY IDENTICAL plan returns the existing
    entry (refreshed to most-recent) instead of appending a duplicate.
    This is load-bearing, not an optimization: Spark's CacheManager
    keys cached data by canonicalized plan, so two persist() calls on
    equal plans share one InMemoryRelation — if both sat in this list,
    evicting the OLDER one would unpersist the shared data out from
    under the newer one.  Measured: two LSH queries sharing the banded
    minhash plan thrashed exactly this way at sf10 (41 s warm vs 3 s
    once deduped — each run's eviction of the sibling's stale entry
    dropped the relation the run had just materialized).

    Thread-safe (multi-threaded drivers build queries concurrently).
    Eviction is LRU-by-registration, so constructing more than
    ``_CACHE_MAX`` distinct frames before EXECUTING the queries that use
    them can evict a frame whose plan hasn't run yet — correctness is
    preserved (Spark recomputes the lineage), only the cache benefit is
    lost; keep construct→execute cycles short or persist explicitly for
    longer lifetimes."""
    evict = []
    with _LOCK:  # one critical section: a concurrent double-miss would
        # re-create the duplicate-entry hazard this function exists to
        # prevent (sameSemantics/persist are cheap driver-side calls)
        for i, old in enumerate(_CACHE):
            try:
                # the registry is process-global, not per-session: an
                # entry from a DIFFERENT live session can still compare
                # sameSemantics, but handing it back would mix frames
                # across sessions (the except below only catches STOPPED
                # sessions, which raise) — never match across sessions
                if old.sparkSession is not df.sparkSession:
                    continue
                same = old.sameSemantics(df)
            except Exception:  # e.g. session of `old` already stopped
                continue
            if same:
                # an entry that is no longer cached (bytes-pressure
                # sweep, external unpersist) must NOT be handed back:
                # its plan was resolved when it was registered, and for
                # parquet relations canonicalization compares only the
                # ROOT PATH — files rewritten at that path since then
                # (compaction swaps, rebuilt indexes, regenerated
                # fixtures) leave the stale object reading deleted
                # files.  Treat it as a miss: drop it and register the
                # caller's freshly-resolved frame instead.
                try:
                    still_cached = old.storageLevel.useMemory or old.storageLevel.useDisk
                except Exception:
                    still_cached = False
                if not still_cached:
                    _CACHE.pop(i)
                    break
                _CACHE.append(_CACHE.pop(i))
                if old.columns == df.columns:
                    return old
                # sameSemantics ignores OUTPUT NAMES (verified: plans
                # differing only in a top-level alias compare equal), so
                # hand back the cached frame re-labeled to the caller's
                # names — a zero-cost projection over the shared
                # InMemoryRelation, not a duplicate registry entry
                return old.toDF(*df.columns)
        df = df.persist()
        _CACHE.append(df)
        while len(_CACHE) > _CACHE_MAX:
            evict.append(_CACHE.pop(0))
        # bytes-pressure sweep over PREVIOUS entries' realized sizes
        # (the frame just registered hasn't materialized yet, so it
        # contributes 0 — exactly right: old big frames yield to the
        # query now being built).  The probe counts all cached storage
        # including checkpoints, so under genuine pressure the registry
        # shrinks toward one entry and recompute replaces thrash.
        total = _storage_bytes(df.sparkSession)
        while total > _CACHE_MAX_BYTES and len(_CACHE) > 1:
            victim = _CACHE.pop(0)
            victim.unpersist()  # inside the loop: the next probe must see it
            total = _storage_bytes(df.sparkSession)
    for old in evict:
        old.unpersist()
    return df


def _conf_bytes(spark, key: str, default: int) -> int:
    """A Spark byte-valued conf ('128MB', '134217728b', plain int)."""
    try:
        # get(key, default) would hide a registered conf's own default
        v = spark.conf.get(key).strip().lower()
    except SparkNoSuchElementException:  # neither set nor registered
        return default
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("b", 1)):
        if v.endswith(suf):
            v = v[: -len(suf)]
            mult = m
            break
    try:
        return int(v) * mult
    except ValueError:
        return default


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to cluster width ONLY when it is narrower —
    the guard matters in both directions.  Few-split inputs (small
    parquet at test SFs) pin heavy pre-shuffle compute at input-split
    parallelism, so widening pays (measured: jaccard explode 6.6 s ->
    full-width, BENCH_SCALE round 5); but a 100 TB corpus already has
    far more splits than cores, where an unconditional
    ``repartition(width)`` would shuffle the whole payload just to
    COLLAPSE parallelism to core count.

    Narrowness probes, cheapest sufficient one wins:

    1. file-backed lineage with driver-statable files
       (``session.input_probe`` knows their bytes): estimate the packed
       FilePartition count the way Spark bin-packs files into splits
       of ``maxPartitionBytes``, charging ``openCostInBytes`` per file —
       ``ceil((bytes + files * openCost) / maxPartitionBytes)``, exact
       enough on both sides, never builds an RDD.  (A raw file-count
       shortcut is NOT trusted alone: Spark packs many small files into
       few FilePartitions, which is precisely the narrow regime this
       function exists to fix.)
    2. remote/unstatable files: trust the file count only with a wide
       margin (>= 8x width files) — even 8-to-1 bin-packing still
       leaves cluster width; the 100 TB object-store path lands here
       and decides "already wide" from pure metadata.
    3. otherwise probe ``df.rdd.getNumPartitions()`` (exact, but plans
       the frame into an RDD; pre-AQE view)."""
    spark = df.sparkSession
    width = _cluster_width(df)
    n_files, nbytes = input_probe(df)
    if nbytes is not None:
        open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
        max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
        est = -(-(nbytes + n_files * open_cost) // max_pb)
        return df.repartition(width) if est < width else df
    if n_files >= 8 * width:
        return df
    return df.repartition(width) if df.rdd.getNumPartitions() < width else df
