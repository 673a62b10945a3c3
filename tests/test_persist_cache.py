"""persist_bounded: the bounded persist registry must deduplicate
semantically identical plans — Spark's CacheManager keys cached data by
canonicalized plan, so duplicate registry entries for one shared
InMemoryRelation turn LRU eviction into unpersisting live data
(measured as a 12x warm-time thrash between two LSH queries sharing
the banded minhash plan at sf10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scdataset_spark.operators import _cache


def _fresh(monkeypatch=None):
    _cache._CACHE.clear()


def test_same_plan_returns_existing_entry(spark):
    _fresh()
    a = spark.range(100).withColumn("v", F.col("id") * 2)
    b = spark.range(100).withColumn("v", F.col("id") * 2)  # equal plan
    pa = _cache.persist_bounded(a)
    pb = _cache.persist_bounded(b)
    assert pb is pa  # deduped: one registry entry, one persisted frame
    assert len(_cache._CACHE) == 1
    assert pb.count() == 100
    _fresh()


def test_distinct_plans_keep_distinct_entries_and_evict_lru(spark):
    _fresh()
    frames = [
        _cache.persist_bounded(spark.range(10 + i).selectExpr(f"id + {i} AS v"))
        for i in range(_cache._CACHE_MAX + 2)
    ]
    assert len(_cache._CACHE) == _cache._CACHE_MAX
    # oldest two evicted, newest survive
    assert frames[0] not in _cache._CACHE and frames[1] not in _cache._CACHE
    assert frames[-1] in _cache._CACHE
    _fresh()


def test_reregistration_refreshes_lru_position(spark):
    _fresh()
    a = _cache.persist_bounded(spark.range(50).selectExpr("id AS v"))
    for i in range(_cache._CACHE_MAX - 1):
        _cache.persist_bounded(spark.range(60 + i).selectExpr(f"id + {100 + i} AS v"))
    # a is now oldest; re-registering an equal plan must refresh it...
    again = _cache.persist_bounded(spark.range(50).selectExpr("id AS v"))
    assert again is a
    # ...so one more distinct frame evicts the SECOND-oldest, not a
    _cache.persist_bounded(spark.range(999).selectExpr("id AS v2"))
    assert a in _cache._CACHE
    _fresh()


def test_same_semantics_different_names_gets_callers_names(spark):
    """sameSemantics ignores output aliases, so the dedupe must re-label
    the cached frame to the caller's names instead of handing back a
    frame with someone else's column names."""
    _fresh()
    a = _cache.persist_bounded(spark.range(20).select((F.col("id") * 3).alias("x")))
    b = _cache.persist_bounded(spark.range(20).select((F.col("id") * 3).alias("y")))
    assert a.columns == ["x"] and b.columns == ["y"]
    assert len(_cache._CACHE) == 1  # still one persisted entry underneath
    assert sorted(r.y for r in b.collect()) == sorted(r.x for r in a.collect())
    _fresh()


def test_cross_session_entries_never_match(spark):
    """The registry is process-global: an entry registered by a
    DIFFERENT (still-live) session must not be handed to this session
    even when the plans compare sameSemantics — mixing frames across
    sessions misbehaves in some Spark versions."""
    _fresh()
    other = spark.newSession()
    pa = _cache.persist_bounded(other.range(40).selectExpr("id AS v"))
    pb = _cache.persist_bounded(spark.range(40).selectExpr("id AS v"))
    assert pb is not pa
    assert pb.sparkSession is spark and pa.sparkSession is other
    assert len(_cache._CACHE) == 2
    _fresh()


class TestWidenIfNarrowConnectClean:
    """widen_if_narrow's byte estimator decides on its own: with the
    RDD API severed, a statable file-backed frame never reaches the
    ``df.rdd`` partition probe."""

    def test_file_backed_estimate_decides_without_rdd(self, spark, monkeypatch):
        """A small local parquet must take the byte-based estimator path
        (est < width -> repartition) with ``DataFrame.rdd`` severed."""
        from pyspark.sql import DataFrame

        from tests.conftest import SF_DIR_SMALL

        from scdataset_spark.catalog import load_table
        from scdataset_spark.session import input_probe

        def _no_rdd(self):
            raise RuntimeError("widen_if_narrow probed df.rdd")

        cust = load_table(spark, "customer", SF_DIR_SMALL, with_row_id=False)
        monkeypatch.setattr(DataFrame, "rdd", property(_no_rdd))
        n_files, nbytes = input_probe(cust)
        assert n_files >= 1 and nbytes is not None
        out = _cache.widen_if_narrow(cust)
        assert out.count() == cust.count()


def test_conf_bytes_parses_spark_byte_strings(spark):
    assert _cache._conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 0) > 0
    # unknown key -> default
    assert _cache._conf_bytes(spark, "spark.graft.no.such.key", 7) == 7
    # unparsable value -> default
    spark.conf.set("spark.graft.bad.bytes", "lots")
    try:
        assert _cache._conf_bytes(spark, "spark.graft.bad.bytes", 5) == 5
    finally:
        spark.conf.unset("spark.graft.bad.bytes")


def test_bytes_pressure_sweeps_oldest_entries(spark, monkeypatch):
    """When total cached storage exceeds the bytes bound, the oldest
    registry entries are evicted down to one — recompute replaces the
    GC/spill thrash the sf100 audit measured when 8 retained big frames
    pinned the heap."""
    _fresh()
    frames = [
        _cache.persist_bounded(spark.range(30 + i).selectExpr(f"id + {i} AS v"))
        for i in range(4)
    ]
    assert len(_cache._CACHE) == 4
    # simulate pressure: the probe always reports over-bound
    monkeypatch.setattr(_cache, "_storage_bytes", lambda s: _cache._CACHE_MAX_BYTES + 1)
    _cache.persist_bounded(spark.range(999).selectExpr("id AS pressure"))
    assert len(_cache._CACHE) == 1  # swept to the newest entry
    assert frames[0] not in _cache._CACHE
    _fresh()


def test_unpersisted_entry_is_a_miss_not_a_stale_hit(spark):
    """An entry that lost its cached storage (external unpersist or the
    bytes-pressure sweep) must be treated as a MISS: for parquet
    relations, plan canonicalization compares only the root path, so a
    stale registry object can hold a file listing that predates a
    rewrite at that path (compaction swap, rebuilt index) and would
    read deleted files.  The registry drops it and registers the
    caller's freshly-resolved frame instead."""
    from scdataset_spark.operators._cache import _CACHE, persist_bounded

    a = persist_bounded(spark.range(123).selectExpr("id * 7 AS x"))
    assert a in _CACHE
    a.unpersist()  # external unpersist — entry is now storage-less
    b = persist_bounded(spark.range(123).selectExpr("id * 7 AS x"))
    assert b is not a, "stale storage-less entry must not be handed back"
    assert a not in _CACHE and b in _CACHE
    assert b.storageLevel.useMemory or b.storageLevel.useDisk
    assert [r.x for r in b.collect()] == [i * 7 for i in range(123)]
