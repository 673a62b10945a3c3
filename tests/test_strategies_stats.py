"""Statistical / invariant tests for the sampling strategies, mirroring
the reference test strategy (SURVEY.md §5): coverage-exactly-once,
intra-block order, seed reproducibility/divergence, weighted-draw
tolerance bands, class-balance bands, len==execution invariants.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators import _cache
from scdataset_spark.operators import strategies as st
from scdataset_spark.operators.strategies import (
    BlockShuffling,
    BlockWeightedSampling,
    ClassBalancedSampling,
    MixtureSampling,
    Streaming,
    mixture_plan,
)
from scdataset_spark.plans.plan import (
    _bucketed_prefix,
    ddp_filter,
    exact_num_batches,
    with_batches,
    with_pos,
)
from scdataset_spark.pipeline.export import epoch_plans
from scdataset_spark.plans.seeds import MIX_MOD
from scdataset_spark.session import input_probe, python_stage_partitions

from tests._helpers import assert_no_jobs, collect_pos, plan_subtrees, plan_text
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def li(spark):
    return load_table(spark, "lineitem", SF_DIR_SMALL)


class TestBlockShuffling:
    def test_full_coverage_exactly_once(self, spark, li):
        plan = BlockShuffling(block_size=64).plan(li, seed=7)
        n = li.count()
        assert plan.count() == n
        assert plan.select("row_id").distinct().count() == n
        # pos is a permutation of 0..n-1
        assert plan.agg(F.min("pos"), F.max("pos")).first() == (0, n - 1)

    def test_intra_block_order_preserved(self, spark, li):
        rows = (
            BlockShuffling(block_size=64)
            .plan(li, seed=7)
            .select("row_id", "pos")
            .orderBy("pos")
            .collect()
        )
        # the internal block_id column no longer leaks into the output
        # schema; lineitem row_id is dense, so the ORIGINAL block of a
        # row is simply row_id div block_size
        prev = {}
        for r in rows:
            block = r.row_id // 64
            if block in prev:
                assert r.row_id > prev[block], "intra-block order broken"
            prev[block] = r.row_id

    def test_seed_reproducible_and_divergent(self, spark, li):
        a = BlockShuffling(block_size=64).plan(li, seed=7).select("row_id", "pos")
        b = BlockShuffling(block_size=64).plan(li, seed=7).select("row_id", "pos")
        c = BlockShuffling(block_size=64).plan(li, seed=8).select("row_id", "pos")
        assert a.exceptAll(b).count() == 0
        assert a.exceptAll(c).count() > 0

    def test_epoch_changes_order(self, spark, li):
        a = BlockShuffling(block_size=64).plan(li, seed=7, epoch=0).select("row_id", "pos")
        b = BlockShuffling(block_size=64).plan(li, seed=7, epoch=1).select("row_id", "pos")
        assert a.exceptAll(b).count() > 0

    def test_drop_last_removes_remainder(self, spark, li):
        n = li.count()
        plan = BlockShuffling(block_size=64, drop_last=True).plan(li, seed=7)
        assert plan.count() == n - n % 64


class TestWeightedSampling:
    def test_skewed_weights_band(self, spark, li):
        """>80% of draws from the heavy half (reference
        tests/test_strategy.py:271-284 band)."""
        half = li.count() // 2
        base = li.withColumn(
            "w", F.when(F.col("row_id") <= F.lit(half * 10 + 7), 9.0).otherwise(1.0)
        )
        # row_id = okey*10+lnum; approximate half split by median row_id
        med = base.approxQuantile("row_id", [0.5], 0.01)[0]
        base = li.withColumn("w", F.when(F.col("row_id") <= med, 9.0).otherwise(1.0))
        drawn = (
            BlockWeightedSampling(block_size=64, weight_col="w", total_size=2000)
            .plan(base, seed=3)
            .join(base.select("row_id", "w"), "row_id")
        )
        heavy = drawn.where(F.col("w") > 1.0).count()
        assert heavy / 2000 > 0.8

    def test_without_replacement_no_dup_within_round(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL).withColumn(
            "w", (F.col("c_custkey") % 97 + 1).cast("double")
        )
        strat = BlockWeightedSampling(
            block_size=16, weight_col="w", total_size=120, replace=False, sampling_size=60
        )
        drawn = strat.plan(cust, seed=3)
        assert drawn.count() == 120
        # reconstruct rounds via draw_id rounds: draw_id column holds round
        per_round = drawn.groupBy("draw_id", "row_id").count()
        assert per_round.where(F.col("count") > 1).count() == 0


class TestPosType:
    def test_every_strategy_plans_bigint_pos(self, spark):
        """One ``pos`` type for every strategy: consumers union, join
        and compare plans from different strategies."""
        from scdataset_spark.operators.strategies import MixtureSampling, StratifiedSampling

        cust = load_table(spark, "customer", SF_DIR_SMALL).withColumn(
            "w", (F.col("c_custkey") % 7 + 1).cast("double")
        )
        docs = load_table(spark, "documents", SF_DIR_SMALL)
        plans = {
            "streaming": Streaming().plan(cust, seed=1),
            "block_shuffling": BlockShuffling(block_size=16).plan(cust, seed=1),
            "weighted": BlockWeightedSampling(
                block_size=16, weight_col="w", total_size=64
            ).plan(cust, seed=1),
            "weighted_no_replace": BlockWeightedSampling(
                block_size=16, weight_col="w", total_size=64, replace=False, sampling_size=32
            ).plan(cust, seed=1),
            "class_balanced": ClassBalancedSampling(
                label_col="c_mktsegment", block_size=16, total_size=64
            ).plan(cust, seed=1),
            "mixture": MixtureSampling(
                source_col="source", proportions_ppm={"src0": 600_000, "src1": 400_000},
                block_size=16, total_size=64,
            ).plan(docs, seed=1),
            "stratified": StratifiedSampling(
                stratum_col="c_mktsegment", fraction_ppm=500_000
            ).plan(cust, seed=1),
        }
        assert {k: dict(p.dtypes)["pos"] for k, p in plans.items()} == {
            k: "bigint" for k in plans
        }


class TestClassBalanced:
    def test_balance_band(self, spark):
        """Sampled class ratio ≈ uniform within [0.8, 1.2]× the ideal
        (reference tests/test_strategy.py:543-594 band)."""
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        strat = ClassBalancedSampling(
            label_col="c_mktsegment", block_size=32, total_size=3000
        )
        drawn = strat.plan(cust, seed=5).join(
            cust.select("row_id", "c_mktsegment"), "row_id"
        )
        counts = [r["count"] for r in drawn.groupBy("c_mktsegment").count().collect()]
        ideal = 3000 / len(counts)
        for c in counts:
            assert 0.8 * ideal <= c <= 1.2 * ideal


class TestExactLen:
    @pytest.mark.parametrize(
        "n,batch,ff,drop,world",
        [
            (6005, 32, 4, False, 1),
            (6005, 32, 4, True, 1),
            (6005, 32, 4, True, 2),
            (6005, 32, 4, False, 3),
            (100, 7, 3, True, 4),
            (100, 7, 3, False, 4),
            (5, 7, 3, False, 4),   # fewer rows than one batch; empty ranks
            (5, 7, 3, True, 4),
            (0, 8, 2, False, 2),   # empty collection
        ],
    )
    def test_len_equals_execution(self, spark, n, batch, ff, drop, world):
        df = spark.range(n).withColumnRenamed("id", "row_id")
        plan = with_batches(
            with_pos(df), batch_size=batch, fetch_factor=ff, drop_last=drop
        )
        for rank in range(world):
            executed = (
                ddp_filter(plan, world, rank).select("batch_id").distinct().count()
            )
            assert executed == exact_num_batches(n, batch, ff, drop, world, rank), (
                f"rank {rank}"
            )

    def test_ranks_partition_batches_disjoint_complete(self, spark):
        """Reference invariant: every batch on exactly one rank
        (tests/test_scdataset.py:740-795)."""
        df = spark.range(6005).withColumnRenamed("id", "row_id")
        plan = with_batches(with_pos(df), batch_size=32, fetch_factor=4)
        world = 3
        parts = [
            set(r.batch_id for r in ddp_filter(plan, world, rk).select("batch_id").distinct().collect())
            for rk in range(world)
        ]
        allb = set(r.batch_id for r in plan.select("batch_id").distinct().collect())
        assert set.union(*parts) == allb
        for i in range(world):
            for j in range(i + 1, world):
                assert not parts[i] & parts[j]

    def test_closed_form_equals_per_fetch_count(self):
        """The closed form equals the per-fetch loop it replaced, over
        every small configuration and every rank."""

        def per_fetch(n, bs, ff, drop, world, rank):
            fetch = bs * ff
            n_fetches = (n + fetch - 1) // fetch
            total = 0
            for f in range(rank, n_fetches, world):
                size = fetch if f < n_fetches - 1 else n - (n_fetches - 1) * fetch
                total += size // bs if drop else (size + bs - 1) // bs
            return total

        for n in range(151):
            for bs in range(1, 6):
                for ff in range(1, 5):
                    for drop in (False, True):
                        for world in range(1, 5):
                            for rank in range(world):
                                args = (n, bs, ff, drop, world, rank)
                                assert exact_num_batches(*args) == per_fetch(*args), args


class TestScalablePos:
    def test_bucketed_pos_matches_window_pos(self, spark, li):
        a = with_pos(li.select("row_id"), buckets=None).orderBy("row_id").collect()
        b = with_pos(li.select("row_id"), buckets=8).orderBy("row_id").collect()
        assert [(r.row_id, r.pos) for r in a] == [(r.row_id, r.pos) for r in b]


class TestStreamingSubset:
    def test_subset_predicate(self, spark, li):
        plan = Streaming(where="l_returnflag = 'R'").plan(li, seed=1)
        n = li.where("l_returnflag = 'R'").count()
        assert plan.count() == n
        assert plan.agg(F.max("pos")).first()[0] == n - 1


class TestApproxSketches:
    def test_sketches_within_error_bands(self, spark):
        """HLL++ (rsd=2%) and quantile summaries (accuracy 10000) must
        land within their documented bounds of the exact answers — the
        query now emits that contract directly as ``distinct_ok`` /
        ``median_ok`` booleans next to the oracle-matched exact values."""
        from scdataset_spark.queries import REGISTRY

        rows = REGISTRY["g7_approx_sketches"].fn(spark, SF_DIR_SMALL).collect()
        assert rows, "no groups returned"
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        exact = {
            r.l_returnflag: r
            for r in li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("nd"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {r.l_returnflag for r in rows} == set(exact)
        for a in rows:
            assert a.exact_parts == exact[a.l_returnflag].nd
            assert a.n == exact[a.l_returnflag].n
            assert a.distinct_ok and a.median_ok, a


class TestMixtureSampling:
    def test_proportions_within_band(self, spark):
        """Drawn mixture ≈ requested 50/30/20 within ±8 points; unlisted
        sources never appear."""
        from scdataset_spark.operators.strategies import MixtureSampling

        docs = load_table(spark, "documents", SF_DIR_SMALL)
        strat = MixtureSampling(
            source_col="source",
            proportions_ppm={"src0": 500_000, "src1": 300_000, "src2": 200_000},
            block_size=16,
            total_size=2000,
        )
        drawn = strat.plan(docs, seed=11).join(
            docs.select("row_id", "source"), "row_id"
        )
        shares = {
            r["source"]: r["count"] / 2000
            for r in drawn.groupBy("source").count().collect()
        }
        assert set(shares) == {"src0", "src1", "src2"}
        for src, want in (("src0", 0.5), ("src1", 0.3), ("src2", 0.2)):
            assert abs(shares[src] - want) < 0.08, (src, shares)

    def test_validation(self, spark):
        from scdataset_spark.operators.strategies import MixtureSampling

        with pytest.raises(ValueError, match="proportions_ppm is required"):
            MixtureSampling(source_col="source")
        with pytest.raises(ValueError, match="positive"):
            MixtureSampling(source_col="source", proportions_ppm={"a": -1})


class TestBlockPermuteCountStar:
    @pytest.mark.parametrize("n,block", [(100, 8), (96, 8), (1, 8), (5, 64)])
    def test_matches_global_window_reference(self, spark, n, block):
        from scdataset_spark.operators.strategies import _block_permute_pos
        from scdataset_spark.plans.seeds import mix_sql

        base = spark.range(n).select(
            (F.col("id") * 7).alias("row_id"), F.col("id").alias("pos0")
        )
        got = collect_pos(
            _block_permute_pos(base, block, s=1234).drop("block_id")
        )
        ref = base.withColumn("_bk", F.expr(mix_sql(f"pos0 div {block}", 1234, "spark")))
        w = Window.orderBy("_bk", "pos0")
        want = collect_pos(ref.withColumn("pos", F.row_number().over(w) - F.lit(1)))
        assert got == want

    def test_empty_frame(self, spark):
        from scdataset_spark.operators.strategies import _block_permute_pos

        base = spark.range(0).select(
            F.col("id").alias("row_id"), F.col("id").alias("pos0")
        )
        assert _block_permute_pos(base, 8, s=1).count() == 0


class TestBlockPermuteBucketedOffsets:
    def _reference(self, base, block, s):
        from scdataset_spark.plans.seeds import mix_sql

        ref = base.withColumn(
            "_bk", F.expr(mix_sql(f"pos0 div {block}", s, "spark"))
        )
        w = Window.orderBy("_bk", "pos0")
        return collect_pos(
            ref.withColumn("pos", F.row_number().over(w) - F.lit(1))
        )

    @pytest.mark.parametrize("n,block", [(1000, 4), (997, 4), (64, 64)])
    def test_forced_chunk_and_bucket_boundaries(self, spark, monkeypatch, n, block):
        """Tiny chunk size + tiny bucket count force every boundary the
        scale path crosses; values must equal the global-window form."""
        monkeypatch.setattr(st, "BLOCK_META_CHUNK", 16)
        monkeypatch.setattr(st, "BLOCK_OFFSET_BUCKETS", 7)
        monkeypatch.setattr(st, "BLOCK_META_WINDOW_MAX", -1)
        base = spark.range(n).select(
            (F.col("id") * 3).alias("row_id"), F.col("id").alias("pos0")
        )
        got = collect_pos(
            st._block_permute_pos(base, block, s=4321).drop("block_id")
        )
        assert got == self._reference(base, block, s=4321)

    def test_blocks_offsets_window_is_bucketed_past_threshold(self, spark):
        """Past BLOCK_META_WINDOW_MAX (here: no file lineage, which
        resolves to the safe scale shape) the running sum over the
        blocks frame must be partitioned by the mix-key range bucket,
        not a single-partition global window (VERDICT r15 task 6)."""
        base = spark.range(10_000).select(
            F.col("id").alias("row_id"), F.col("id").alias("pos0")
        )
        assert input_probe(base)[1] is None  # range() has no files
        planned = st._block_permute_pos(base, 8, s=1).drop("block_id")
        plan = plan_text(planned, "simple")
        # the bucket is the static mix-key range, and the within-bucket
        # running sum of the block sizes is partitioned on it, fed by
        # its own keyed exchange
        assert re.search(
            rf"\(_bkey#\d+L \* {st.BLOCK_OFFSET_BUCKETS}\) div {MIX_MOD}\) AS _bucket#",
            plan,
        )
        assert re.search(r"Window \[sum\(_bn#\d+L\) windowspecdefinition\(_bucket#", plan)
        keyed = plan_subtrees(planned, "Exchange hashpartitioning(_bucket#")
        assert any("REPARTITION_BY_COL" in sub[0] for sub in keyed)
        # the only single-partition exchanges feed aggregates (the
        # count-star scalar, the <= BLOCK_OFFSET_BUCKETS-row per-bucket
        # totals), never a window over the blocks frame
        singles = plan_subtrees(planned, "Exchange SinglePartition")
        assert singles
        for sub in singles:
            assert "HashAggregate" in sub[1], sub[:2]

    def test_file_backed_small_frame_keeps_single_window(self, spark):
        """Below the threshold (tiny file-backed frame) the cheap
        single-window shape must remain — the scale shape's extra
        exchanges measured 2-4x the whole query at sf0.1
        (artifacts/r16/ab_blockpermute_*.jsonl)."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        nbytes = input_probe(li)[1]
        assert nbytes is not None
        assert nbytes // st._EST_MIN_BYTES_PER_ROW // 64 <= st.BLOCK_META_WINDOW_MAX
        base = li.withColumn("pos0", F.col("row_id"))
        plan = plan_text(st._block_permute_pos(base, 64, s=1).drop("block_id"))
        assert "hashpartitioning(_bucket" not in plan

    def test_scale_path_equals_window_path_on_file_backed_frame(
        self, spark, monkeypatch
    ):
        li = load_table(spark, "lineitem", SF_DIR_SMALL).select("row_id")
        base = li.withColumn("pos0", F.col("row_id"))
        window_shape = collect_pos(
            st._block_permute_pos(base, 32, s=99).drop("block_id")
        )
        monkeypatch.setattr(st, "BLOCK_META_WINDOW_MAX", -1)
        scale_shape = collect_pos(
            st._block_permute_pos(base, 32, s=99).drop("block_id")
        )
        assert window_shape == scale_shape


class TestWeightedDrawsSingleScan:
    def test_single_scan_equals_fused_meta_path(self, spark, monkeypatch):
        """The meta-free bucketing (row_id div chunk) must draw the
        identical multiset as the min/max range buckets (forced via
        unknown input bytes); both take the total from the persisted
        offsets frame."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        strat = st.BlockWeightedSampling(
            block_size=16, weight_col="l_quantity", total_size=300, replace=True
        )
        assert input_probe(li)[1] is not None  # file-backed: new path
        new_path = sorted(
            map(tuple, strat.plan(li, seed=5).select("row_id", "pos").collect())
        )
        monkeypatch.setattr(st, "input_probe", lambda df: (0, None))
        fused_meta = sorted(
            map(tuple, strat.plan(li, seed=5).select("row_id", "pos").collect())
        )
        assert new_path == fused_meta

    def test_single_scan_has_no_meta_crossjoin(self, spark):
        """The data side must not be crossJoined against a broadcast
        meta anymore: no BroadcastNestedLoopJoin above the lineitem
        scan in the draws plan."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        strat = st.BlockWeightedSampling(
            block_size=16, weight_col="l_quantity", total_size=300, replace=True
        )
        plan = plan_text(strat.plan(li, seed=5))
        assert "_lo" not in plan and "_hi" not in plan


_CDF_COLS = ["bucket", "row_id", "lo", "hi"]


@pytest.fixture
def cold_cache(spark):
    """No cached frame and an empty persist registry, before and after."""
    spark.catalog.clearCache()
    _cache._CACHE.clear()
    yield
    spark.catalog.clearCache()
    _cache._CACHE.clear()


def _cdf_entries() -> list:
    return [f for f in _cache._CACHE if f.columns == _CDF_COLS]


class TestCachedCdf:
    """The seed-independent interval frame of the weighted draws is
    persisted once per input and probed by every later epoch."""

    @staticmethod
    def _balanced(label: str = "l_returnflag") -> ClassBalancedSampling:
        return ClassBalancedSampling(label_col=label, block_size=16, total_size=500)

    def test_later_epochs_run_fewer_jobs(self, spark, li, cold_cache):
        """The CDF build is most of the first epoch's jobs; later epochs
        only draw, probe and permute (at this size 16 jobs, then 4 each;
        with only the offsets frame cached it was 16, then 9 each)."""
        sc = spark.sparkContext
        jobs = []
        plans = epoch_plans(self._balanced(), li, seed=3)
        for _ in range(3):
            epoch, plan = next(plans)
            group = f"cached-cdf-epoch-{epoch}"
            sc.setJobGroup(group, "one weighted epoch")
            try:
                plan.select("row_id", "pos").collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert jobs[1] <= jobs[0] // 2 and jobs[2] == jobs[1], jobs

    def test_registry_gains_one_cdf_entry(self, spark, li, cold_cache):
        sizes = []
        plans = epoch_plans(self._balanced(), li, seed=3)
        for _ in range(3):
            next(plans)[1].select("row_id", "pos").collect()
            assert len(_cdf_entries()) == 1
            sizes.append(len(_cache._CACHE))
        assert sizes == [sizes[0]] * 3

    def test_draws_equal_runs_without_cache(self, spark, li, cold_cache):
        """Two inputs in turn (two label columns): every epoch draws what
        a run that clears all caches first draws, so a cached CDF only
        ever serves its own input."""

        def run(clear: bool) -> list:
            out = []
            for label in ("l_returnflag", "l_linestatus"):
                for epoch in range(2):
                    if clear:
                        spark.catalog.clearCache()
                    plan = self._balanced(label).plan(li, seed=3, epoch=epoch)
                    out.append(collect_pos(plan.select("row_id", "pos")))
            return out

        cached = run(clear=False)
        assert run(clear=True) == cached
        assert cached[0] != cached[2]  # the two inputs draw differently

    def test_cached_partitions_follow_the_rule(self, spark, li, cold_cache, monkeypatch):
        """At the test size the cache holds ``python_stage_partitions``
        partitions; with the input bytes unknown it is not coalesced."""
        self._balanced().plan(li, seed=3)
        (cdf,) = _cdf_entries()
        coalesce = re.compile(r"\bRepartition \d+, false")
        assert coalesce.search(plan_text(cdf, "extended"))
        assert cdf.rdd.getNumPartitions() == python_stage_partitions(li)
        spark.catalog.clearCache()
        _cache._CACHE.clear()
        monkeypatch.setattr(st, "input_probe", lambda df: (0, None))
        self._balanced().plan(li, seed=3)
        (cdf,) = _cdf_entries()
        assert not coalesce.search(plan_text(cdf, "extended"))
        assert cdf.rdd.getNumPartitions() > python_stage_partitions(li)


class TestWeightedPlanMemo:
    """Each weighted strategy plans its seed-independent half once per
    input object; a later epoch on that object builds only its draws."""

    @staticmethod
    def _cases(li):
        weighted = li.withColumn("w", F.col("l_quantity"))
        return {
            "weighted": (
                lambda: BlockWeightedSampling(block_size=16, weight_col="w", total_size=500),
                weighted,
            ),
            "balanced": (
                lambda: ClassBalancedSampling(
                    label_col="l_returnflag", block_size=16, total_size=500
                ),
                li,
            ),
            "mixture": (
                lambda: MixtureSampling(
                    source_col="l_returnflag",
                    proportions_ppm={"A": 500_000, "N": 300_000, "R": 200_000},
                    block_size=16,
                    total_size=500,
                ),
                li,
            ),
        }

    @staticmethod
    def _analyzed(df) -> str:
        """The analyzed plan, expression and plan ids blanked."""
        text = re.sub(r"#[0-9]+", "#", df._jdf.queryExecution().analyzed().toString())
        return re.sub(r"plan_id=[0-9]+", "plan_id=", text)

    @pytest.mark.parametrize("name", ["weighted", "balanced", "mixture"])
    def test_epochs_equal_a_fresh_instance(self, spark, li, cold_cache, name):
        make, df = self._cases(li)[name]
        plans = epoch_plans(make(), df, seed=3)
        for _ in range(3):
            epoch, plan = next(plans)
            fresh = make().plan(df, seed=3, epoch=epoch)
            assert self._analyzed(plan) == self._analyzed(fresh), epoch
            assert collect_pos(plan.select("row_id", "pos")) == collect_pos(
                fresh.select("row_id", "pos")
            ), epoch

    def test_later_epoch_plans_only_its_draws(self, spark, li, cold_cache, monkeypatch):
        """No bucketed prefix is planned and no registry entry added
        after the first epoch."""
        calls = []

        def counted(*args, **kwargs):
            calls.append(1)
            return _bucketed_prefix(*args, **kwargs)

        monkeypatch.setattr(st, "_bucketed_prefix", counted)
        plans = epoch_plans(TestCachedCdf._balanced(), li, seed=3)
        next(plans)[1].select("row_id", "pos").collect()
        assert calls == [1]
        entries = [id(f) for f in _cache._CACHE]
        for _ in range(2):
            next(plans)[1].select("row_id", "pos").collect()
        assert calls == [1]
        assert [id(f) for f in _cache._CACHE] == entries

    def test_cleared_cache_is_persisted_again(self, spark, li, cold_cache):
        """``clearCache()`` leaves pyspark's ``is_cached`` flag set; the
        next epoch must still find the intervals uncached, persist them
        again and draw what a fresh instance draws."""
        plans = epoch_plans(TestCachedCdf._balanced(), li, seed=3)
        next(plans)[1].select("row_id", "pos").collect()
        spark.catalog.clearCache()
        (cdf,) = _cdf_entries()
        assert cdf.is_cached and not _cache._is_cached(cdf)
        epoch, plan = next(plans)
        got = collect_pos(plan.select("row_id", "pos"))
        (again,) = _cdf_entries()
        assert again is cdf and _cache._is_cached(cdf)
        fresh = TestCachedCdf._balanced().plan(li, seed=3, epoch=epoch)
        assert got == collect_pos(fresh.select("row_id", "pos"))

    def test_two_inputs_on_one_instance(self, spark, li, cold_cache):
        """Inputs with different weights, in turn on one instance: each
        draws what a fresh instance draws on it."""
        make = lambda: BlockWeightedSampling(block_size=16, weight_col="w", total_size=500)
        inputs = [
            li.withColumn("w", F.col("l_quantity")),
            li.withColumn("w", F.col("l_linenumber") * F.col("l_linenumber")),
        ]
        shared = make()
        got, want = [], []
        for epoch in range(2):
            for df in inputs:
                got.append(collect_pos(shared.plan(df, seed=3, epoch=epoch).select("row_id", "pos")))
                want.append(collect_pos(make().plan(df, seed=3, epoch=epoch).select("row_id", "pos")))
        assert got == want
        assert got[0] != got[1]

    def test_fresh_mixture_instances_share_one_entry_pair(self, spark, li, cold_cache):
        """The proportions are a literal relation, so a fresh
        ``MixtureSampling`` on the same input plans the registered
        interval and offsets frames again: one registry entry pair, not
        one per instance."""
        make, df = self._cases(li)["mixture"]
        got = [collect_pos(make().plan(df, seed=3).select("row_id", "pos")) for _ in range(2)]
        assert got[0] == got[1]
        assert len(_cdf_entries()) == 1 and len(_cache._CACHE) == 2

    def test_changed_field_plans_again(self, spark, li, cold_cache):
        """The memo is keyed on the field values too: a field changed
        between epochs takes effect."""
        strategy = TestCachedCdf._balanced()
        plans = epoch_plans(strategy, li, seed=3)
        assert next(plans)[1].count() == 500
        strategy.total_size = 300
        assert next(plans)[1].count() == 300


class TestWeightedRetryDeterminism:
    def test_failed_weight_attempts_give_the_clean_draws(self, tmp_path):
        """The weight column comes from a pandas UDF whose every first
        attempt raises, so the CDF build's stage is retried; epochs 0
        and 1 (the second one probes the cached CDF) must draw a clean
        run's ``(row_id, pos)``.  Runs in a child process on
        ``local[2,2]`` (two attempts per task), so the shared session
        keeps its master."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from scdataset_spark.operators.strategies import BlockWeightedSampling
from scdataset_spark.pipeline.export import epoch_plans
from scdataset_spark.session import get_spark
spark = get_spark("weighted_retry_determinism", shuffle_partitions=2)
spark.sparkContext.setLogLevel("OFF")
path = {str(tmp_path / "rows.parquet")!r}
spark.range(0, 3000, numPartitions=3).selectExpr(
    "id AS row_id", "(id * 7) % 13 + 1 AS q"
).write.parquet(path)
rows = spark.read.parquet(path)

@F.pandas_udf("double")
def clean(q: pd.Series) -> pd.Series:
    return q.astype("float64")

@F.pandas_udf("double")
def flaky(q: pd.Series) -> pd.Series:
    if TaskContext.get().attemptNumber() == 0:
        with open({str(tmp_path / "failed.txt")!r}, "a") as f:
            f.write("failed\\n")
        raise RuntimeError("first attempt fails")
    return q.astype("float64")

out = {{"master": spark.sparkContext.master}}
strategy = BlockWeightedSampling(block_size=16, weight_col="w", total_size=500)
for name, udf in (("clean", clean), ("flaky", flaky)):
    plans = epoch_plans(strategy, rows.withColumn("w", udf("q")), seed=3)
    out[name] = [
        sorted([r["row_id"], r["pos"]] for r in next(plans)[1].select("row_id", "pos").collect())
        for _ in range(2)
    ]
print(json.dumps(out))
spark.stop()
"""
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_MASTER="local[2,2]")
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["master"] == "local[2,2]"
        assert (tmp_path / "failed.txt").read_text().split()
        assert out["flaky"] == out["clean"]
        assert len(out["clean"][0]) == 500 and out["clean"][0] != out["clean"][1]


class TestBlockShufflingRetryDeterminism:
    def test_failed_input_attempts_give_the_clean_permutation(self, tmp_path):
        """The row ids come from a pandas UDF whose every first attempt
        raises, so each stage that computes them is retried.  With
        ``assume_dense`` and ``drop_last`` the drop keys are mixed in
        those retried scan tasks; epochs 0 and 1 must still give a clean
        run's ``(row_id, pos)``.  Child process on ``local[2,2]``, as
        above."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from scdataset_spark.operators.strategies import BlockShuffling
from scdataset_spark.pipeline.export import epoch_plans
from scdataset_spark.session import get_spark
spark = get_spark("block_shuffle_retry_determinism", shuffle_partitions=2)
spark.sparkContext.setLogLevel("OFF")
ids = spark.range(0, 3000, numPartitions=3)

@F.pandas_udf("bigint")
def clean(i: pd.Series) -> pd.Series:
    return i

@F.pandas_udf("bigint")
def flaky(i: pd.Series) -> pd.Series:
    if TaskContext.get().attemptNumber() == 0:
        with open({str(tmp_path / "failed.txt")!r}, "a") as f:
            f.write("failed\\n")
        raise RuntimeError("first attempt fails")
    return i

out = {{"master": spark.sparkContext.master}}
strategy = BlockShuffling(block_size=16, drop_last=True, assume_dense=True)
for name, udf in (("clean", clean), ("flaky", flaky)):
    plans = epoch_plans(strategy, ids.select(udf("id").alias("row_id")), seed=3)
    out[name] = [
        sorted([r["row_id"], r["pos"]] for r in next(plans)[1].select("row_id", "pos").collect())
        for _ in range(2)
    ]
print(json.dumps(out))
spark.stop()
"""
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_MASTER="local[2,2]")
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["master"] == "local[2,2]"
        assert (tmp_path / "failed.txt").read_text().split()
        assert out["flaky"] == out["clean"]
        kept = 3000 - 3000 % 16
        for epoch in out["clean"]:
            assert len(epoch) == kept and sorted(p for _, p in epoch) == list(range(kept))
        assert out["clean"][0] != out["clean"][1]


class TestDropLastTopK:
    """drop_last's k = n % block_size rows come from a sort-LIMIT
    top-(block_size-1) candidate pass + arithmetic re-rank, replacing
    two full bucketed global ranks — values must equal the global-window
    reference at every remainder edge (k = 0, 0 < k < block, k = n)."""

    def _reference(self, spark, n, block, seed):
        from scdataset_spark.plans.seeds import mix_sql

        p = spark.range(n).select(
            F.col("id").alias("row_id"), F.col("id").alias("pos0")
        )
        k = n % block
        w_d = Window.orderBy(
            F.expr(mix_sql("pos0", seed + 1, "spark")).desc(),
            F.col("pos0").asc(),
        )
        kept = (
            p.withColumn("_drnk", F.row_number().over(w_d))
            .where(F.col("_drnk") > k)
            .drop("_drnk")
        )
        w_p = Window.orderBy("row_id")
        kept = kept.withColumn("pos0", F.row_number().over(w_p) - F.lit(1))
        w_b = Window.orderBy(
            F.expr(mix_sql(f"pos0 div {block}", seed, "spark")), F.col("pos0")
        )
        return collect_pos(
            kept.withColumn("pos", F.row_number().over(w_b) - F.lit(1)).select(
                "row_id", "pos"
            )
        )

    @pytest.mark.parametrize(
        "n,block",
        [
            (1000, 64),  # k = 40: the generic drop
            (1024, 64),  # k = 0: nothing drops
            (37, 64),    # k = n: the whole partial block drops
            (1000, 1),   # k always 0 at block 1 (limit(0) candidate set)
        ],
    )
    def test_topk_drop_equals_global_window_reference(self, spark, n, block):
        base = spark.range(n).select(F.col("id").alias("row_id"))
        got = collect_pos(
            st.BlockShuffling(block_size=block, drop_last=True, assume_dense=True)
            .plan(base, seed=7)
            .select("row_id", "pos")
        )
        assert got == self._reference(spark, n, block, seed=7)

    def test_drop_path_has_no_full_data_rank(self, spark):
        """The drop set must come from TakeOrderedAndProject; the
        pre-r16 full bucketed ranks keyed their data exchanges on
        _bucket — neither may reappear."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        plan = plan_text(
            st.BlockShuffling(block_size=64, drop_last=True, assume_dense=True)
            .plan(li, seed=7)
            .select("row_id", "pos")
        )
        assert "TakeOrderedAndProject" in plan
        assert "hashpartitioning(_bucket" not in plan

    def test_block_size_is_bounded(self):
        st.BlockShuffling(block_size=st.DROP_LAST_BLOCK_MAX, drop_last=True)
        st.BlockShuffling(block_size=st.DROP_LAST_BLOCK_MAX + 1)
        with pytest.raises(ValueError, match="DROP_LAST_BLOCK_MAX"):
            st.BlockShuffling(block_size=st.DROP_LAST_BLOCK_MAX + 1, drop_last=True)


class TestMixturePlan:
    def test_exact_plan_values(self, spark):
        data = [("web",)] * 8 + [("code",)] * 4 + [("math",)] * 1
        df = spark.createDataFrame(data, "source string")
        out = {
            r.source: r
            for r in mixture_plan(
                df, {"web": 600_000, "code": 300_000, "math": 100_000}
            ).collect()
        }
        # caps: web 13, code 13, math 10 -> T = 10
        assert (out["web"].planned_rows, out["code"].planned_rows, out["math"].planned_rows) == (6, 3, 1)
        assert out["math"].sample_ppm == 1_000_000
        assert out["web"].sample_ppm == 750_000
        assert out["code"].sample_ppm == 750_000
        assert out["web"].n_rows == 8

    def test_missing_source_raises_at_action(self, spark):
        df = spark.createDataFrame([("web",)], "source string")
        plan = mixture_plan(df, {"web": 500_000, "ghost": 500_000})  # lazy
        with pytest.raises(Exception, match="no rows"):
            plan.collect()

    def test_validation(self, spark):
        df = spark.createDataFrame([("web",)], "source string")
        with pytest.raises(ValueError):
            mixture_plan(df, {})
        with pytest.raises(ValueError):
            mixture_plan(df, {"web": 0})

    def test_plan_construction_runs_no_job(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        assert_no_jobs(
            spark.sparkContext,
            "mixture-plan-lazy",
            lambda: mixture_plan(docs, {"src0": 500_000, "src1": 500_000}),
        )
