"""Round-16 optimization pins: the changed operator internals stay
value-identical to their reference forms, and the plan shapes the
optimization fixed stay fixed.

- `_block_permute_pos`'s block-METADATA frame is scale-safe: generation
  is a two-level (chunked) explode and the exclusive running sum over
  (mix key, block_id) order is bucketed — both verified value-identical
  to the single-window reference, including across forced chunk/bucket
  boundaries.
- `_streamed_bucket_gram`'s bucket-key exchange is a user-specified
  partition count (REPARTITION_BY_NUM — exempt from AQE byte-based
  coalescing), as is `semantic_dedup_fast`'s dominance-stage exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, Window

from scdataset_spark.catalog import load_table
from scdataset_spark.operators import strategies as st
from scdataset_spark.session import input_probe

from tests._helpers import collect_pos, plan_text
from tests.conftest import SF_DIR_SMALL


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
        plan = plan_text(st._block_permute_pos(base, 8, s=1).drop("block_id"))
        # within-bucket window partitioned on _obkt, fed by its own
        # keyed exchange; the only remaining orderBy-window runs over
        # the <= BLOCK_OFFSET_BUCKETS-row per-bucket sums frame
        assert "hashpartitioning(_obkt" in plan
        assert "_bloc" in plan  # the bucket-local prefix column

    def test_file_backed_small_frame_keeps_single_window(self, spark):
        """Below the threshold (tiny file-backed frame) the cheap
        single-window shape must remain — the scale shape's extra
        exchanges measured 2-4x the whole query at sf0.1
        (artifacts/r16/ab_blockpermute_*.jsonl)."""
        from scdataset_spark.catalog import load_table

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        nbytes = input_probe(li)[1]
        assert nbytes is not None
        assert nbytes // st._EST_MIN_BYTES_PER_ROW // 64 <= st.BLOCK_META_WINDOW_MAX
        base = li.withColumn("pos0", F.col("row_id"))
        plan = plan_text(st._block_permute_pos(base, 64, s=1).drop("block_id"))
        assert "hashpartitioning(_obkt" not in plan

    def test_scale_path_equals_window_path_on_file_backed_frame(
        self, spark, monkeypatch
    ):
        from scdataset_spark.catalog import load_table

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

    def test_weighted_gate_sized_from_draw_count(self, spark, monkeypatch, tmp_path):
        """The weighted path sizes the blocks frame from its draw count,
        not from the source table's bytes: many draws from a small
        table take the scale shape, with the same positions."""
        path = str(tmp_path / "small")
        spark.range(100).select(
            F.col("id").alias("row_id"), (F.col("id") % 5 + 1).alias("w")
        ).write.parquet(path)
        small = spark.read.parquet(path)
        block, draws = 4, 2000
        table_blocks = input_probe(small)[1] // st._EST_MIN_BYTES_PER_ROW // block
        assert table_blocks < draws // block
        strat = st.BlockWeightedSampling(
            block_size=block, weight_col="w", total_size=draws, replace=True
        )
        monkeypatch.setattr(st, "DIRECT_PERMUTE_MAX", 0)
        monkeypatch.setattr(st, "BLOCK_META_WINDOW_MAX", 10**9)
        window_shape = collect_pos(strat.plan(small, seed=3))
        monkeypatch.setattr(
            st, "BLOCK_META_WINDOW_MAX", (table_blocks + draws // block) // 2
        )
        planned = strat.plan(small, seed=3)
        assert "_obkt" in plan_text(planned)
        assert collect_pos(planned) == window_shape


class TestWeightedDrawsSingleScan:
    def test_single_scan_equals_fused_meta_path(self, spark, monkeypatch):
        """The r16 meta-free bucketing (row_id div chunk, total from the
        persisted offsets frame) must draw the identical multiset as the
        r15 fused-meta shape (forced via unknown input bytes)."""
        from scdataset_spark.catalog import load_table

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
        from scdataset_spark.catalog import load_table

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        strat = st.BlockWeightedSampling(
            block_size=16, weight_col="l_quantity", total_size=300, replace=True
        )
        plan = plan_text(strat.plan(li, seed=5))
        assert "_lo" not in plan and "_hi" not in plan


class TestTopkShapeGate:
    def test_small_corpus_takes_single_window(self, spark, monkeypatch):
        """File-backed candidates under TWO_PHASE_MIN_BYTES rank through
        ONE per-query window (no salt column in the plan); forcing the
        two-phase shape (threshold 0) gives identical rows (r16 A/B: single-window is
        30-40% faster at bench scales, two-phase is the >=100k-vector
        hot-group posture)."""
        import scdataset_spark.operators.similarity as sim
        from scdataset_spark.catalog import load_table
        from pyspark.sql import functions as F

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 3").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        assert input_probe(c)[1] is not None
        auto = sim.brute_force_topk(q, c, k=5)
        assert "_salt" not in plan_text(auto)
        monkeypatch.setattr(sim, "TWO_PHASE_MIN_BYTES", 0)
        forced = sim.brute_force_topk(q, c, k=5)
        assert "_salt" in plan_text(forced)
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, forced.collect())
        )

    def test_no_file_lineage_takes_scale_shape(self, spark):
        import scdataset_spark.operators.similarity as sim
        from pyspark.sql import functions as F

        vecs = spark.range(32).select(
            F.col("id").alias("c_id"),
            F.expr(
                "transform(sequence(1, 8), i -> CAST(id % (i + 1) AS DOUBLE))"
            ).alias("embedding"),
        )
        q = vecs.where("c_id < 2").withColumnRenamed("c_id", "q_id")
        assert input_probe(vecs)[1] is None
        assert "_salt" in plan_text(sim.brute_force_topk(q, vecs, k=3))


class TestSimilarityPythonStagePartitions:
    def test_gram_stage_keeps_configured_partitions(self, spark):
        import scdataset_spark.operators.similarity as sim

        emb = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 8), i -> CAST(id % (i + 1) AS DOUBLE))"
            ).alias("v"),
        )
        out = sim.embed_cosine_pairs_fast(
            emb, id_col="vec_id", vec="v", threshold=0.5,
            bands=2, rows_per_band=4, dim=8,
        )
        assert "REPARTITION_BY_NUM" in plan_text(out)

    def test_dominance_stage_keeps_configured_partitions(self, spark):
        import scdataset_spark.operators.similarity as sim

        emb = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 8), i -> CAST(id % (i + 1) AS DOUBLE))"
            ).alias("v"),
        )
        out = sim.semantic_dedup_fast(
            emb, id_col="vec_id", vec="v", threshold=0.98, n_rows=64
        )
        assert "REPARTITION_BY_NUM" in plan_text(out)


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
        from scdataset_spark.catalog import load_table

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        plan = plan_text(
            st.BlockShuffling(block_size=64, drop_last=True, assume_dense=True)
            .plan(li, seed=7)
            .select("row_id", "pos")
        )
        assert "TakeOrderedAndProject" in plan
        assert "hashpartitioning(_bucket" not in plan
