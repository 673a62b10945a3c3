"""IVF ANN recall, attach_weights dual resolution, epoch-plan export."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.similarity import brute_force_topk, ivf_topk, random_projection
from scdataset_spark.operators.strategies import attach_weights, Streaming
from scdataset_spark.pipeline.export import write_epoch_plan
from scdataset_spark.plans.plan import with_batches

from scdataset_spark.session import input_probe

from tests._helpers import assert_no_jobs, cand_queries, cands, plan_text
from tests.conftest import SF_DIR_SMALL


class TestIVF:
    def test_recall_vs_brute_force(self, spark):
        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        exact = brute_force_topk(q, c, k=5)
        approx = ivf_topk(q, c, k=5, n_clusters=8, n_probe=3)
        ex = {(r.q_id, r.c_id) for r in exact.collect()}
        ap = {(r.q_id, r.c_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        # 3/8 of cells probed: recall must beat random cell selection
        assert recall >= 0.5, f"IVF recall {recall}"
        # every query answered
        assert approx.select("q_id").distinct().count() == 10

    def test_deterministic_given_seed(self, spark):
        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        a = sorted(map(tuple, ivf_topk(q, c, k=3, seed=11).collect()))
        b = sorted(map(tuple, ivf_topk(q, c, k=3, seed=11).collect()))
        assert a == b

    def test_seeded_ivf_recall_vs_brute_force(self, spark):
        """The oracle-checked seeded-centroid IVF must also be a decent
        ANN: with 3/8 cells probed, recall well above the 3/8 baseline."""
        from scdataset_spark.operators.similarity import ivf_seeded_topk

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        exact = brute_force_topk(q, c, k=5)
        approx = ivf_seeded_topk(q, c, k=5, n_clusters=8, n_probe=3)
        ex = {(r.q_id, r.c_id) for r in exact.collect()}
        ap = {(r.q_id, r.c_id) for r in approx.collect()}
        assert len(ex & ap) / len(ex) >= 0.5
        assert approx.select("q_id").distinct().count() == 10


class TestBandedLSHPairs:
    def test_full_recall_vs_brute_force_on_planted_corpus(self, spark):
        """Banded LSH candidates must contain every true near-dup pair
        (cosine >= 0.98) of the planted corpus at sf0.001 — and shrink
        the candidate set far below all-pairs."""
        import numpy as np

        from scdataset_spark.operators.similarity import lsh_banded_pairs
        from scdataset_spark.queries.llm import emb_corpus

        c = emb_corpus(spark, SF_DIR_SMALL)
        rows = c.collect()
        n = len(rows)
        ids = np.array([r.vec_id for r in rows])
        V = np.array([r.v for r in rows], dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = np.round(Vn @ Vn.T, 4)
        ia, ib = np.triu_indices(n, 1)
        hit = C[ia, ib] >= 0.98
        truth = {
            (int(min(x, y)), int(max(x, y)))
            for x, y in zip(ids[ia[hit]], ids[ib[hit]])
        }
        cand = {(r.id_a, r.id_b) for r in lsh_banded_pairs(c, vec="v").collect()}
        assert truth, "planted corpus must contain true near-dup pairs"
        assert truth <= cand, f"missed pairs: {sorted(truth - cand)[:5]}"
        assert len(cand) < 0.05 * n * (n - 1) / 2, f"fan-out too high: {len(cand)}"


class TestProjectedAnnPairs:
    def test_recall_band_vs_unprojected_brute_force(self, spark):
        """The 16-dim projected-bucket ANN path must (a) return ONLY
        true pairs (exact verify on original vectors) and (b) retain
        most of them: each ~0.9995-cosine planted pair flips any of the
        16 projected sign bits with p ~ angle/pi, giving expected
        recall ~(1 - 0.01)^16 ~ 0.85 — pin a 0.6 floor."""
        import numpy as np

        from scdataset_spark.operators.similarity import projected_bucket_pairs
        from scdataset_spark.queries.llm import emb_corpus

        c = emb_corpus(spark, SF_DIR_SMALL)
        rows = c.collect()
        n = len(rows)
        ids = np.array([r.vec_id for r in rows])
        V = np.array([r.v for r in rows], dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = np.round(Vn @ Vn.T, 4)
        ia, ib = np.triu_indices(n, 1)
        hit = C[ia, ib] >= 0.98
        truth = {
            (int(min(x, y)), int(max(x, y)))
            for x, y in zip(ids[ia[hit]], ids[ib[hit]])
        }
        got = {
            (r.id_a, r.id_b)
            for r in projected_bucket_pairs(
                c, id_col="vec_id", vec_col="v", threshold=0.98
            ).collect()
        }
        assert truth, "planted corpus must contain true near-dup pairs"
        assert got <= truth, f"false pairs: {sorted(got - truth)[:5]}"
        recall = len(got & truth) / len(truth)
        assert recall >= 0.6, f"projected-bucket recall {recall}"

    def test_local_verify_matches_join_verify(self, spark):
        """verify_local=True (bucket-local BLAS Gram, the clustered-
        corpus scale path) must produce the identical pair set as the
        exact join verify, with cosines agreeing to the shared
        rounding."""
        from scdataset_spark.operators.similarity import projected_bucket_pairs
        from scdataset_spark.queries.llm import emb_corpus

        c = emb_corpus(spark, SF_DIR_SMALL)
        join_pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in projected_bucket_pairs(
                c, id_col="vec_id", vec_col="v", threshold=0.98
            ).collect()
        }
        local_pairs = {
            (r.id_a, r.id_b): r.cosine
            for r in projected_bucket_pairs(
                c, id_col="vec_id", vec_col="v", threshold=0.98,
                verify_local=True,
            ).collect()
        }
        assert set(join_pairs) == set(local_pairs)
        for pair, cos in join_pairs.items():
            # float32 transport on the local path: 5e-4 envelope
            assert abs(local_pairs[pair] - cos) < 5e-4, (pair, cos)

    def test_vectorized_projection_matches_decimal_buckets(self, spark):
        """The BLAS sign-bit projection must land every vector in the
        SAME bucket as the decimal-exact HOF projection (a sign can
        only differ where a projection sits within ulps of exactly 0),
        so the full fast-path pair set equals the slow path's."""
        from scdataset_spark.operators.similarity import projected_bucket_pairs
        from scdataset_spark.queries.llm import emb_corpus

        c = emb_corpus(spark, SF_DIR_SMALL)
        slow = {
            (r.id_a, r.id_b)
            for r in projected_bucket_pairs(
                c, id_col="vec_id", vec_col="v", threshold=0.98,
                verify_local=True,
            ).collect()
        }
        fast = {
            (r.id_a, r.id_b)
            for r in projected_bucket_pairs(
                c, id_col="vec_id", vec_col="v", threshold=0.98,
                verify_local=True, vectorized_projection=True,
            ).collect()
        }
        assert slow == fast, f"{len(slow ^ fast)} differing pairs"


class TestAttachWeights:
    def test_global_scope_joins_by_row_id(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        weights = cust.select("row_id", (F.col("c_custkey") % 5 + 1).cast("double").alias("w"))
        sub = cust.where("c_mktsegment = 'BUILDING'")
        out = attach_weights(sub, weights, scope="global")
        assert out.count() == sub.count()
        assert "w" in out.columns

    def test_subset_scope_cardinality_check_raises_at_action(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        sub = cust.where("c_mktsegment = 'BUILDING'")
        wrong = spark.range(3).select(
            F.col("id").alias("pos"), F.lit(1.0).alias("w")
        )
        # plan construction is lazy — the mismatch surfaces in-plan at
        # the first action that evaluates the weight column
        planned = attach_weights(sub, wrong, scope="subset")
        with pytest.raises(Exception, match="must match subset size"):
            planned.collect()
        # the other direction: more weights than subset rows
        too_many = spark.range(10_000_000).select(
            F.col("id").alias("pos"), F.lit(1.0).alias("w")
        )
        with pytest.raises(Exception, match="must match subset size"):
            attach_weights(sub, too_many, scope="subset").collect()

    def test_subset_scope_plan_construction_runs_no_job(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        sub = cust.where("c_mktsegment = 'BUILDING'")
        weights = spark.range(3).select(
            F.col("id").alias("pos"), F.lit(1.0).alias("w")
        )
        planned = assert_no_jobs(
            spark.sparkContext,
            "attach-weights-lazy-check",
            lambda: attach_weights(sub, weights, scope="subset"),
        )
        assert "w" in planned.columns

    def test_subset_scope_positional_alignment(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        sub = cust.where("c_custkey <= 20")
        n = sub.count()
        weights = spark.range(n).select(
            F.col("id").alias("pos"), (F.col("id") + 1).cast("double").alias("w")
        )
        out = attach_weights(sub, weights, scope="subset").orderBy("row_id").collect()
        # k-th smallest row_id gets weight k+1 (positional semantics)
        assert [r.w for r in out] == [float(i + 1) for i in range(n)]

    def test_unknown_scope(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        with pytest.raises(ValueError, match="unknown weights scope"):
            attach_weights(cust, cust, scope="nope")


class TestEpochPlanExport:
    def test_write_epoch_plan_layout(self, spark, tmp_path):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=3), batch_size=64, fetch_factor=8)
        out = str(tmp_path / "epoch0")
        write_epoch_plan(planned, out, columns=["row_id", "l_quantity"])
        back = spark.read.parquet(out)
        assert back.count() == li.count()
        # fetch-partitioned layout on disk
        dirs = [d for d in os.listdir(out) if d.startswith("fetch_id=")]
        assert len(dirs) == planned.select("fetch_id").distinct().count()
        # within one fetch file, rows are pos-sorted
        one = back.where("fetch_id = 0").orderBy("pos").collect()
        raw = spark.read.parquet(os.path.join(out, "fetch_id=0")).collect()
        assert [r.pos for r in raw] == [r.pos for r in one]


class TestEmbedCosinePairsFast:
    def test_fast_equals_exact_on_planted_corpus(self, spark):
        """Bucket-local verify must reproduce the exact candidate-join
        chain pair-for-pair AND cosine-for-cosine (4 digits) on the
        planted corpus — same banding contract, so the only possible
        divergence is float32 transport on a boundary-straddling pair,
        and the planted cosines sit far from 0.98."""
        from scdataset_spark.operators.similarity import (
            embed_cosine_pairs_fast,
            lsh_banded_pairs,
        )
        from scdataset_spark.operators import similarity as sim
        from scdataset_spark.queries.llm import (
            EMB_BANDS,
            EMB_ROWS_PER_BAND,
            emb_corpus,
        )

        c = emb_corpus(spark, SF_DIR_SMALL)
        cand = lsh_banded_pairs(
            c, id_col="vec_id", vec="v",
            bands=EMB_BANDS, rows_per_band=EMB_ROWS_PER_BAND,
        )
        a = c.select(
            F.col("vec_id").alias("id_a"), F.col("v").alias("_va"),
            sim.norm_col("v").alias("_na"),
        )
        b = c.select(
            F.col("vec_id").alias("id_b"), F.col("v").alias("_vb"),
            sim.norm_col("v").alias("_nb"),
        )
        exact = {
            (r.id_a, r.id_b): r.cos
            for r in cand.join(a, "id_a").join(b, "id_b")
            .withColumn("cos", sim.cosine_norm_expr("_va", "_vb", "_na", "_nb"))
            .where(F.col("cos") >= 0.98)
            .select("id_a", "id_b", "cos")
            .collect()
        }
        fast = {
            (r.id_a, r.id_b): r.cos
            for r in embed_cosine_pairs_fast(
                c, id_col="vec_id", vec="v", threshold=0.98,
                bands=EMB_BANDS, rows_per_band=EMB_ROWS_PER_BAND,
                max_bucket=None,
            ).collect()
        }
        assert exact, "planted corpus must contain near-dup pairs"
        assert set(exact) == set(fast), (
            f"pair sets differ: {sorted(set(exact) ^ set(fast))[:5]}"
        )
        for pair, cos in exact.items():
            assert abs(fast[pair] - cos) < 5e-4, (pair, cos, fast[pair])

    def test_string_ids_supported_on_both_paths(self, spark):
        """The mapInPandas schemas derive the id type from the input
        frame, so string doc ids must flow through banding + bucket
        verify unchanged on BOTH the vectorized and fold signature
        paths (regression: the vectorized path hardcoded bigint and
        read ids positionally)."""
        from scdataset_spark.operators.similarity import embed_cosine_pairs_fast

        base = [float(i % 7 + 1) for i in range(64)]
        near = [v + 1e-4 for v in base]
        far = [float((-1) ** i * (i % 5 + 1)) for i in range(64)]
        df = spark.createDataFrame(
            [("doc-a", base), ("doc-b", near), ("doc-c", far)],
            "id string, embedding array<double>",
        )
        for vectorized in (True, False):
            pairs = {
                (r.id_a, r.id_b)
                for r in embed_cosine_pairs_fast(
                    df, id_col="id", vec="embedding", threshold=0.98,
                    bands=8, rows_per_band=8,
                    vectorized_signatures=vectorized,
                ).collect()
            }
            assert pairs == {("doc-a", "doc-b")}, (vectorized, pairs)

    def test_vectorized_and_fold_signatures_agree(self, spark):
        """The BLAS signature matmul must produce the identical pair
        set and cosines as the Catalyst HOF fold — a sign bit can only
        differ where a projection sits within summation-order ulps of
        zero, which real embeddings never do."""
        from scdataset_spark.operators.similarity import embed_cosine_pairs_fast
        from scdataset_spark.queries.llm import (
            EMB_BANDS,
            EMB_ROWS_PER_BAND,
            emb_corpus,
        )

        c = emb_corpus(spark, SF_DIR_SMALL)
        kw = dict(
            id_col="vec_id", vec="v", threshold=0.98,
            bands=EMB_BANDS, rows_per_band=EMB_ROWS_PER_BAND,
            max_bucket=None,
        )
        vec = {
            (r.id_a, r.id_b): r.cos
            for r in embed_cosine_pairs_fast(
                c, vectorized_signatures=True, **kw
            ).collect()
        }
        fold = {
            (r.id_a, r.id_b): r.cos
            for r in embed_cosine_pairs_fast(
                c, vectorized_signatures=False, **kw
            ).collect()
        }
        assert vec == fold and vec

    def test_max_bucket_skips_saturated_buckets(self, spark):
        """A hot (band, sig) bucket above the cap must contribute no
        pairs — mirrors lsh_banded_pairs' backstop semantics."""
        import numpy as np

        from scdataset_spark.operators.similarity import embed_cosine_pairs_fast

        rng = np.random.default_rng(5)
        base = rng.normal(size=16)
        rows = [
            (i, [float(x) for x in base + rng.normal(scale=1e-4, size=16)])
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        full = embed_cosine_pairs_fast(
            df, dim=16, rows_per_band=8, bands=4, max_bucket=None
        ).count()
        capped = embed_cosine_pairs_fast(
            df, dim=16, rows_per_band=8, bands=4, max_bucket=10
        ).count()
        assert full == 30 * 29 // 2
        assert capped == 0


class TestBandSizingValidation:
    def test_target_recall_bounds(self):
        import pytest as _pytest

        from scdataset_spark.operators.similarity import lsh_bands_for_recall

        with _pytest.raises(ValueError, match="target_recall"):
            lsh_bands_for_recall(24, 0.98, target_recall=1.0)
        with _pytest.raises(ValueError, match="target_recall"):
            lsh_bands_for_recall(24, 0.98, target_recall=0.0)
        with _pytest.raises(ValueError, match="min_cosine"):
            lsh_bands_for_recall(24, 1.5)

    def test_oversized_band_count_rejected(self):
        import pytest as _pytest

        from scdataset_spark.operators.similarity import lsh_bands_for_recall

        # 64-bit bands at cosine 0.9: p_band ~ 3e-10 -> astronomical
        # band count must raise, not silently return
        with _pytest.raises(ValueError, match="band count"):
            lsh_bands_for_recall(64, 0.90, target_recall=0.999)

    def test_normal_sizing_unchanged(self):
        from scdataset_spark.operators.similarity import lsh_bands_for_recall

        assert lsh_bands_for_recall(24, 0.98, 0.999) == 30
        assert lsh_bands_for_recall(3, 0.98, 0.95) == 2  # minhash-ish regime


class TestProjectedMaxBucket:
    def test_saturated_bucket_is_screened(self, spark):
        """max_bucket drops over-full buckets before any verification
        — identical duplicate vectors land in one bucket, so capping
        below the group size must yield zero pairs while the uncapped
        run returns all of them (both verify paths)."""
        from scdataset_spark.operators.similarity import projected_bucket_pairs

        base = [float(i % 9 + 1) for i in range(64)]
        df = spark.createDataFrame(
            [(i, base) for i in range(5)], "vec_id bigint, v array<double>"
        )
        for local in (False, True):
            full = projected_bucket_pairs(
                df, id_col="vec_id", vec_col="v", threshold=0.9,
                verify_local=local,
            ).count()
            capped = projected_bucket_pairs(
                df, id_col="vec_id", vec_col="v", threshold=0.9,
                verify_local=local, max_bucket=4,
            ).count()
            assert full == 10, (local, full)  # C(5,2) identical vectors
            assert capped == 0, (local, capped)


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


class TestIvfAutoCells:
    def test_resolver_math(self):
        from scdataset_spark.operators.similarity import (
            IVF_CELL_BUDGET,
            _resolve_ivf_cells,
        )

        # explicit pin passes through untouched, no count triggered
        assert _resolve_ivf_cells(8, None, None) == (8, None)
        # auto: small corpus floors at 8 cells
        assert _resolve_ivf_cells(None, None, 4_000) == (8, 4_000)
        # auto: production corpus scales ~n/4500
        n = 10_000_000
        cells, n_out = _resolve_ivf_cells(None, None, n)
        assert cells == n // IVF_CELL_BUDGET == 2222 and n_out == n

    def test_ivf_auto_cells(self, spark):
        """Forced n_rows=10M on a tiny fixture must flip BOTH auto
        knobs — the cell count (2222 seeded centroids requested; the
        4 k-vector fixture caps what limit() returns, but the resolved
        k exceeds every fixed default) and the BLAS assignment
        (MapInPandas in the plan) — while the pinned oracle shape
        keeps the lazy HOF plan."""
        from scdataset_spark.operators.similarity import ivf_seeded_topk

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        auto_big = ivf_seeded_topk(q, c, k=3, seed=11, n_rows=10_000_000)
        assert "MapInPandas" in plan_text(auto_big)
        pinned = ivf_seeded_topk(
            q, c, k=3, n_clusters=8, seed=11, vectorized_assign=False
        )
        assert "MapInPandas" not in plan_text(pinned)

    def test_auto_small_equals_pinned_oracle_shape(self, spark):
        """At fixture scale the auto default resolves to the floor (8
        cells, HOF assign) — byte-identical rows to the explicit
        oracle pin, so the registered query's values ARE the default
        path's values at small n."""
        from scdataset_spark.operators.similarity import ivf_seeded_topk

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        auto = sorted(map(tuple, ivf_seeded_topk(q, c, k=3, seed=11).collect()))
        pinned = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=8, seed=11, vectorized_assign=False
                ).collect(),
            )
        )
        assert auto == pinned and auto

    def test_blas_assign_equals_hof_at_forced_scale(self, spark):
        """The defaults-at-scale run (big n_rows -> scaled cells + BLAS
        assign) must return the same rows as the HOF argmin pinned to
        the SAME resolved cell count — the posture flip changes the
        physical plan, never the result."""
        from scdataset_spark.operators.similarity import (
            _resolve_ivf_cells,
            ivf_seeded_topk,
        )

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        cells, _ = _resolve_ivf_cells(None, None, 10_000_000)
        auto = sorted(
            map(tuple, ivf_seeded_topk(q, c, k=3, seed=11, n_rows=10_000_000).collect())
        )
        hof = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=cells, seed=11, vectorized_assign=False
                ).collect(),
            )
        )
        assert auto == hof and auto

    def test_pq_topk_auto_cells(self, spark):
        """pq_topk's n_clusters=None resolves under the same contract:
        forced-big n_rows flips cells + both BLAS twins (MapInPandas
        appears); result equals the run with every knob pinned to the
        resolved values."""
        from scdataset_spark.operators.similarity import (
            _resolve_ivf_cells,
            pq_topk,
        )

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        cells, _ = _resolve_ivf_cells(None, None, 10_000_000)
        auto_df = pq_topk(q, c, k=3, refine=3, seed=11, n_rows=10_000_000)
        assert "MapInPandas" in plan_text(auto_df)
        auto = sorted(map(tuple, auto_df.collect()))
        pinned = sorted(
            map(
                tuple,
                pq_topk(
                    q, c, k=3, refine=3, n_clusters=cells, seed=11,
                    vectorized_encode=True, vectorized_assign=True,
                ).collect(),
            )
        )
        assert auto == pinned and auto

    def test_ivf_topk_auto_cells_floor(self, spark):
        """The MLlib-KMeans variant shares the resolver: auto at
        fixture scale = the 8-cell floor, equal to an explicit 8-cell
        run (KMeans is seeded, so same cells -> same result)."""
        from scdataset_spark.operators.similarity import ivf_topk

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        auto = sorted(map(tuple, ivf_topk(q, c, k=3, seed=11).collect()))
        pinned = sorted(
            map(tuple, ivf_topk(q, c, k=3, n_clusters=8, seed=11).collect())
        )
        assert auto == pinned and auto


class TestRoutedAssignment:
    def test_routed_equals_flat_blas_at_large_cell_count(self, spark):
        """Past ROUTE_CELLS the vectorized assignment flips to the
        bound-pruned routed search (shared with semantic_dedup_fast);
        it must agree with the flat BLAS argmin on every row (exact by
        the triangle-inequality bound, same lowest-index tie rule)."""
        from scdataset_spark.operators.similarity import (
            assign_cells_routed,
            assign_nearest_cell_blas,
            seeded_centroids,
        )

        c = cands(spark, SF_DIR_SMALL)
        cent = seeded_centroids(c, 600, 11, "c_id", "embedding")
        src = c.select("c_id", F.col("embedding").alias("_v"))
        routed = {
            r["c_id"]: r["_cell"]
            for r in assign_cells_routed(
                src, cent, "c_id", "_v", 512, out_col="_cell"
            ).collect()
        }
        flat = {
            r["c_id"]: r["_cell"]
            for r in assign_nearest_cell_blas(src, cent, "c_id", "_v").collect()
        }
        assert routed == flat and len(routed) == c.count()

    def test_ivf_probe_identical_through_routing_flip(self, spark):
        """ivf_seeded_topk at 600 cells: the routed vectorized
        assignment must produce the same top-k as the HOF argmin
        pinned to the same cells — the build-side engine choice never
        changes the answer."""
        from scdataset_spark.operators.similarity import ivf_seeded_topk

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        routed = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=600, seed=11, vectorized_assign=True
                ).collect(),
            )
        )
        hof = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=600, seed=11, vectorized_assign=False
                ).collect(),
            )
        )
        assert routed == hof and routed


class TestRandomProjection:
    def test_shape_and_determinism(self, spark):
        emb = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False).limit(10)
        out = random_projection(emb, out_dim=4).collect()
        assert len(out) == 40
        assert {r.dim_id for r in out} == {0, 1, 2, 3}
        again = random_projection(emb, out_dim=4).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))
        other = random_projection(emb, out_dim=4, seed=99).collect()
        assert sorted(map(tuple, out)) != sorted(map(tuple, other))

    def test_matches_numpy_recompute(self, spark):
        import numpy as np

        from scdataset_spark.plans.seeds import mix_py

        emb = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False).limit(5)
        rows = emb.collect()
        got = {
            (r.vec_id, r.dim_id): r.value
            for r in random_projection(emb, out_dim=8).collect()
        }
        for r in rows:
            v = np.array(r.embedding, dtype=np.float64)
            for j in range(8):
                signs = np.array(
                    [
                        1.0 if mix_py((i - 1) * 8 + j, 5) % 2 == 0 else -1.0
                        for i in range(1, 65)
                    ]
                )
                expect = float(np.sum(np.round(signs * v, 8)))
                # np.round is banker's vs SQL HALF_UP: per-term drift
                # <= 1e-8, 64 terms -> 1e-6 envelope
                assert got[(r.vec_id, j)] == pytest.approx(expect, abs=1e-6)
