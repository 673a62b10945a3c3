"""Round-15 wiring tests: the new first-class LLM-pipeline operators.

- ``ml.dsir_logratio`` — DSIR importance selection: in-domain docs must
  outrank out-of-domain docs, scores must be deterministic, and the
  top-k must be a TakeOrderedAndProject (never a global sort).
- ``quality.embedding_drift`` — frozen-basis per-cell occupancy PSI,
  and its streaming twin ``embedding_drift_gate_batches``.
- curriculum ordering and MMR top-k diversification.

The n-gram diversity, Gopher-rule and UniMax-budget tests moved to
``tests/test_curation.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.similarity import brute_force_topk

from tests._helpers import plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


class TestDsirSelect:
    def _docs(self, spark):
        # target domain = lang 'en': tokens drawn from {alpha beta gamma};
        # out-of-domain raw: tokens from {uno dos tres}; one mixed doc.
        rows = (
            [(i, "alpha beta gamma alpha", "en") for i in range(5)]
            + [(10 + i, "uno dos tres uno", "xx") for i in range(5)]
            + [(99, "alpha uno", "xx")]
        )
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_in_domain_outranks_out_of_domain(self, spark):
        from scdataset_spark.ml import dsir_logratio

        out = dsir_logratio(self._docs(spark), "lang = 'en'", k=11).collect()
        score = {r.doc_id: r.avg_logratio for r in out}
        # every target-vocabulary doc beats every out-of-domain doc, and
        # the mixed doc sits strictly between the two blocks
        assert min(score[i] for i in range(5)) > score[99] > max(
            score[10 + i] for i in range(5)
        )

    def test_topk_truncates_to_best(self, spark):
        from scdataset_spark.ml import dsir_logratio

        out = dsir_logratio(self._docs(spark), "lang = 'en'", k=5).collect()
        assert sorted(r.doc_id for r in out) == [0, 1, 2, 3, 4]

    def test_deterministic_across_runs(self, spark):
        from scdataset_spark.ml import dsir_logratio

        a = dsir_logratio(self._docs(spark), "lang = 'en'", k=11).collect()
        b = dsir_logratio(self._docs(spark), "lang = 'en'", k=11).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        from scdataset_spark.ml import dsir_logratio

        plan = plan_text(dsir_logratio(self._docs(spark), "lang = 'en'", k=5))
        assert "TakeOrderedAndProject" in plan
        # the limit must not materialize a full global Sort stage
        assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


class TestEmbeddingDrift:
    def _emb(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_identical_snapshots_have_zero_psi(self, spark):
        from scdataset_spark.operators.quality import embedding_drift

        import random

        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
        ]
        base = self._emb(spark, rows)
        out = embedding_drift(base, base, n_clusters=4, seed=7).collect()
        assert out and all(r.psi == 0.0 for r in out)
        assert all(r.n_base == r.n_curr for r in out)

    def test_shifted_snapshot_flags_higher_psi_than_iid_split(self, spark):
        """A mean-shifted delivery must show more occupancy drift than
        an i.i.d. half/half split of the same corpus."""
        from scdataset_spark.operators.quality import embedding_drift

        import random

        rng = random.Random(11)
        pts = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(200)]
        base = self._emb(spark, [(i, v) for i, v in enumerate(pts[:100])])
        iid = self._emb(spark, [(100 + i, v) for i, v in enumerate(pts[100:])])
        shifted = self._emb(
            spark,
            [(200 + i, [x + 2.5 for x in v]) for i, v in enumerate(pts[100:])],
        )
        psi_iid = sum(
            r.psi for r in embedding_drift(base, iid, n_clusters=4, seed=7).collect()
        )
        psi_shift = sum(
            r.psi
            for r in embedding_drift(base, shifted, n_clusters=4, seed=7).collect()
        )
        assert psi_shift > psi_iid

    def test_geometry_is_frozen_to_base(self, spark):
        """Centroids must come from the base snapshot only: swapping the
        roles changes the basis, so the report is direction-sensitive
        (a drifted current corpus cannot re-center the histogram)."""
        from scdataset_spark.operators.quality import embedding_drift

        import random

        rng = random.Random(5)
        a = self._emb(
            spark,
            [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)],
        )
        b = self._emb(
            spark,
            [(100 + i, [rng.gauss(1.5, 1) for _ in range(8)]) for i in range(60)],
        )
        ab = {r.cell: (r.n_base, r.n_curr) for r in embedding_drift(a, b, 4, 7).collect()}
        ba = {r.cell: (r.n_base, r.n_curr) for r in embedding_drift(b, a, 4, 7).collect()}
        # roles swap the counts only if the basis were shared; with a
        # frozen-base basis the two reports are not mirror images
        assert ab != {c: (nc, nb) for c, (nb, nc) in ba.items()}


class TestCurriculumOrder:
    def test_uniform_quality_single_phase_alternates_sources(self, spark):
        """All-equal quality collapses to one phase (hi == lo guard),
        where the schedule must strictly alternate the two equal-size
        sources — the round-robin contract, exactly."""
        from scdataset_spark.operators.textanalysis import curriculum_order

        text = "alpha beta gamma delta"
        rows = [(i, "s1" if i % 2 == 0 else "s2", text) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = curriculum_order(df, phases=4, seed=17).collect()
        assert {r.phase for r in out} == {0}
        ordered = [r.source for r in sorted(out, key=lambda r: r.pos)]
        assert all(a != b for a, b in zip(ordered, ordered[1:]))

    def test_pos_is_a_permutation_and_phases_are_easy_first(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.textanalysis import curriculum_order

        from tests.conftest import SF_DIR_SMALL

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        out = curriculum_order(docs, phases=4, seed=17).collect()
        n = len(out)
        assert sorted(r.pos for r in out) == list(range(n))
        by_phase = {}
        for r in out:
            by_phase.setdefault(r.phase, []).append(r.quality_score)
        means = {p: sum(v) / len(v) for p, v in by_phase.items()}
        phases = sorted(means)
        # phase 0 is the easiest (highest-quality) band, monotone down
        assert all(means[a] >= means[b] for a, b in zip(phases, phases[1:]))
        # and the global order visits phases monotonically
        ordered = sorted(out, key=lambda r: r.pos)
        seen = [r.phase for r in ordered]
        assert seen == sorted(seen)

    def test_deterministic_and_seed_sensitive(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.textanalysis import curriculum_order

        from tests.conftest import SF_DIR_SMALL

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        a = {r.doc_id: r.pos for r in curriculum_order(docs, seed=17).collect()}
        b = {r.doc_id: r.pos for r in curriculum_order(docs, seed=17).collect()}
        c = {r.doc_id: r.pos for r in curriculum_order(docs, seed=18).collect()}
        assert a == b
        assert a != c


class TestMmrTopk:
    def _frames(self, spark):
        import random

        rng = random.Random(9)
        # query between two near-orthogonal clusters: A (rel ~0.75,
        # mutually near-duplicate) edges out B (rel ~0.66, mutually
        # near-duplicate, ~orthogonal to A) on pure relevance
        base_a = [0.5] * 4 + [0.0] * 4
        base_b = [0.0] * 4 + [0.5] * 4
        rows = []
        for i in range(6):
            rows.append((10 + i, [x + rng.uniform(-0.005, 0.005) for x in base_a]))
        for i in range(6):
            rows.append((20 + i, [x + rng.uniform(-0.005, 0.005) for x in base_b]))
        cand = spark.createDataFrame(rows, "c_id long, embedding array<float>")
        q = spark.createDataFrame(
            [(0, [0.375] * 4 + [0.33] * 4)], "q_id long, embedding array<float>"
        )
        return q, cand

    def test_mmr_diversifies_where_topk_duplicates(self, spark):
        from scdataset_spark.operators.similarity import brute_force_topk, mmr_topk

        q, cand = self._frames(spark)
        plain = brute_force_topk(q, cand, k=4, query_id="q_id", cand_id="c_id")
        mmr = mmr_topk(q, cand, k=4, pool=12, lam=0.5)
        plain_clusters = {r.c_id // 10 for r in plain.collect()}
        mmr_clusters = {r.c_id // 10 for r in mmr.collect()}
        assert plain_clusters == {1}  # top-k: all near-duplicates
        assert mmr_clusters == {1, 2}  # MMR: both clusters represented

    def test_lambda_one_reduces_to_plain_topk(self, spark):
        from scdataset_spark.operators.similarity import brute_force_topk, mmr_topk

        q, cand = self._frames(spark)
        plain = {
            (r.q_id, r.c_id)
            for r in brute_force_topk(q, cand, k=4, query_id="q_id", cand_id="c_id").collect()
        }
        mmr = {(r.q_id, r.c_id) for r in mmr_topk(q, cand, k=4, pool=12, lam=1.0).collect()}
        assert mmr == plain

    def test_pick_ranks_and_determinism(self, spark):
        from scdataset_spark.operators.similarity import mmr_topk

        q, cand = self._frames(spark)
        a = mmr_topk(q, cand, k=5, pool=12, lam=0.7).collect()
        b = mmr_topk(q, cand, k=5, pool=12, lam=0.7).collect()
        assert sorted(r.pick_rank for r in a) == [1, 2, 3, 4, 5]
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_k_greater_than_pool_rejected(self, spark):
        from scdataset_spark.operators.similarity import mmr_topk

        import pytest

        q, cand = self._frames(spark)
        with pytest.raises(ValueError, match="k <= pool"):
            mmr_topk(q, cand, k=10, pool=5)


class TestEmbeddingDriftGate:
    def _halves(self, spark):
        from tests.conftest import SF_DIR

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        return emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")

    def _run_stream(self, spark, tmp_path, gate, n_files):
        q = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "deliveries"))
            .writeStream.foreachBatch(gate)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)

    def test_single_delivery_matches_batch_operator_values(self, spark, tmp_path):
        """One delivery holding the whole current snapshot must report
        exactly the batch operator's per-cell PSI values — the
        stream==batch equivalence contract."""
        from scdataset_spark.operators.quality import embedding_drift
        from scdataset_spark.streaming.events import embedding_drift_gate_batches

        base, curr = self._halves(spark)
        curr.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "deliveries")
        )
        reports = []
        gate = embedding_drift_gate_batches(
            base, lambda df: reports.append(df.collect()), n_clusters=8, seed=11
        )
        self._run_stream(spark, tmp_path, gate, 1)
        assert len(reports) == 1
        stream = {r.cell: r for r in reports[0]}
        batch = {r.cell: r for r in embedding_drift(base, curr, 8, 11).collect()}
        for cell, b in batch.items():
            s = stream[cell]
            assert (s.n_base, s.n_batch) == (b.n_base, b.n_curr)
            assert (s.p_base, s.p_batch, s.psi) == (b.p_base, b.p_curr, b.psi)

    def test_two_deliveries_counts_are_additive(self, spark, tmp_path):
        from scdataset_spark.operators.quality import embedding_drift
        from scdataset_spark.streaming.events import embedding_drift_gate_batches

        base, curr = self._halves(spark)
        src = str(tmp_path / "deliveries")
        curr.where("vec_id % 4 = 1").coalesce(1).write.mode("overwrite").parquet(src)
        curr.where("vec_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)
        reports = []
        gate = embedding_drift_gate_batches(
            base, lambda df: reports.append(df.collect()), n_clusters=8, seed=11
        )
        self._run_stream(spark, tmp_path, gate, 2)
        assert len(reports) == 2
        flat = [r for rep in reports for r in rep]
        batch = {r.cell: r for r in embedding_drift(base, curr, 8, 11).collect()}
        for cell, b in batch.items():
            assert sum(r.n_batch for r in flat if r.cell == cell) == b.n_curr

    def test_fail_fast_kills_query_on_drift(self, spark, tmp_path):
        import pytest

        from pyspark.sql import functions as F

        from scdataset_spark.streaming.events import embedding_drift_gate_batches

        base, curr = self._halves(spark)
        # shift the delivery so it drifts hard out of the baseline basis
        shifted = curr.select(
            "vec_id",
            F.expr("transform(embedding, x -> x + CAST(5.0 AS FLOAT))").alias(
                "embedding"
            ),
        )
        shifted.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "deliveries")
        )
        gate = embedding_drift_gate_batches(
            base, lambda df: None, n_clusters=8, seed=11,
            psi_threshold=0.05, fail_fast=True,
        )
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException, match="drift gate failed"):
            q = (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .parquet(str(tmp_path / "deliveries"))
                .writeStream.foreachBatch(gate)
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start()
            )
            q.awaitTermination(120)

    def test_empty_baseline_rejected(self, spark):
        import pytest

        from scdataset_spark.streaming.events import embedding_drift_gate_batches

        base, _ = self._halves(spark)
        with pytest.raises(ValueError, match="baseline snapshot is empty"):
            embedding_drift_gate_batches(base.where("vec_id < 0"), lambda df: None)
