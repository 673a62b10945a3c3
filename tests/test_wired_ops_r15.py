"""Round-15 wiring tests: the new first-class LLM-pipeline operators.

- ``textanalysis.ngram_diversity`` — per-group distinct-n diversity
  (distinct-1/distinct-2) with exact hand-computable fixtures and the
  1-token-doc / bigram-free-group edge semantics.
- ``quality.embedding_drift`` — frozen-basis per-cell occupancy PSI.
- ``ml.dsir_logratio`` — DSIR importance selection: in-domain docs must
  outrank out-of-domain docs, scores must be deterministic, and the
  top-k must be a TakeOrderedAndProject (never a global sort).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.similarity import brute_force_topk

from tests._helpers import plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


class TestNgramDiversity:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "source string, text string")

    def test_exact_counts_tiny_fixture(self, spark):
        from scdataset_spark.operators.textanalysis import ngram_diversity

        # src a: "x y x" + "x y" -> tokens 5, distinct {x, y} = 2;
        # bigrams: ("x y", "y x") + ("x y",) -> 3 total, distinct 2
        df = self._df(spark, [("a", "x y x"), ("a", "x y")])
        [r] = ngram_diversity(df).collect()
        assert (r.n_docs, r.n_tokens, r.distinct_unigrams) == (2, 5, 2)
        assert (r.n_bigrams, r.distinct_bigrams) == (3, 2)
        assert r.distinct_1 == round(2 / 5, 6)
        assert r.distinct_2 == round(2 / 3, 6)

    def test_one_token_docs_have_no_bigrams(self, spark):
        from scdataset_spark.operators.textanalysis import ngram_diversity

        df = self._df(spark, [("solo", "x"), ("solo", "y")])
        [r] = ngram_diversity(df).collect()
        assert (r.n_tokens, r.n_bigrams, r.distinct_bigrams) == (2, 0, 0)
        assert r.distinct_2 is None  # no /0, NULL by contract
        assert r.distinct_1 == 1.0

    def test_template_collapse_is_visible(self, spark):
        """A source scraping one template scores lower distinct-2 than a
        diverse source of the same size — the metric's whole point."""
        from scdataset_spark.operators.textanalysis import ngram_diversity

        rows = [("tmpl", "the same boilerplate text here")] * 20 + [
            ("varied", f"doc {i} token{i} talks about topic{i * 7 % 13}")
            for i in range(20)
        ]
        out = {
            r.source: r for r in ngram_diversity(self._df(spark, rows)).collect()
        }
        assert out["tmpl"].distinct_2 < out["varied"].distinct_2
        assert out["tmpl"].distinct_1 < out["varied"].distinct_1


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


class TestGopherRules:
    def test_each_rule_fires_on_its_violation(self, spark):
        from scdataset_spark.operators.textanalysis import with_gopher_flags

        good = "the quick brown fox jumps over a lazy dog " * 6  # 60 words
        rows = [
            (1, good.strip()),
            (2, "the a short doc"),  # word count < 50
            (3, ("xx " * 60).strip()),  # no stop words
            (4, (good + "#### ##### ###### " * 8).strip()),  # symbols
            (5, ("the a " + "12345 " * 58).strip()),  # non-alpha words
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in with_gopher_flags(df).collect()}
        assert out[1].gopher_pass
        assert not out[2].flag_word_count and not out[2].gopher_pass
        assert not out[3].flag_stop_words and not out[3].gopher_pass
        assert not out[4].flag_symbol_ratio and not out[4].gopher_pass
        assert not out[5].flag_alpha_ratio and not out[5].gopher_pass

    def test_fixture_exercises_both_branches(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.textanalysis import with_gopher_flags

        from tests.conftest import SF_DIR

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        out = with_gopher_flags(docs).select("flag_word_count", "gopher_pass").collect()
        wc = {r.flag_word_count for r in out}
        gp = {r.gopher_pass for r in out}
        assert wc == {True, False} and gp == {True, False}


class TestUnimaxBudget:
    def _docs(self, spark):
        rows = [
            (i, f"s{j}", "tok " * (10 * (j + 1)))
            for j in range(4)
            for i in range(j * 10, j * 10 + 3)
        ]
        return spark.createDataFrame(
            [(i, s, t.strip()) for i, s, t in rows],
            "doc_id long, source string, text string",
        )

    def test_budget_conserved_and_caps_respected(self, spark):
        from scdataset_spark.operators.textanalysis import unimax_budget

        out = unimax_budget(self._docs(spark), budget=50, epochs=1).collect()
        assert sum(r.budget_tokens for r in out) == 50
        assert all(r.budget_tokens <= r.cap_tokens for r in out)
        # water-fill: uncapped sources sit within 1 token of each other,
        # and every capped source's cap is below every uncapped budget
        un = [r.budget_tokens for r in out if not r.capped]
        cap = [r.cap_tokens for r in out if r.capped]
        assert un and max(un) - min(un) <= 1
        assert not cap or max(cap) <= min(un)

    def test_budget_above_total_caps_gives_everything(self, spark):
        from scdataset_spark.operators.textanalysis import unimax_budget

        out = unimax_budget(self._docs(spark), budget=10**9, epochs=2).collect()
        assert all(r.capped for r in out)
        assert all(r.budget_tokens == r.cap_tokens == 2 * r.n_tokens for r in out)

    def test_epoch_cap_binds(self, spark):
        from scdataset_spark.operators.textanalysis import unimax_budget

        one = {r.source: r.budget_tokens
               for r in unimax_budget(self._docs(spark), budget=10**9, epochs=1).collect()}
        two = {r.source: r.budget_tokens
               for r in unimax_budget(self._docs(spark), budget=10**9, epochs=2).collect()}
        assert all(two[s] == 2 * one[s] for s in one)

    def test_validation(self, spark):
        import pytest

        from scdataset_spark.operators.textanalysis import unimax_budget

        with pytest.raises(ValueError, match="budget >= 0"):
            unimax_budget(self._docs(spark), budget=-1)
