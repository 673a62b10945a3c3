"""Curation operators: per-source token budgets (bucketed, pinned and
UniMax), per-source quality ranking, n-gram diversity, the Gopher
quality rules, the training-set selection example, and the gated
curation pipeline's streaming semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.textanalysis import chunk_documents

from tests._helpers import plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


class TestTokenBudgetPerSourceBucketed:
    def _scored(self, spark):
        from scdataset_spark.operators import textanalysis as tx

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        toks = tx.with_stop_counts(docs).select(
            "doc_id", "lang", "n_tokens", "n_stop"
        )
        return toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))

    def test_bucketed_equals_pinned_window(self, spark):
        """The within-source bucket-offset shape must produce the exact
        rows of the pinned one-window-per-source shape — posture
        changes the plan, never the result."""
        from scdataset_spark.operators.textanalysis import token_budget_by_source

        scored = self._scored(spark)
        pinned = sorted(
            map(
                tuple,
                token_budget_by_source(
                    scored, 2000, source_col="lang", buckets=0
                ).collect(),
            )
        )
        for k in (4, 16, 64):
            bucketed = sorted(
                map(
                    tuple,
                    token_budget_by_source(
                        scored, 2000, source_col="lang", buckets=k
                    ).collect(),
                )
            )
            assert bucketed == pinned, f"buckets={k}"
        assert pinned  # non-trivial selection
        # every source still contributes under the bucketed shape
        langs = {r[0] for r in scored.select("lang").distinct().collect()}
        assert {t[1] for t in pinned} == langs and len(langs) > 1

    def test_auto_resolution_flips_plan(self, spark):
        """n_rows (the max per-source count) forced past
        AUTO_SCALE_ROWS -> the bucketed plan (running sum PARTITIONED
        by (source, _bucket)); small n -> the pinned partitioned
        window; rows equal either way."""
        from scdataset_spark.operators.textanalysis import token_budget_by_source

        scored = self._scored(spark)
        big = token_budget_by_source(
            scored, 2000, source_col="lang", n_rows=10_000_000
        )
        small = token_budget_by_source(scored, 2000, source_col="lang", n_rows=10)
        assert "_bucket" in plan_text(big)
        assert "_bucket" not in plan_text(small)
        assert sorted(map(tuple, big.collect())) == sorted(
            map(tuple, small.collect())
        )

    def test_auto_probe_uses_max_source_count(self, spark):
        """With buckets=None and no n_rows hint, the resolver probes
        the MAX per-source row count (not the global count): a fixture
        whose largest source is tiny stays on the pinned window."""
        from scdataset_spark.operators.textanalysis import token_budget_by_source

        scored = self._scored(spark)
        auto = token_budget_by_source(scored, 2000, source_col="lang")
        assert "_bucket" not in plan_text(auto)


class TestNullGroups:
    def test_bucketed_shapes_keep_null_group_rows(self, spark):
        """A null group key is one group, as in the window shapes'
        PARTITION BY: the bucketed rank, budget and calibration keep its
        rows with the window shapes' values."""
        from pyspark.sql import Window

        from scdataset_spark.operators.textanalysis import (
            quality_rank_by_source,
            token_budget_by_source,
        )
        from scdataset_spark.plans.plan import grouped_bucketed_rank

        df = spark.createDataFrame(
            [(1, "en", 5, 10), (2, None, 7, 20), (3, None, 3, 30), (4, "en", 9, 40)],
            "doc_id bigint, lang string, q_int bigint, n_tokens bigint",
        )

        def rows(frame):
            return sorted(map(tuple, frame.collect()), key=repr)

        order = [("q_int", "asc"), ("doc_id", "asc")]
        w = Window.partitionBy("lang").orderBy("q_int", "doc_id")
        window_rank = df.withColumn("r", F.row_number().over(w) - F.lit(1))
        bucketed_rank = grouped_bucketed_rank(df, ["lang"], "q_int", order, "r", 4)
        assert len(rows(bucketed_rank)) == 4
        assert rows(bucketed_rank.select(*window_rank.columns)) == rows(window_rank)
        for op in (
            lambda b: token_budget_by_source(df, 1000, buckets=b),
            lambda b: quality_rank_by_source(df, buckets=b),
        ):
            want = rows(op(0))
            assert len(want) == 4 and rows(op(4)) == want

    def test_non_nullable_group_joins_without_coalesce(self, spark):
        """Only a nullable group column needs the null-safe join's
        ``(coalesce, isnull)`` key pair; a non-nullable one joins its
        offsets by plain equality, with the same rows."""
        from pyspark.sql import Window

        from scdataset_spark.plans.plan import grouped_bucketed_rank

        base = spark.range(0, 40, numPartitions=2).selectExpr("id", "id & 3 AS g")
        order = [("id", "asc")]
        window = Window.partitionBy("g").orderBy("id")
        for df, nullable in (
            (base, False),
            (base.withColumn("g", F.when(F.col("id") > 1, F.col("g"))), True),
        ):
            assert df.schema["g"].nullable == nullable
            ranked = grouped_bucketed_rank(df, ["g"], "id", order, "r", 4)
            assert ("coalesce(g" in plan_text(ranked)) == nullable
            want = df.withColumn("r", F.row_number().over(window) - F.lit(1))
            assert sorted(map(tuple, ranked.select(*want.columns).collect()), key=repr) == (
                sorted(map(tuple, want.collect()), key=repr)
            )


class TestQualityRankBySource:
    def _scored(self, spark):
        from scdataset_spark.operators import textanalysis as tx

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        toks = tx.with_stop_counts(docs).select(
            "doc_id", "lang", "n_tokens", "n_stop"
        )
        return toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR)).drop(
            "n_tokens", "n_stop"
        )

    def test_bucketed_equals_percent_rank_window(self, spark):
        """The two-level shape must reproduce percent_rank EXACTLY —
        including the doubles: total order key, so rank == row_number,
        and the same (rank-1)/(n-1) IEEE division."""
        from scdataset_spark.operators.textanalysis import (
            quality_rank_by_source,
        )

        scored = self._scored(spark)
        exact = sorted(
            map(tuple, quality_rank_by_source(scored, buckets=0).collect())
        )
        for k in (1, 3, 8):
            got = sorted(
                map(tuple, quality_rank_by_source(scored, buckets=k).collect())
            )
            assert got == exact, f"buckets={k} diverged from the window shape"
        assert len(exact) == scored.count()

    def test_auto_resolution_uses_max_source_count(self, spark):
        """n_rows (compared as the max per-source count) past the
        threshold flips to the bucketed shape; the rows stay equal."""
        from scdataset_spark.operators.textanalysis import (
            quality_rank_by_source,
        )

        scored = self._scored(spark)
        exact = sorted(
            map(tuple, quality_rank_by_source(scored, buckets=0).collect())
        )
        flipped = quality_rank_by_source(scored, n_rows=10**9)
        assert "percent_rank" not in plan_text(flipped).lower()
        assert sorted(map(tuple, flipped.collect())) == exact

    def test_single_row_source_ranks_zero(self, spark):
        from scdataset_spark.operators.textanalysis import (
            quality_rank_by_source,
        )

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
            "doc_id int, lang string, q_int int",
        )
        for k in (0, 4):
            rows = {
                r.doc_id: r.q_pct
                for r in quality_rank_by_source(df, buckets=k).collect()
            }
            assert rows[3] == 0.0  # singleton source
            assert rows[1] == 0.0 and rows[2] == 1.0


class TestSelectTrainingSetExample:
    def test_selection_pipeline_end_to_end(self, spark):
        """examples/select_training_set.py composes the round-15 family
        (drift gate -> gopher -> DSIR -> diversity -> unimax ->
        curriculum -> MMR); the trace invariants pin each stage."""
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "select_training_set",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "examples", "select_training_set.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        trace = mod.run(spark, SF_DIR_SMALL, log=lambda *_: None)
        assert trace["total_psi"] <= mod.PSI_THRESHOLD
        assert trace["n_docs"] >= trace["n_gopher"] >= trace["n_selected"] > 0
        assert trace["n_selected"] <= mod.SELECT_K
        assert trace["budget_total"] <= mod.BUDGET
        assert trace["diversity_sources"] > 0 and trace["min_distinct_1"] > 0
        assert trace["curriculum_rows"] == trace["n_selected"]
        assert trace["mmr_rows"] == 8  # 2 queries x k=4, diversified


class TestGatedPipelineStreamingSemantics:
    """VERDICT r14 task 6: pipe_curation_gated's docstring now carries
    the same within-batch-only `unique` caveat as
    constraint_gate_batches — this pins the DOCUMENTED (not assumed)
    semantics end-to-end: a key duplicated ACROSS deliveries passes the
    per-batch constraint gate, batch mode catches it over the whole
    corpus, and the documented companion (unique_gate_batches) catches
    it continuously."""

    GATE = [
        {"type": "not_null", "col": "doc_id"},
        {"type": "unique", "col": "doc_id"},
        {"type": "not_null", "col": "text"},
        {"type": "min", "col": "n_chars", "bound": 0},
    ]

    def _two_deliveries_with_cross_batch_dup(self, spark, tmp_path):
        """documents split into two parquet files (one per micro-batch);
        doc_id is unique WITHIN each file but one id appears in both."""
        from scdataset_spark.catalog import load_table

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        src = str(tmp_path / "docstream")
        d1 = docs.where("doc_id % 2 = 0")
        dup = docs.where("doc_id % 2 = 0").orderBy("doc_id").limit(1)
        d2 = docs.where("doc_id % 2 = 1").unionByName(dup)
        d1.coalesce(1).write.mode("overwrite").parquet(src)
        d2.coalesce(1).write.mode("append").parquet(src)
        return docs, src

    def test_cross_batch_dup_passes_per_batch_gate_and_fails_stateful(
        self, spark, tmp_path
    ):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.streaming.events import (
            constraint_gate_batches,
            unique_gate_batches,
        )

        docs, src = self._two_deliveries_with_cross_batch_dup(spark, tmp_path)
        reports = []
        uniq_reports = []
        gate = constraint_gate_batches(
            self.GATE, lambda df: reports.extend(df.collect()),
            fail_fast=True,
        )
        stateful = unique_gate_batches(
            ["doc_id"], lambda df: uniq_reports.extend(df.collect()),
            str(tmp_path / "uniqidx"),
        )

        def both(batch_df, batch_id):
            gate(batch_df, batch_id)
            stateful(batch_df, batch_id)

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(both)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        # the documented caveat: EVERY per-batch unique check passed
        # (fail_fast=True above means a failure would have killed the
        # stream) — the cross-batch duplicate is invisible to it ...
        per_batch_unique = [r for r in reports if "unique" in r.check_name]
        assert len(per_batch_unique) == 2
        assert all(r.passed for r in per_batch_unique)
        # ... while the documented companion caught exactly one
        # cross-delivery violation in the second batch
        v = {r.batch_id: r.violations for r in uniq_reports}
        assert v == {0: 0, 1: 1}

    def test_batch_mode_gate_sees_the_whole_corpus(self, spark, tmp_path):
        """The batch query (pipe_curation_gated's posture) has no gap:
        the same cross-delivery duplicate fails its one-scan gate."""
        from scdataset_spark.operators.quality import check_constraints

        docs, src = self._two_deliveries_with_cross_batch_dup(spark, tmp_path)
        whole = spark.read.parquet(src)
        rep = {
            r.check_name: r
            for r in check_constraints(whole, self.GATE).collect()
        }
        uniq = [r for n, r in rep.items() if "unique" in n][0]
        assert not uniq.passed and uniq.violations == 1


class TestTokenBudget:
    def _scored(self, spark):
        from scdataset_spark.operators import textanalysis as tx

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        toks = tx.with_stop_counts(docs).select("doc_id", "n_tokens", "n_stop")
        return toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))

    def test_bucketed_equals_global_window(self, spark):
        """The bucketed quality-keyed running sum must produce the exact
        rows of the single global window (same order key, same exact
        integer sums) — the posture changes the plan, not the result."""
        from scdataset_spark.operators.textanalysis import token_budget

        scored = self._scored(spark)
        glob = sorted(map(tuple, token_budget(scored, 5000, buckets=0).collect()))
        for k in (4, 16, 64):
            bucketed = sorted(
                map(tuple, token_budget(scored, 5000, buckets=k).collect())
            )
            assert bucketed == glob, f"buckets={k}"
        assert glob  # non-trivial selection

    def test_auto_resolution_flips_plan(self, spark, monkeypatch):
        """n_rows forced past AUTO_SCALE_ROWS -> the bucketed plan (the
        running-sum window is PARTITIONED by the quality bucket); small
        n -> the pinned global-window plan; with neither, the count
        probed on the slim projection resolves the same way; rows equal
        either way."""
        from scdataset_spark.operators import similarity
        from scdataset_spark.operators.textanalysis import token_budget

        scored = self._scored(spark)
        big = token_budget(scored, 5000, n_rows=10_000_000)
        small = token_budget(scored, 5000, n_rows=10)
        assert "_bucket" in plan_text(big)
        assert "_bucket" not in plan_text(small)
        want = sorted(map(tuple, token_budget(scored, 5000, buckets=0).collect()))
        assert sorted(map(tuple, big.collect())) == want
        assert sorted(map(tuple, small.collect())) == want
        monkeypatch.setattr(similarity, "AUTO_SCALE_ROWS", 10)
        probed = token_budget(scored, 5000)
        assert "_bucket" in plan_text(probed)
        assert sorted(map(tuple, probed.collect())) == want

    def test_budget_boundary(self, spark):
        """Every selected doc fits the budget; the next doc in quality
        order would overflow it (the cutoff is tight)."""
        from scdataset_spark.operators.textanalysis import token_budget

        scored = self._scored(spark)
        picked = token_budget(scored, 5000, buckets=16).collect()
        assert max(r["cum_tokens"] for r in picked) <= 5000
        taken = {r["doc_id"] for r in picked}
        total = sum(r["n_tokens"] for r in picked)
        rest = scored.where(~F.col("doc_id").isin(taken)).collect()
        if rest:  # the best unpicked doc must not fit
            best_left = min(
                rest, key=lambda r: (-r["q_int"], r["doc_id"])
            )
            assert total + best_left["n_tokens"] > 5000


class TestTokenBudgetPerSource:
    def test_equals_per_source_token_budget(self, spark):
        """token_budget_by_source must equal token_budget run on each
        source slice independently (same order key, same cutoff) —
        the partitioned window IS per-source curation."""
        from scdataset_spark.operators import textanalysis as tx
        from scdataset_spark.operators.textanalysis import (
            token_budget,
            token_budget_by_source,
        )

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        toks = tx.with_stop_counts(docs).select(
            "doc_id", "lang", "n_tokens", "n_stop"
        )
        scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))
        got = {
            (r["lang"], r["doc_id"]): (r["n_tokens"], r["cum_tokens"])
            for r in token_budget_by_source(scored, 2000, source_col="lang").collect()
        }
        langs = [r[0] for r in scored.select("lang").distinct().collect()]
        assert len(langs) > 1
        expected = {}
        for lang in langs:
            sl = scored.where(F.col("lang") == lang)
            for r in token_budget(sl, 2000, buckets=0).collect():
                expected[(lang, r["doc_id"])] = (r["n_tokens"], r["cum_tokens"])
        assert got == expected and got
        # every source contributes (no starvation by a global budget)
        assert {k[0] for k in got} == set(langs)


class TestChunkDocuments:
    def test_exact_chunks_and_overlap(self, spark):
        df = spark.createDataFrame([(1, "abcdefghij")], "doc_id bigint, text string")
        rows = {r.chunk_id: r for r in chunk_documents(df, size=4, stride=3).collect()}
        assert [rows[i].chunk_text for i in sorted(rows)] == ["abcd", "defg", "ghij", "j"]
        assert rows[3].chunk_len == 1

    def test_every_doc_yields_at_least_one_chunk(self, spark):
        df = spark.createDataFrame([(1, ""), (2, "x")], "doc_id bigint, text string")
        out = chunk_documents(df, size=5, stride=5).collect()
        assert sorted((r.doc_id, r.chunk_id) for r in out) == [(1, 0), (2, 0)]

    def test_chunks_cover_text_exactly(self, spark):
        # last chunk's end offset == document length, for every doc
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        out = chunk_documents(docs.select("doc_id", "text"), size=120, stride=90)
        cover = out.groupBy("doc_id").agg(
            F.max(F.col("chunk_id") * 90 + F.col("chunk_len")).alias("cover")
        )
        joined = cover.join(
            docs.select("doc_id", F.length("text").alias("n")), "doc_id"
        )
        assert joined.where(F.col("cover") != F.col("n")).count() == 0

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, size=0)
        with pytest.raises(ValueError):
            chunk_documents(df, stride=0)


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
