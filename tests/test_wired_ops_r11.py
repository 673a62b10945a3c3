"""Round-11 wiring tests.

Defaults-at-scale for the IVF family (VERDICT r10 task 2): the one
measured scale-killer default left after round 10 was the FIXED IVF
cell count (8/16 cells regardless of corpus size — 9.3×/decade warm in
BENCH_SCALE.md vs 3.7×/decade with cells ~ n/4500).  ``n_clusters``
now defaults to ``None`` on ``ivf_topk`` / ``ivf_seeded_topk`` /
``pq_topk`` and resolves ``max(8, n // IVF_CELL_BUDGET)`` under the
``AUTO_SCALE_ROWS`` contract, with the BLAS cell assignment flipping
on at the same threshold.  Reference parity: the reference's
experimental/auto_config.py derives locality knobs from measured data
sizes; this is the analogous size-resolved posture for the ANN index.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.similarity import ivf_topk

from tests._helpers import cand_queries, cands, plan_text
from tests.conftest import SF_DIR_SMALL


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
