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

import contextlib
import io

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from tests.conftest import SF_DIR_SMALL


def _plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _qc(spark):
    e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
    q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return q, c


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

        q, c = _qc(spark)
        auto_big = ivf_seeded_topk(q, c, k=3, seed=11, n_rows=10_000_000)
        assert "MapInPandas" in _plan_str(auto_big)
        pinned = ivf_seeded_topk(
            q, c, k=3, n_clusters=8, seed=11, vectorized_assign=False
        )
        assert "MapInPandas" not in _plan_str(pinned)

    def test_auto_small_equals_pinned_oracle_shape(self, spark):
        """At fixture scale the auto default resolves to the floor (8
        cells, HOF assign) — byte-identical rows to the explicit
        oracle pin, so the registered query's values ARE the default
        path's values at small n."""
        from scdataset_spark.operators.similarity import ivf_seeded_topk

        q, c = _qc(spark)
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

        q, c = _qc(spark)
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

        q, c = _qc(spark)
        cells, _ = _resolve_ivf_cells(None, None, 10_000_000)
        auto_df = pq_topk(q, c, k=3, refine=3, seed=11, n_rows=10_000_000)
        assert "MapInPandas" in _plan_str(auto_df)
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

        q, c = _qc(spark)
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
        assert "_bucket" in _plan_str(big)
        assert "_bucket" not in _plan_str(small)
        want = sorted(map(tuple, token_budget(scored, 5000, buckets=0).collect()))
        assert sorted(map(tuple, big.collect())) == want
        assert sorted(map(tuple, small.collect())) == want
        monkeypatch.setattr(similarity, "AUTO_SCALE_ROWS", 10)
        probed = token_budget(scored, 5000)
        assert "_bucket" in _plan_str(probed)
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


class TestNonDefaultIdCol:
    def test_lsh_chain_respects_id_col(self, spark):
        """edit_distance_pairs / component_split /
        cross_split_contamination forward id_col through the LSH
        candidate chain (r10 ADVICE medium: the chain hardcoded
        'doc_id', so a renamed id either crashed or silently paired on
        the wrong column).  Renaming the id must give the same results
        modulo the id values themselves."""
        from scdataset_spark.operators.dedup import (
            component_split,
            cross_split_contamination,
            edit_distance_pairs,
        )

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        renamed = docs.select(F.col("doc_id").alias("my_id"), "text")

        base_pairs = sorted(
            map(tuple, edit_distance_pairs(docs, max_dist=20).collect())
        )
        ren_pairs = sorted(
            map(
                tuple,
                edit_distance_pairs(renamed, id_col="my_id", max_dist=20).collect(),
            )
        )
        assert ren_pairs == base_pairs

        base_split = sorted(map(tuple, component_split(docs).collect()))
        ren_split = sorted(
            map(tuple, component_split(renamed, id_col="my_id").collect())
        )
        assert ren_split == base_split

        base_rep = sorted(
            map(tuple, cross_split_contamination(docs).collect())
        )
        ren_rep = sorted(
            map(tuple, cross_split_contamination(renamed, id_col="my_id").collect())
        )
        assert ren_rep == base_rep and base_rep


class TestPersistedAnnIndex:
    def test_probe_equals_inline_ivf(self, spark, tmp_path):
        """The persisted-index probe must return row-identical results
        to the inline ivf_seeded_topk at the same build parameters —
        the layout changes WHERE the cells live, never the answer."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
            ivf_seeded_topk,
        )

        q, c = _qc(spark)
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=8, seed=11, vectorized_assign=False)
        probe = sorted(
            map(tuple, ann_index_topk(spark, path, q, k=3, n_probe=2).collect())
        )
        inline = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=8, n_probe=2, seed=11,
                    vectorized_assign=False,
                ).collect(),
            )
        )
        assert probe == inline and probe

    def test_probe_prunes_partitions(self, spark, tmp_path):
        """The probe's cell scan must carry a PartitionFilters entry on
        the probed set (skipped directories, not a post-scan filter),
        and reading a single query's cells must touch fewer input files
        than the full index holds."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
        )

        q, c = _qc(spark)
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=8, seed=11, vectorized_assign=False)
        one_q = q.where("q_id = 1")
        plan = _plan_str(ann_index_topk(spark, path, one_q, k=3, n_probe=2))
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cell" in m.group(1), plan[:2000]
        # physical proof: the probed scan reads <= n_probe of 8 cells
        pruned = spark.read.parquet(f"{path}/cells").where(
            F.col("cell").isin([0, 1])
        )
        full = spark.read.parquet(f"{path}/cells")
        n_pruned = pruned.select(F.input_file_name()).distinct().count()
        n_full = full.select(F.input_file_name()).distinct().count()
        assert n_pruned < n_full


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


class TestAnnIndexAppend:
    def test_append_assigns_with_frozen_centroids_and_probes(self, spark, tmp_path):
        """Appending an increment must (a) assign every new vector the
        cell the STORED centroids dictate (the exact
        assign_nearest_cell contract against the read-back centroid
        frame), (b) grow the cells layout by exactly the increment,
        and (c) make appended vectors probe-visible (a query identical
        to an appended vector finds it at cosine 1, rank 1)."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            append_to_ann_index,
            assign_nearest_cell,
            build_ann_index,
        )

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        first = c.where("c_id % 2 = 0")
        second = c.where("c_id % 2 = 1")
        path = str(tmp_path / "idx")
        build_ann_index(first, path, n_clusters=8, seed=11, vectorized_assign=False)
        n_first = spark.read.parquet(f"{path}/cells").count()
        append_to_ann_index(second, path, vectorized_assign=False)
        cells = spark.read.parquet(f"{path}/cells")
        assert cells.count() == n_first + second.count()
        # (a) appended cells == direct assignment against stored centroids
        cent = spark.read.parquet(f"{path}/centroids")
        expected = {
            r["c_id"]: r["_cell"]
            for r in assign_nearest_cell(
                second.select("c_id", F.col("embedding").alias("_v")),
                cent, "c_id", "_v",
            ).collect()
        }
        got = {
            r["c_id"]: r["cell"]
            for r in cells.join(second.select("c_id"), "c_id", "left_semi").collect()
        }
        assert got == expected and got
        # (c) an appended vector is probe-visible at cosine 1
        probe_q = e.where("vec_id = 1").select(
            (F.col("vec_id") + 1_000_000).alias("q_id"), "embedding"
        )
        hits = ann_index_topk(spark, path, probe_q, k=1, n_probe=1).collect()
        assert hits and hits[0]["c_id"] == 1 and hits[0]["cosine"] >= 0.999999


class TestPersistedPqIndex:
    def test_probe_equals_inline_pq_topk(self, spark, tmp_path):
        """The persisted IVF-PQ probe (code lists + archive fetch) must
        return row-identical results to the inline pq_topk at the same
        build parameters."""
        from scdataset_spark.operators.similarity import (
            build_pq_index,
            pq_index_topk,
            pq_topk,
        )

        q, c = _qc(spark)
        path = str(tmp_path / "pqidx")
        build_pq_index(
            c, path, n_clusters=8, dim=64, m=8, n_codes=16, seed=11,
            pq_seed=13, vectorized_encode=False, vectorized_assign=False,
        )
        probe = sorted(
            map(
                tuple,
                pq_index_topk(
                    spark, path, q, k=3, refine=3, n_probe=2, dim=64, m=8
                ).collect(),
            )
        )
        inline = sorted(
            map(
                tuple,
                pq_topk(
                    q, c, k=3, refine=3, n_clusters=8, n_probe=2,
                    dim=64, m=8, n_codes=16, seed=11, pq_seed=13,
                    vectorized_encode=False, vectorized_assign=False,
                ).collect(),
            )
        )
        assert probe == inline and probe

    def test_lists_carry_codes_not_vectors(self, spark, tmp_path):
        """The inverted lists must hold only (id, codes, cell) — the
        m-byte payload, never the raw vectors (those live in archive/
        and are fetched per refine·k row)."""
        from scdataset_spark.operators.similarity import build_pq_index

        _, c = _qc(spark)
        path = str(tmp_path / "pqidx")
        build_pq_index(
            c, path, n_clusters=8, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        lists = spark.read.parquet(f"{path}/cells")
        assert sorted(lists.columns) == ["_codes", "c_id", "cell", "cell_group"]
        row = lists.first()
        assert len(row["_codes"]) == 8  # m codes per vector
        archive = spark.read.parquet(f"{path}/archive")
        assert sorted(archive.columns) == ["_v", "c_id"]


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

        _, c = _qc(spark)
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

        q, c = _qc(spark)
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


class TestCellGroupLayout:
    def test_grouped_dirs_probe_equals_inline(self, spark, tmp_path):
        """Past 1024 cells the index layout groups cells into bounded
        partition DIRECTORIES (cell_group) with the per-cell cut on
        row-group stats — the probe must still equal the inline IVF
        exactly, and the directory count must be the grouped one, not
        one-per-cell."""
        from scdataset_spark.operators.similarity import (
            _cell_group_size,
            ann_index_topk,
            build_ann_index,
            ivf_seeded_topk,
        )

        assert _cell_group_size(8) == 1 and _cell_group_size(5333) == 6
        # sf0.1 embeddings (2000 vectors) -> 2000 actual cells -> g=2:
        # the grouped-directory path genuinely fires (1000 dirs, two
        # cells per dir, per-cell cut on row-group stats)
        e = load_table(spark, "embeddings", "/root/testdata/sf0.1", with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=2000, seed=11, vectorized_assign=True)
        import os

        dirs = [d for d in os.listdir(f"{path}/cells") if d.startswith("cell_group=")]
        assert 0 < len(dirs) <= 1000 < 2000  # grouped, not one-per-cell
        probe = sorted(
            map(tuple, ann_index_topk(spark, path, q, k=3, n_probe=2).collect())
        )
        inline = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=2000, n_probe=2, seed=11,
                    vectorized_assign=True,
                ).collect(),
            )
        )
        assert probe == inline and probe
