"""Unit semantics for the round-7 dedup additions:

- ``duplicate_span_coverage``: corpus-frequency k-grams + per-doc
  interval union (gaps-and-islands) — checked on a micro corpus with
  hand-computed coverage, including a within-document repeat.
- ``semantic_dedup``: cluster-then-cosine dominance dedup — checked by
  INVARIANT against a brute-force numpy recomputation (robust to which
  seeded centroids get picked): a vector is dropped iff a smaller-id
  vector in the SAME cell clears the cosine threshold.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.dedup import duplicate_span_coverage
from scdataset_spark.operators.similarity import semantic_dedup

from tests.conftest import SF_DIR_SMALL


class TestDuplicateSpanCoverage:
    def _run(self, spark, rows, k=5):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = duplicate_span_coverage(df, k=k)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_cross_doc_shared_run_merges_overlapping_grams(self, spark):
        # A and B share the 6-token run "a b c d e f": two overlapping
        # 5-grams each -> island of 5 + min(5, gap 1) = 6 covered tokens
        got = self._run(
            spark,
            [
                (1, "a b c d e f g h"),
                (2, "x a b c d e f y"),
                (3, "q w e r t y u i"),
            ],
        )
        assert got[1]["n_tokens"] == 8 and got[1]["n_grams"] == 4
        assert got[1]["dup_grams"] == 2
        assert got[1]["covered_tokens"] == 6
        assert got[1]["dup_token_fraction"] == 0.75
        assert got[2]["covered_tokens"] == 6
        # no shared grams anywhere for doc 3
        assert got[3]["dup_grams"] == 0
        assert got[3]["covered_tokens"] == 0
        assert got[3]["dup_token_fraction"] == 0.0

    def test_within_doc_repeat_counts(self, spark):
        # "p q r s t" occurs at positions 1 and 6 of the SAME doc:
        # corpus frequency 2 -> both positions duplicated, islands
        # 5 + min(5, 5) = 10 -> full coverage
        got = self._run(spark, [(1, "p q r s t p q r s t"), (2, "a b c d e f")])
        assert got[1]["dup_grams"] == 2
        assert got[1]["covered_tokens"] == 10
        assert got[1]["dup_token_fraction"] == 1.0
        assert got[2]["dup_grams"] == 0

    def test_exact_copies_fully_covered(self, spark):
        got = self._run(
            spark,
            [(1, "one two three four five six seven"), (2, "one two three four five six seven")],
        )
        for d in (1, 2):
            assert got[d]["dup_token_fraction"] == 1.0
            assert got[d]["dup_grams"] == got[d]["n_grams"]

    def test_short_doc_emits_no_grams(self, spark):
        # docs shorter than k emit NO grams (r9 VERDICT #6): a padded
        # gram could collide with a real k-gram elsewhere; identical
        # short docs therefore report zero coverage (whole-doc dedup is
        # exact dedup's job, not the span metric's)
        got = self._run(spark, [(1, "hi there"), (2, "hi there"), (3, "bye now")])
        assert got[1]["n_grams"] == 0
        assert got[1]["dup_grams"] == 0
        assert got[1]["covered_tokens"] == 0
        assert got[3]["dup_grams"] == 0


class TestSemanticDedup:
    def test_dominance_invariant_vs_bruteforce(self, spark):
        rng = np.random.default_rng(5)
        base = rng.normal(size=(6, 16))
        rows = []
        vid = 0
        for b in base:
            for _ in range(3):  # three near-copies of each base direction
                v = b + rng.normal(scale=0.005, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = semantic_dedup(df, n_clusters=4, threshold=0.98, seed=7).collect()
        assert len(out) == len(rows)
        cells = {r["vec_id"]: r["cell"] for r in out}
        kept = {r["vec_id"]: r["kept"] for r in out}
        V = np.array([r[1] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = np.round(Vn @ Vn.T, 4)
        for i in range(len(rows)):
            dominated = any(
                cells[j] == cells[i] and C[j, i] >= 0.98 for j in range(i)
            )
            assert kept[i] == (not dominated), f"vec {i}"
        # the near-copy triplets make at least some drops inevitable
        assert sum(1 for v in kept.values() if not v) >= 6

    def test_all_distinct_all_kept(self, spark):
        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in rng.normal(size=16)]) for i in range(12)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = semantic_dedup(df, n_clusters=3, threshold=0.999, seed=3)
        assert out.where(~F.col("kept")).count() == 0


class TestBandedMaxBucket:
    def test_hot_bucket_cap_drops_saturated_band(self, spark):
        """A clique of near-identical vectors shares every band bucket;
        capping below the clique size must drop those buckets (and with
        them the clique's pairs), while max_bucket=None keeps them."""
        import numpy as np

        from scdataset_spark.operators.similarity import lsh_banded_pairs

        rng = np.random.default_rng(3)
        base = rng.normal(size=16)
        rows = [(i, [float(x) for x in base + rng.normal(scale=1e-4, size=16)])
                for i in range(20)]
        rows += [(100 + i, [float(x) for x in rng.normal(size=16)]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        exact = lsh_banded_pairs(df, rows_per_band=8, bands=4, dim=16).collect()
        clique = {(r.id_a, r.id_b) for r in exact if r.id_a < 20 and r.id_b < 20}
        assert len(clique) == 190  # all C(20,2) near-identical pairs collide
        capped = lsh_banded_pairs(
            df, rows_per_band=8, bands=4, dim=16, max_bucket=10
        ).collect()
        capped_pairs = {(r.id_a, r.id_b) for r in capped}
        assert not (clique & capped_pairs)


class TestSemanticDedupFast:
    def test_fast_equals_exact_on_planted_corpus(self, spark):
        """The vectorized path must reproduce the exact path row-for-row
        on the planted corpus (cosines sit far from the 0.98 boundary,
        so BLAS-vs-fold summation differences cannot flip a verdict)."""
        from scdataset_spark.operators.similarity import semantic_dedup_fast
        from scdataset_spark.queries.llm import emb_corpus
        from tests.conftest import SF_DIR

        c = emb_corpus(spark, SF_DIR)
        for k in (8, 40):
            exact = {
                (r["vec_id"], r["cell"], r["kept"])
                for r in semantic_dedup(
                    c, id_col="vec_id", vec="v", n_clusters=k, seed=11
                ).collect()
            }
            fast = {
                (r["vec_id"], r["cell"], r["kept"])
                for r in semantic_dedup_fast(
                    c, id_col="vec_id", vec="v", n_clusters=k, seed=11
                ).collect()
            }
            assert exact == fast, f"k={k}: {len(exact ^ fast)} differing rows"

    def test_fast_blocked_gram_matches_unblocked(self, spark):
        from scdataset_spark.operators.similarity import semantic_dedup_fast
        from scdataset_spark.queries.llm import emb_corpus
        from tests.conftest import SF_DIR

        c = emb_corpus(spark, SF_DIR)
        a = sorted(map(tuple, semantic_dedup_fast(
            c, id_col="vec_id", vec="v", n_clusters=8, seed=11, block=7
        ).collect()))
        b = sorted(map(tuple, semantic_dedup_fast(
            c, id_col="vec_id", vec="v", n_clusters=8, seed=11, block=4096
        ).collect()))
        assert a == b

    def test_two_level_routing_matches_flat_argmin(self, spark):
        """Exercise the k > coarse_route_k two-level path (inert in the
        tests above because k <= 512 there) by LOWERING the route
        threshold: the bound-pruned search must match the flat argmin
        row-for-row — it is exact by the triangle inequality, unlike
        the r7 top-p probe heuristic (measured 81% agreement here) and
        unaffected by the r7 advisor's stale-membership bug (groups and
        radii are derived from the FINAL Lloyd-updated probe set)."""
        from scdataset_spark.operators.similarity import semantic_dedup_fast
        from scdataset_spark.queries.llm import emb_corpus
        from tests.conftest import SF_DIR

        c = emb_corpus(spark, SF_DIR)
        flat = {
            (r["vec_id"], r["cell"], r["kept"])
            for r in semantic_dedup_fast(
                c, id_col="vec_id", vec="v", n_clusters=40, seed=11,
                coarse_route_k=10_000,
            ).collect()
        }
        routed = {
            (r["vec_id"], r["cell"], r["kept"])
            for r in semantic_dedup_fast(
                c, id_col="vec_id", vec="v", n_clusters=40, seed=11,
                coarse_route_k=16, probes=3,
            ).collect()
        }
        assert flat == routed, f"{len(flat ^ routed)} differing rows"

    def test_routing_tie_break_on_duplicate_vectors(self, spark):
        """Exact duplicate vectors make seeded centroids COINCIDE, so
        rows sit at exactly equal distance to several centroids — the
        case where the routed path's update rule must reproduce the
        flat argmin's lowest-index-wins tie rule (the r8 advisor
        finding: strict '<' updates kept the first-visited group
        instead).  120 rows = 30 distinct vectors x 4 copies,
        n_clusters=40 guarantees duplicate centroids; coarse_route_k=8
        forces the two-level path."""
        from scdataset_spark.operators.similarity import semantic_dedup_fast

        rows = [
            (p * 100 + copy, [float((p * 31 + i * 7) % 13 - 6) for i in range(64)])
            for p in range(30)
            for copy in range(4)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
        flat = {
            (r["vec_id"], r["cell"], r["kept"])
            for r in semantic_dedup_fast(
                df, id_col="vec_id", vec="v", n_clusters=40, seed=11,
                coarse_route_k=10_000,
            ).collect()
        }
        routed = {
            (r["vec_id"], r["cell"], r["kept"])
            for r in semantic_dedup_fast(
                df, id_col="vec_id", vec="v", n_clusters=40, seed=11,
                coarse_route_k=8,
            ).collect()
        }
        assert flat == routed, f"{len(flat ^ routed)} differing rows"


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


class TestRemoveDuplicateSpans:
    def test_hand_computed_removals(self, spark):
        from scdataset_spark.operators.dedup import remove_duplicate_spans

        docs = [
            (1, "A B C D E F u1 u2 u3"),   # shares 6-token prefix with 2
            (2, "A B C D E F v1 v2 v3"),
            (3, "X1 X2 X3 X4 X5 X6 X7"),   # exact twin of 4
            (4, "X1 X2 X3 X4 X5 X6 X7"),
            (5, "w1 w2 w3 w4 w5 w6"),      # fully unique
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = {r.doc_id: r for r in remove_duplicate_spans(df, k=5).collect()}
        # grams at positions 1-2 are shared between docs 1/2 -> tokens
        # 1..6 covered, unique tails survive
        assert (out[1].removed_tokens, out[1].clean_text) == (6, "u1 u2 u3")
        assert (out[2].removed_tokens, out[2].clean_text) == (6, "v1 v2 v3")
        # exact twins: every position covered, docs survive as empty
        assert (out[3].removed_tokens, out[3].clean_text) == (7, "")
        assert (out[4].removed_tokens, out[4].clean_text) == (7, "")
        # unique doc untouched
        assert (out[5].removed_tokens, out[5].clean_text) == (0, "w1 w2 w3 w4 w5 w6")
        assert out[5].n_tokens == 6

    def test_consistent_with_coverage_metric(self, spark):
        """removed_tokens must equal duplicate_span_coverage's
        covered_tokens on the same corpus — the transform and the
        metric share one definition of 'covered'."""
        from scdataset_spark.operators.dedup import (
            duplicate_span_coverage,
            remove_duplicate_spans,
        )

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).select(
            "doc_id", "text"
        )
        cov = {r.doc_id: r.covered_tokens for r in duplicate_span_coverage(docs, k=5).collect()}
        rem = {r.doc_id: r.removed_tokens for r in remove_duplicate_spans(docs, k=5).collect()}
        assert cov == rem

    def test_local_rebuild_matches_relational(self, spark):
        """rebuild='local' (broadcast dup-start metadata + Arrow mask —
        the corpus text never shuffles) must be row-identical to the
        relational path on every column."""
        from scdataset_spark.operators.dedup import remove_duplicate_spans

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).select(
            "doc_id", "text"
        )
        rel = sorted(map(tuple, remove_duplicate_spans(docs, k=5).collect()))
        loc = sorted(map(tuple, remove_duplicate_spans(docs, k=5, rebuild="local").collect()))
        assert rel == loc
        with __import__("pytest").raises(ValueError, match="rebuild"):
            remove_duplicate_spans(docs, rebuild="nope")
