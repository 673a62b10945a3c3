"""Round-10 semantics guards (VERDICT r9 asks #2/#6 and ADVICE items):

- short-doc gram guard: a document shorter than ``k`` tokens emits NO
  grams, so a padded gram can never collide with a genuine ``k``-gram
  elsewhere and strip/flag the short doc spuriously;
- NULL-text parity: both ``remove_duplicate_spans`` rebuild paths treat
  NULL text as empty and stay row-identical;
- automatic scale posture: past ``AUTO_SCALE_ROWS`` the unflagged
  defaults of ``projected_bucket_pairs`` / ``remove_duplicate_spans``
  pick the measured scale-safe path (vectorized projection,
  bucket-local verify, broadcast-metadata rebuild) without the caller
  knowing the wall exists; below it, the oracle-exact small shape.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.dedup import (
    duplicate_span_coverage,
    remove_duplicate_spans,
)
from scdataset_spark.queries import REGISTRY

from tests._helpers import plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


class TestShortDocGramGuard:
    def test_one_token_doc_cannot_collide_with_real_kgram(self, spark):
        # docs 2/3 duplicate the genuine 5-gram "x x x x x"; doc 1 is a
        # single "x" — under the old padded-gram clamp its one gram was
        # "x x x x x" (last token repeated), which collided and stripped
        # the whole doc.  The guard must leave it untouched.
        docs = [
            (1, "x"),
            (2, "x x x x x tail_a"),
            (3, "x x x x x tail_b"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = {r.doc_id: r for r in remove_duplicate_spans(df, k=5).collect()}
        assert (out[1].n_tokens, out[1].removed_tokens, out[1].clean_text) == (
            1, 0, "x",
        )
        # the real duplicated span IS stripped from the long docs
        assert (out[2].removed_tokens, out[2].clean_text) == (5, "tail_a")
        assert (out[3].removed_tokens, out[3].clean_text) == (5, "tail_b")

        cov = {
            r.doc_id: r for r in duplicate_span_coverage(df, k=5).collect()
        }
        assert (cov[1].n_grams, cov[1].dup_grams, cov[1].covered_tokens) == (
            0, 0, 0,
        )
        assert cov[2].covered_tokens == 5

    def test_short_docs_in_local_rebuild_match_relational(self, spark):
        docs = [
            (1, "x"),
            (2, "a b"),
            (3, "x x x x x y"),
            (4, "x x x x x z"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        rel = sorted(map(tuple, remove_duplicate_spans(df, k=5).collect()))
        loc = sorted(
            map(tuple, remove_duplicate_spans(df, k=5, rebuild="local").collect())
        )
        assert rel == loc


class TestNullTextParity:
    def test_null_text_identical_across_rebuild_paths(self, spark):
        # ADVICE r9: split(NULL) is NULL relationally while the local
        # masker treated None as '' — both paths must now coalesce to ''
        docs = [
            (1, None),
            (2, "x x x x x tail_a"),
            (3, "x x x x x tail_b"),
            (4, ""),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        rel = {r.doc_id: r for r in remove_duplicate_spans(df, k=5).collect()}
        loc = {
            r.doc_id: r
            for r in remove_duplicate_spans(df, k=5, rebuild="local").collect()
        }
        for d in (1, 2, 3, 4):
            assert tuple(rel[d]) == tuple(loc[d]), d
        # NULL lowers to '' -> one empty token, nothing removed
        assert (rel[1].n_tokens, rel[1].removed_tokens, rel[1].clean_text) == (
            1, 0, "",
        )
        assert (rel[4].n_tokens, rel[4].removed_tokens, rel[4].clean_text) == (
            1, 0, "",
        )

    def test_null_text_coverage_rows_present(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "a b c d e f"), (3, "a b c d e f")],
            "doc_id bigint, text string",
        )
        cov = {r.doc_id: r for r in duplicate_span_coverage(df, k=5).collect()}
        assert (cov[1].n_tokens, cov[1].n_grams, cov[1].covered_tokens) == (
            1, 0, 0,
        )
        assert cov[2].covered_tokens == 6


class TestAutoScalePosture:
    def test_jl_out_dim_rule(self):
        from scdataset_spark.operators.similarity import _jl_out_dim

        assert _jl_out_dim(2) == 8          # floor
        assert _jl_out_dim(4096) == 16      # log2(4096)+4
        assert _jl_out_dim(288_000) == 23   # the sf10e audit fixture
        assert _jl_out_dim(2_400_000) == 26  # the sf100e audit fixture
        assert _jl_out_dim(10**30) == 62    # bigint bucket-key ceiling

    def test_big_corpus_defaults_take_fast_path(self, spark):
        """A corpus past AUTO_SCALE_ROWS (forced via n_rows so the test
        stays tiny) must pick vectorized projection + bucket-local
        verify WITHOUT flags — and return the same verified pair set as
        the pinned oracle shape (equality of the two paths is pinned
        separately in test_similarity_extra)."""
        from scdataset_spark.operators.similarity import projected_bucket_pairs
        from scdataset_spark.queries.llm import emb_corpus
        from tests.conftest import SF_DIR_SMALL

        c = emb_corpus(spark, SF_DIR_SMALL)
        # out_dim pinned equal on both sides so the bucket space matches
        auto_big = projected_bucket_pairs(
            c, id_col="vec_id", vec_col="v", threshold=0.98,
            out_dim=16, n_rows=10_000_000,
        )
        plan = plan_text(auto_big)
        assert "MapInPandas" in plan  # vectorized projection + local Gram
        oracle_shape = projected_bucket_pairs(
            c, id_col="vec_id", vec_col="v", threshold=0.98,
            out_dim=16, verify_local=False, max_bucket=None,
            vectorized_projection=False,
        )
        assert "MapInPandas" not in plan_text(oracle_shape)
        got = {(r.id_a, r.id_b) for r in auto_big.collect()}
        want = {(r.id_a, r.id_b) for r in oracle_shape.collect()}
        assert got == want and want  # same pairs, and some exist

    def test_small_corpus_defaults_keep_exact_shape(self, spark):
        """Below the threshold the unflagged call must resolve to the
        oracle-exact small shape (decimal projection, join verify, no
        bucket cap) — identical results to the pinned flags."""
        from scdataset_spark.operators.similarity import projected_bucket_pairs
        from scdataset_spark.queries.llm import emb_corpus
        from tests.conftest import SF_DIR_SMALL

        c = emb_corpus(spark, SF_DIR_SMALL)
        auto_small = projected_bucket_pairs(
            c, id_col="vec_id", vec_col="v", threshold=0.98, out_dim=16,
        )  # triggers the resolution count; small -> exact shape
        assert "MapInPandas" not in plan_text(auto_small)
        pinned = projected_bucket_pairs(
            c, id_col="vec_id", vec_col="v", threshold=0.98,
            out_dim=16, verify_local=False, max_bucket=None,
            vectorized_projection=False,
        )
        assert sorted(map(tuple, auto_small.collect())) == sorted(
            map(tuple, pinned.collect())
        )

    def test_remove_spans_auto_picks_local_at_scale(self, spark):
        docs = [
            (1, "A B C D E F u1 u2 u3"),
            (2, "A B C D E F v1 v2 v3"),
            (3, "w1 w2 w3 w4 w5 w6"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        auto_big = remove_duplicate_spans(df, k=5, n_rows=10_000_000)
        assert "MapInPandas" in plan_text(auto_big)  # Arrow mask rebuild
        rel = remove_duplicate_spans(df, k=5, rebuild="relational")
        assert "MapInPandas" not in plan_text(rel)
        assert sorted(map(tuple, auto_big.collect())) == sorted(
            map(tuple, rel.collect())
        )
        # below the threshold (the resolution count itself): relational
        auto_small = remove_duplicate_spans(df, k=5)
        assert "MapInPandas" not in plan_text(auto_small)


class TestHotCellGuard:
    def test_degenerate_cell_is_split_and_bounded(self, spark):
        """A degenerate corpus (hundreds of identical vectors) routes
        one cell the whole corpus; with max_cell the cell hash-splits
        into bounded sub-cells, each keeping exactly one survivor of
        the identical pack — at most ceil(|cell|/max_cell) extra
        survivors vs the exact single-cell dominance (r9 VERDICT #8)."""
        import numpy as np

        from scdataset_spark.operators.similarity import semantic_dedup_fast

        rng = np.random.default_rng(3)
        dup = [float(x) for x in rng.normal(size=16)]
        rows = [(i, dup) for i in range(240)]
        # plus a handful of well-separated singles that must all survive
        for i, b in enumerate(rng.normal(size=(5, 16))):
            rows.append((1000 + i, [float(x) for x in (b * 10.0)]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = semantic_dedup_fast(
            df, n_clusters=4, threshold=0.98, seed=7, max_cell=50
        ).collect()
        assert len(out) == len(rows)
        kept_dup = [r.vec_id for r in out if r.vec_id < 1000 and r.kept]
        # 240 identical vectors / max_cell 50 -> ceil = 5 sub-cells;
        # each keeps exactly one (its min id), never more
        assert 1 <= len(kept_dup) <= 5
        # unguarded exact dominance keeps exactly one
        exact = semantic_dedup_fast(
            df, n_clusters=4, threshold=0.98, seed=7, max_cell=None
        ).collect()
        assert len([r for r in exact if r.vec_id < 1000 and r.kept]) == 1
        # guard only ADDS survivors, never drops one the exact pass kept
        kept_exact = {r.vec_id for r in exact if r.kept}
        kept_guard = {r.vec_id for r in out if r.kept}
        assert kept_exact <= kept_guard

    def test_guard_inert_below_max_cell(self, spark):
        """Cells under max_cell must produce IDENTICAL results with and
        without the guard (sub-cell is constant 0)."""
        import numpy as np

        from scdataset_spark.operators.similarity import semantic_dedup_fast

        rng = np.random.default_rng(11)
        rows = []
        vid = 0
        for b in rng.normal(size=(6, 16)):
            for _ in range(3):
                v = b + rng.normal(scale=0.005, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        a = sorted(
            map(tuple, semantic_dedup_fast(df, n_clusters=4, seed=7).collect())
        )
        b = sorted(
            map(
                tuple,
                semantic_dedup_fast(df, n_clusters=4, seed=7, max_cell=None).collect(),
            )
        )
        assert a == b


class TestGatedCurationPipeline:
    def test_passing_delivery_curates_with_gate_columns(self, spark):
        from scdataset_spark.queries.llm import pipe_curation, pipe_curation_gated
        from tests.conftest import SF_DIR_SMALL

        out = pipe_curation_gated(spark, SF_DIR_SMALL).collect()
        assert out, "planted corpus must curate some documents"
        assert all(
            (r.gate_checks, r.gate_violations) == (6, 0) for r in out
        )
        # the curated set itself is unchanged from the ungated pipeline
        ungated = {
            (r.doc_id, r.n_tokens)
            for r in pipe_curation(spark, SF_DIR_SMALL).collect()
        }
        assert {(r.doc_id, r.n_tokens) for r in out} == ungated

    def test_failing_delivery_raises_in_plan(self, spark, tmp_path):
        """A delivery violating the language whitelist must abort the
        curated output with the in-plan raise_error — rows never reach
        the caller on a failing gate."""
        import shutil

        import pytest as _pytest

        from scdataset_spark.queries.llm import pipe_curation_gated
        from tests.conftest import SF_DIR_SMALL

        import duckdb

        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              SELECT * FROM read_parquet('{SF_DIR_SMALL}/documents.parquet')
              UNION ALL
              SELECT 999999 AS doc_id, 'rogue doc text here ok' AS text,
                     'xx' AS lang, 'src0' AS source, 22 AS n_chars
            ) TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)
            """
        )
        con.close()
        shutil.copy(
            f"{SF_DIR_SMALL}/embeddings.parquet", tmp_path / "embeddings.parquet"
        )
        with _pytest.raises(Exception, match="ingest gate failed"):
            pipe_curation_gated(spark, str(tmp_path)).collect()


class TestProductQuantization:
    def test_codes_shape_and_determinism(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.similarity import pq_encode
        from tests.conftest import SF_DIR_SMALL

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        n = e.count()
        out = pq_encode(e).collect()
        assert len(out) == n * 8  # m narrow rows per vector
        assert all(0 <= r.code < 16 for r in out)
        assert all(0 <= r.subspace < 8 for r in out)
        again = pq_encode(e).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_codes_match_numpy_recompute(self, spark):
        """The argmin code per (vector, subspace) must equal a direct
        numpy recomputation with the same seeded codebook, rounded
        distances and lowest-code tiebreak."""
        import numpy as np

        from scdataset_spark.operators.similarity import pq_encode
        from scdataset_spark.plans.seeds import mix_py

        rng = np.random.default_rng(17)
        V = rng.normal(size=(40, 64))
        rows = [(i, [float(x) for x in V[i]]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        got = {(r.vec_id, r.subspace): r.code for r in pq_encode(df, seed=13).collect()}
        order = sorted(range(40), key=lambda i: (mix_py(i, 13), i))[:16]
        CB = V[order]  # code j = j-th smallest mix key
        for i in range(40):
            for s in range(8):
                d = np.round(
                    ((V[i, s * 8:(s + 1) * 8] - CB[:, s * 8:(s + 1) * 8]) ** 2).sum(axis=1),
                    6,
                )
                want = int(np.lexsort((np.arange(16), d))[0])
                assert got[(i, s)] == want, (i, s)

    def test_exhaustive_refine_equals_ivf(self, spark):
        """With refine·k covering every probed candidate, the ADC screen
        is inert and IVF-PQ must return EXACTLY ivf_seeded_topk's result
        (same routing, same exact-cosine re-rank)."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.similarity import ivf_seeded_topk, pq_topk
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR_SMALL

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        ivf = {
            (r.q_id, r.c_id, r.cosine, r.rank)
            for r in ivf_seeded_topk(q, c, k=3, n_clusters=8, n_probe=2, seed=11).collect()
        }
        pq = {
            (r.q_id, r.c_id, r.cosine, r.rank)
            for r in pq_topk(
                q, c, k=3, refine=100000, n_clusters=8, n_probe=2, seed=11
            ).collect()
        }
        assert ivf and pq == ivf

    def test_adc_refine_recall_band(self, spark):
        """The ADC screen's recall vs exact IVF must climb with the
        refine budget (measured on this fixture: 0.42 / 0.70 / 0.93 at
        refine 3 / 10 / 20).  Isotropic random 64-dim vectors are PQ's
        WORST case — a 16-codeword book has no cluster structure to
        exploit — so the floors are deliberately loose; exactness when
        the screen is inert is pinned by test_exhaustive_refine above."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.similarity import ivf_seeded_topk, pq_topk
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR_SMALL

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        ivf = {
            (r.q_id, r.c_id)
            for r in ivf_seeded_topk(q, c, k=3, n_clusters=8, n_probe=2, seed=11).collect()
        }
        assert ivf

        def recall(refine):
            pq = {
                (r.q_id, r.c_id)
                for r in pq_topk(
                    q, c, k=3, refine=refine, n_clusters=8, n_probe=2, seed=11
                ).collect()
            }
            return len(pq & ivf) / len(ivf)

        r3, r20 = recall(3), recall(20)
        assert r3 >= 0.3, f"refine=3 recall {r3}"
        assert r20 >= 0.85, f"refine=20 recall {r20}"
        assert r20 >= r3

    def test_validation(self, spark):
        import pytest as _pytest

        from scdataset_spark.operators.similarity import pq_encode

        df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id bigint, embedding array<double>")
        with _pytest.raises(ValueError, match="divisible"):
            pq_encode(df, dim=64, m=7)

    def test_vectorized_encode_matches_hof(self, spark):
        """The BLAS twin (auto past AUTO_SCALE_ROWS) must produce the
        identical code table as the decimal HOF fold — same rounded
        distances, same lowest-code argmin (a code can only differ on a
        1e-6 rounding-boundary tie, absent from this corpus)."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.similarity import pq_encode
        from tests.conftest import SF_DIR_SMALL

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        hof = sorted(map(tuple, pq_encode(e, vectorized=False).collect()))
        blas = sorted(map(tuple, pq_encode(e, vectorized=True).collect()))
        assert hof == blas
        # auto resolution: n_rows forced large -> the BLAS mapInPandas plan
        auto_big = pq_encode(e, n_rows=10_000_000)
        assert "MapInPandas" in plan_text(auto_big)
        assert "MapInPandas" not in plan_text(pq_encode(e, vectorized=False))

    def test_vectorized_assign_matches_hof(self, spark):
        """The BLAS cell assignment must return the identical IVF-PQ
        result as the HOF argmin path (rounded distances + lowest-cell
        ties preserved)."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.similarity import pq_topk
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR_SMALL

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        hof = sorted(map(tuple, pq_topk(
            q, c, k=3, refine=3, n_clusters=8, n_probe=2, seed=11,
            vectorized_encode=False, vectorized_assign=False,
        ).collect()))
        blas = sorted(map(tuple, pq_topk(
            q, c, k=3, refine=3, n_clusters=8, n_probe=2, seed=11,
            vectorized_encode=True, vectorized_assign=True,
        ).collect()))
        assert hof == blas and hof


class TestEditDistanceAndComponentSplit:
    def test_edit_distance_hand_computed(self, spark):
        from scdataset_spark.operators.dedup import edit_distance_pairs

        base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        docs = [
            (1, base),
            (2, base),                      # exact copy -> distance 0
            (3, base.replace("delta", "delXa")),  # one char edit -> 1
            (4, "completely different words that share nothing at all here ok"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = {(r.doc_a, r.doc_b): r.edit_distance
               for r in edit_distance_pairs(df, max_dist=40).collect()}
        assert out[(1, 2)] == 0
        assert out.get((1, 3)) == 1 and out.get((2, 3)) == 1
        assert not any(4 in p for p in out)

    def test_edit_distance_rejects_over_threshold(self, spark):
        from scdataset_spark.operators.dedup import edit_distance_pairs

        a = "one two three four five six seven eight nine ten"
        # same token multiset, heavily reordered: high shingle overlap is
        # impossible here, but a direct near-miss under max_dist=3 shows
        # the verify bound rejecting a genuine LSH candidate
        docs = [(1, a), (2, a + " extra trailing words appended")]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        strict = edit_distance_pairs(df, max_dist=3).collect()
        loose = edit_distance_pairs(df, max_dist=40).collect()
        assert strict == [] and len(loose) == 1

    def test_component_split_keeps_dups_together(self, spark):
        from scdataset_spark.operators.dedup import component_split

        base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        docs = [
            (1, base), (2, base), (3, base),          # one dup cluster
            (10, "unrelated text block number ten with enough tokens here"),
            (11, "another unrelated document with its own distinct words"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = {r.doc_id: r for r in component_split(df, seed=77).collect()}
        assert len(out) == 5  # every doc assigned exactly once
        # the dup cluster shares one split key (the min id) and one split
        assert {out[d].split_key for d in (1, 2, 3)} == {1}
        assert len({out[d].split for d in (1, 2, 3)}) == 1
        # singletons key on their own id
        assert out[10].split_key == 10 and out[11].split_key == 11
        assert all(out[d].split in ("train", "val", "test") for d in out)

    def test_component_split_reduces_to_keyed_stamp_without_dups(self, spark):
        from scdataset_spark.operators.dedup import component_split
        from scdataset_spark.plans.seeds import mix_py

        docs = [
            (5, "first totally unique document body with many words inside"),
            (6, "second body sharing no shingles with any other document"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = {r.doc_id: r.split for r in component_split(df, seed=77).collect()}
        for d in (5, 6):
            b = mix_py(d, 77) % 1000
            want = "train" if b < 900 else ("val" if b < 950 else "test")
            assert out[d] == want


class TestRound10PlanShapes:
    def test_pq_ann_no_cartesian(self, spark):
        """Every crossJoin in the IVF-PQ plan is a BROADCAST of a tiny
        index frame (centroids / codebook / 1-row arrays) — a raw
        CartesianProduct would mean an index rode a shuffle."""
        from scdataset_spark.queries import REGISTRY
        from tests.conftest import SF_DIR

        plan = plan_text(REGISTRY["sim_pq_ann"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_gated_curation_no_cartesian_and_broadcast_summary(self, spark):
        from scdataset_spark.queries import REGISTRY
        from tests.conftest import SF_DIR

        plan = plan_text(REGISTRY["pipe_curation_gated"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        # the 1-row gate summary rides a broadcast onto the curated rows
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_component_split_corpus_never_cartesians(self, spark):
        from scdataset_spark.queries import REGISTRY
        from tests.conftest import SF_DIR

        plan = plan_text(REGISTRY["o22_component_split"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan


class TestProfileDrift:
    def test_hand_computed_deltas(self, spark):
        from scdataset_spark.operators.quality import profile_drift

        base = spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "a"), (3, None, "b")],
            "id bigint, v double, cat string",
        )
        curr = spark.createDataFrame(
            [(4, 40.0, "a"), (5, None, "c"), (6, None, None)],
            "id bigint, v double, cat string",
        )
        out = {
            (r.col_name, r.metric): r
            for r in profile_drift(base, curr, ["v"], ["cat"]).collect()
        }
        assert out[("_table", "rows")].abs_delta == 0.0
        # nulls in v: 1 -> 2
        r = out[("v", "nulls")]
        assert (r.base_value, r.curr_value, r.abs_delta, r.rel_delta) == (
            1.0, 2.0, 1.0, 1.0,
        )
        # distinct v: 2 -> 1
        assert out[("v", "distinct")].abs_delta == -1.0
        assert out[("v", "distinct")].rel_delta == -0.5
        # mean v: 15 -> 40
        assert out[("v", "mean")].abs_delta == 25.0
        # rel_delta NULL when base is 0 (cat nulls 0 -> 1)
        r = out[("cat", "nulls")]
        assert (r.base_value, r.curr_value, r.rel_delta) == (0.0, 1.0, None)

    def test_two_scans_no_cartesian(self, spark):
        from scdataset_spark.queries import REGISTRY
        from tests.conftest import SF_DIR

        plan = plan_text(REGISTRY["dq_profile_drift"].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        import re

        scans = re.findall(r"^\(\d+\) Scan parquet", plan, __import__("re").M)
        assert len(set(scans)) <= 2, scans


class TestContaminationReport:
    def test_hand_computed_counts(self, spark):
        from scdataset_spark.operators.dedup import cross_split_contamination
        from scdataset_spark.plans.seeds import mix_py

        base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        # find ids whose o21-style stamps differ so the dup pair is
        # guaranteed to straddle a split boundary
        def stamp(d):
            b = mix_py(d, 77) % 1000
            return "train" if b < 900 else ("val" if b < 950 else "test")

        ids = list(range(200))
        train = [d for d in ids if stamp(d) == "train"]
        nontrain = [d for d in ids if stamp(d) != "train"]
        assert train and nontrain
        a, b = train[0], nontrain[0]
        docs = [
            (a, base),
            (b, base),  # near-dup pair straddling the boundary
            (500, "totally unrelated words that never collide with anything"),
        ]
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        out = cross_split_contamination(df, seed=77).collect()
        assert len(out) == 1
        r = out[0]
        lo, hi = sorted([stamp(a), stamp(b)])
        assert (r.split_lo, r.split_hi) == (lo, hi)
        assert (r.n_pairs, r.n_docs_lo, r.n_docs_hi) == (1, 1, 1)

    def test_report_nonempty_on_planted_corpus(self, spark):
        """The planted corpus has enough dup pairs that SOME straddle a
        90/5/5 boundary — the report must quantify them (and the
        component split is what makes this number 0 by construction)."""
        from scdataset_spark.queries import REGISTRY
        from tests.conftest import SF_DIR_SMALL

        rows = REGISTRY["dd_contamination_report"].fn(spark, SF_DIR_SMALL).collect()
        assert rows and sum(r.n_pairs for r in rows) > 0


class TestSemanticDedupAutoCells:
    def test_cell_budget_resolves_from_corpus_size(self, spark):
        """n_clusters=None resolves max(8, n // 500): tiny corpus -> 8
        cells (identical to the pinned small shape); n_rows forced big
        -> the cell budget scales, results stay a valid dominance
        labeling (every kept=False vector has a same-cell smaller-id
        dominator)."""
        import numpy as np

        from scdataset_spark.operators.similarity import semantic_dedup_fast

        rng = np.random.default_rng(23)
        rows = []
        vid = 0
        for b in rng.normal(size=(6, 16)):
            for _ in range(3):
                v = b + rng.normal(scale=0.005, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        auto = sorted(map(tuple, semantic_dedup_fast(df, seed=7).collect()))
        pinned = sorted(
            map(tuple, semantic_dedup_fast(df, n_clusters=8, seed=7).collect())
        )
        assert auto == pinned  # 18 rows -> max(8, 0) = 8 cells
        # forced-large budget: n // 500 cells, capped by corpus size
        big = semantic_dedup_fast(df, seed=7, n_rows=10_000).collect()
        assert len(big) == len(rows)
        cells = {r.vec_id: r.cell for r in big}
        kept = {r.vec_id: r.kept for r in big}
        V = np.array([r[1] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = np.round(Vn @ Vn.T, 4)
        for i in range(len(rows)):
            dominated = any(
                cells[j] == cells[i] and C[j, i] >= 0.98 for j in range(i)
            )
            assert kept[i] == (not dominated), i
