"""Round-9 wiring tests: chunk_documents, mixture_plan,
random_projection, volume_anomalies (gap-filled) — plus the
plan-construction job-count pins from VERDICT r8 #8 and the
distribution_drift input guards from ADVICE r8."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.dedup import (
    duplicate_span_coverage,
    remove_duplicate_spans,
)
from scdataset_spark.operators.quality import distribution_drift, volume_anomalies
from scdataset_spark.operators.similarity import random_projection
from scdataset_spark.operators.strategies import mixture_plan, Streaming
from scdataset_spark.operators.textanalysis import chunk_documents
from scdataset_spark.plans.plan import with_batches

from tests._helpers import assert_no_jobs
from tests.conftest import SF_DIR_SMALL


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


class TestVolumeAnomalies:
    def test_missing_day_is_gap_filled_and_flagged(self, spark):
        rows = []
        for d in range(13):
            if d == 6:
                continue  # the silently-skipped delivery day
            for i in range(100 + d):
                rows.append((dt.datetime(2024, 3, 1 + d, 8, 0, i % 60),))
        df = spark.createDataFrame(rows, "ts timestamp")
        out = {r.bucket_ts.day: r for r in volume_anomalies(df, "ts", bucket="day", k=3.5).collect()}
        assert len(out) == 13  # gap day present, not invisible
        gap = out[7]  # March 7 == d 6
        assert gap.n_events == 0
        assert gap.is_anomaly
        assert all(not r.is_anomaly for d, r in out.items() if d != 7)

    def test_constant_counts_yield_no_anomalies(self, spark):
        rows = [
            (dt.datetime(2024, 3, 1 + d, 8, 0, i),)
            for d in range(5)
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, "ts timestamp")
        out = volume_anomalies(df, "ts").collect()
        # mad = 0 -> defined as no anomalies, robust_z NULL
        assert all(not r.is_anomaly and r.robust_z is None for r in out)

    def test_bucket_units_map_and_validate(self, spark):
        """date_trunc spellings that are not interval units (quarter,
        dd, mon) must still gap-fill correctly; garbage units raise
        up front instead of parse-erroring at the first action."""
        rows = [
            (dt.datetime(2024, m, 15, 12, 0, 0),)
            for m in (1, 2, 3, 7, 8, 9)  # Q2 entirely missing
            for _ in range(5)
        ]
        df = spark.createDataFrame(rows, "ts timestamp")
        out = {r.bucket_ts.month: r.n_events for r in volume_anomalies(df, "ts", bucket="quarter").collect()}
        assert out == {1: 15, 4: 0, 7: 15}  # Q2 gap-filled with zero
        with pytest.raises(ValueError, match="unsupported bucket"):
            volume_anomalies(df, "ts", bucket="fortnight")

    def test_drift_input_validation(self, spark):
        ev = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError, match="hi must be > lo"):
            distribution_drift(ev, ev, "v", 10.0, 10.0)
        with pytest.raises(ValueError, match="n_buckets"):
            distribution_drift(ev, ev, "v", 0.0, 1.0, n_buckets=0)


class TestBatchPlanJobFree:
    def test_with_batches_plan_construction_runs_no_job(self, spark):
        # O12's posture: building the fetch/batch plan is pure plan
        # algebra; only exact_num_batches' closed form (pure Python) or
        # an explicit action may run anything
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        assert_no_jobs(
            spark.sparkContext,
            "o12-batch-plan-lazy",
            lambda: with_batches(
                Streaming(assume_dense=True).plan(li, seed=42),
                batch_size=32,
                fetch_factor=16,
                drop_last=True,
            ),
        )


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
