"""Data-quality operators: profile, outlier screen, salted exact
per-group top-k, BM25, gap-filled volume anomalies."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F, Window

from scdataset_spark.catalog import load_table
from scdataset_spark.ml import bm25_scores
from scdataset_spark.operators.quality import (
    distribution_drift,
    numeric_outliers,
    profile_columns,
    volume_anomalies,
)
from scdataset_spark.operators.skew import per_group_top_k
from scdataset_spark.plans.seeds import mix_sql

from tests._helpers import plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


class TestProfile:
    def test_exact_and_approx_agree_on_shape(self, spark):
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        exact = profile_columns(ev, ["value"], ["event_type"])
        approx = profile_columns(ev, ["value"], ["event_type"], approx=True)
        assert exact.columns == approx.columns == ["col_name", "metric", "value"]
        e = {(r.col_name, r.metric): r.value for r in exact.collect()}
        a = {(r.col_name, r.metric): r.value for r in approx.collect()}
        assert set(e) == set(a)
        # non-distinct metrics are identical; approx distinct is within rsd
        for k, v in e.items():
            if k[1] != "distinct":
                assert a[k] == v
            else:
                assert a[k] == pytest.approx(v, rel=0.2)

    def test_profile_values(self, spark):
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        prof = {
            (r.col_name, r.metric): r.value
            for r in profile_columns(ev, ["value"], ["event_type"]).collect()
        }
        n = ev.count()
        assert prof[("_table", "rows")] == float(n)
        assert prof[("event_type", "nulls")] == 0.0
        assert prof[("event_type", "distinct")] == float(
            ev.select("event_type").distinct().count()
        )
        assert prof[("value", "min")] <= prof[("value", "mean")] <= prof[("value", "max")]

    def test_single_job_one_agg(self, spark):
        """The whole profile is ONE aggregate over one scan — no
        per-column driver loop (the plan contains exactly one
        HashAggregate pair chain over the single source)."""
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        plan = profile_columns(ev, ["value", "user_id"], ["event_type"])._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Relation") == 1


class TestOutliers:
    def test_matches_recompute(self, spark):
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        got = numeric_outliers(ev, "value", ["event_id"], 2.5)
        row = ev.agg(
            F.avg("value").alias("mu"), F.stddev_pop("value").alias("s")
        ).first()
        expect = ev.where(
            F.abs((F.col("value") - row.mu) / row.s) > 2.5
        ).count()
        assert got.count() == expect
        for r in got.collect():
            assert abs(r.z) > 2.5

    def test_constant_column_yields_no_outliers(self, spark):
        """sigma = 0 (constant column) is defined as NO outliers —
        guarded explicitly because Spark's x/0.0 is NULL while DuckDB's
        is ±inf, a full engine divergence without the guard (r7 advisor
        finding)."""
        df = spark.createDataFrame(
            [(i, 5.0) for i in range(10)], "id bigint, v double"
        )
        assert numeric_outliers(df, "v", ["id"], 1.0).count() == 0

    def test_all_null_and_empty_inputs(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None)], "id bigint, v double"
        )
        assert numeric_outliers(df, "v", ["id"], 1.0).count() == 0
        empty = spark.createDataFrame([], "id bigint, v double")
        assert numeric_outliers(empty, "v", ["id"], 1.0).count() == 0

    def test_big_side_not_shuffled(self, spark):
        """Stats come back as a broadcast: the events scan feeds the
        filter directly with no Exchange above it on the big side."""
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        physical = (
            numeric_outliers(ev, "value", ["event_id"], 3.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical


class TestPerGroupTopK:
    def test_exact_vs_window_rank(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).select(
            "doc_id", "source"
        )
        order = [F.expr(mix_sql("doc_id", 7, "spark")), F.col("doc_id")]
        got = {
            (r.source, r.rnk): r.doc_id
            for r in per_group_top_k(docs, ["source"], order, k=5, salts=4).collect()
        }
        w = Window.partitionBy("source").orderBy(*order)
        want = {
            (r.source, r.rnk): r.doc_id
            for r in docs.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 5)
            .collect()
        }
        assert got == want

    def test_salt_count_invariance(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).select(
            "doc_id", "source"
        )
        order = [F.expr(mix_sql("doc_id", 7, "spark")), F.col("doc_id")]
        a = sorted(
            (r.source, r.rnk, r.doc_id)
            for r in per_group_top_k(docs, ["source"], order, k=3, salts=2).collect()
        )
        b = sorted(
            (r.source, r.rnk, r.doc_id)
            for r in per_group_top_k(docs, ["source"], order, k=3, salts=32).collect()
        )
        assert a == b

    def test_k_validation(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        with pytest.raises(ValueError, match="k must be"):
            per_group_top_k(docs, ["source"], [F.col("doc_id")], k=0)


class TestBM25:
    def test_rare_term_outscores_common(self, spark):
        """A doc containing the rare term 'dup' must outscore docs with
        only common terms (idf dominance), and every score is finite
        and positive."""
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        scored = bm25_scores(docs, ["spark", "dup"]).collect()
        assert scored
        has_dup = {
            r.doc_id
            for r in docs.where(
                F.array_contains(F.split("text", " "), "dup")
            ).collect()
        }
        if has_dup:
            best_dup = max(r.bm25 for r in scored if r.doc_id in has_dup)
            best_plain = max(
                (r.bm25 for r in scored if r.doc_id not in has_dup), default=0.0
            )
            assert best_dup > best_plain
        for r in scored:
            assert r.bm25 > 0

    def test_only_matching_docs_scored(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        scored = bm25_scores(docs, ["dup"])
        match = docs.where(F.array_contains(F.split("text", " "), "dup")).count()
        assert scored.count() == match


class TestGapFill:
    def test_gaps_forward_filled(self, spark):
        from datetime import datetime

        from scdataset_spark.streaming.events import gap_fill_hourly

        rows = [
            ("A", datetime(2024, 1, 1, 0, 30), 10.0),
            ("A", datetime(2024, 1, 1, 3, 15), 40.0),
            ("B", datetime(2024, 1, 1, 1, 5), 7.0),
        ]
        ev = spark.createDataFrame(rows, ["event_type", "ts", "value"])
        got = {
            (r.event_type, r.hr.hour): (r.value_ffill, r.is_gap)
            for r in gap_fill_hourly(ev).collect()
        }
        # dense spine: global hours 0..3 for both types
        assert len(got) == 8
        assert got[("A", 0)] == (10.0, False)
        assert got[("A", 1)] == (10.0, True)   # filled from hour 0
        assert got[("A", 2)] == (10.0, True)
        assert got[("A", 3)] == (40.0, False)
        # B has no observation before hour 1: leading null stays null
        assert got[("B", 0)] == (None, True)
        assert got[("B", 1)] == (7.0, False)
        assert got[("B", 3)] == (7.0, True)


class TestDistributionDrift:
    def test_identical_sides_zero_psi(self, spark):
        from scdataset_spark.operators.quality import distribution_drift

        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        out = distribution_drift(ev, ev, "value", 0.0, 500.0).collect()
        assert out  # at least one populated bin
        for r in out:
            assert r.p_base == r.p_curr
            assert r.psi == 0.0

    def test_psi_terms_nonnegative_and_shares_sum_to_one(self, spark):
        from scdataset_spark.operators.quality import distribution_drift

        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        base = ev.where(F.col("event_id") % 2 == 0)
        curr = ev.where(F.col("event_id") % 2 == 1)
        rows = distribution_drift(base, curr, "value", 0.0, 500.0).collect()
        # (p-q) and ln(p/q) always share sign, so every term is >= 0
        assert all(r.psi >= 0.0 for r in rows)
        assert sum(r.p_base for r in rows) == pytest.approx(1.0, abs=1e-4)
        assert sum(r.p_curr for r in rows) == pytest.approx(1.0, abs=1e-4)

    def test_disjoint_supports_use_eps_floor(self, spark):
        """A bin present on one side only gets the eps-floored share,
        not a NULL/inf — the standard PSI empty-bin convention."""
        import math

        from scdataset_spark.operators.quality import distribution_drift

        a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
        b = spark.createDataFrame([(50.0 + i % 10,) for i in range(100)], "v double")
        rows = distribution_drift(a, b, "v", 0.0, 100.0, n_buckets=10).collect()
        by_bucket = {r.bucket: r for r in rows}
        assert by_bucket[0].p_curr == 1e-6  # current side empty there
        assert by_bucket[5].p_base == 1e-6
        expect = (1.0 - 1e-6) * math.log(1.0 / 1e-6)
        assert by_bucket[0].psi == pytest.approx(round(expect, 6), abs=2e-6)

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        from scdataset_spark.operators.quality import distribution_drift

        a = spark.createDataFrame([(-5.0,), (105.0,)], "v double")
        rows = distribution_drift(a, a, "v", 0.0, 100.0, n_buckets=10).collect()
        assert sorted(r.bucket for r in rows) == [0, 9]


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


class TestGroupedBucketedRank:
    def test_matches_window_row_number(self, spark):
        from scdataset_spark.plans.plan import grouped_bucketed_rank

        ev = (
            load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
            .select("event_id", "event_type")
            .withColumn("_k", F.expr(mix_sql("event_id", 5, "spark")))
        )
        for buckets in (1, 7, 64):
            got = {
                (r.event_id, r.pos)
                for r in grouped_bucketed_rank(
                    ev,
                    ["event_type"],
                    "_k",
                    [("_k", "asc"), ("event_id", "asc")],
                    buckets=buckets,
                ).collect()
            }
            w = Window.partitionBy("event_type").orderBy("_k", "event_id")
            want = {
                (r.event_id, r.pos)
                for r in ev.withColumn(
                    "pos", F.row_number().over(w) - F.lit(1)
                ).collect()
            }
            assert got == want, f"buckets={buckets}"

    def test_no_global_single_partition_window(self, spark):
        """The numbering window partitions by (group, bucket) — the
        plan must not contain a partition-less Window sort (the
        single-reducer shape the primitive exists to avoid)."""
        from scdataset_spark.plans.plan import grouped_bucketed_rank

        ev = (
            load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
            .select("event_id", "event_type")
            .withColumn("_k", F.col("event_id") * 7 % 1000)
        )
        big = grouped_bucketed_rank(
            ev, ["event_type"], "_k", [("_k", "asc"), ("event_id", "asc")]
        )
        plan = big._jdf.queryExecution().executedPlan().toString()
        win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert len(win_lines) == 2  # numbering window + offsets prefix-sum
        for ln in win_lines:
            # Spark renders `Window [exprs], [partitionSpec], [order]` —
            # every window here must partition by the group column (the
            # big one additionally by _bucket); a partition-less spec
            # would be the single-reducer shape this primitive replaces
            assert "], [event_type#" in ln


class TestInterleave:
    def test_first_exhausted_strict_balance(self, spark):
        from scdataset_spark.operators.skew import interleave_groups

        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False).select(
            "event_id", "event_type"
        )
        key = F.expr(mix_sql("event_id", 91, "spark"))
        out = interleave_groups(ev, "event_type", key, "event_id").collect()
        sizes = ev.groupBy("event_type").count().collect()
        mn = min(r["count"] for r in sizes)
        ngroups = len(sizes)
        assert len(out) == mn * ngroups
        # every group contributes exactly mn rows, rn in [0, mn)
        from collections import Counter

        per = Counter(r.event_type for r in out)
        assert set(per.values()) == {mn}
        # the pos order is a strict rotation: rows [k*ngroups, (k+1)*ngroups)
        # are rn == k, one per group
        by_pos = sorted(out, key=lambda r: r.pos)
        assert [r.pos for r in by_pos] == list(range(len(out)))
        for k in range(mn):
            window = by_pos[k * ngroups : (k + 1) * ngroups]
            assert {r.rn for r in window} == {k}
            assert len({r.event_type for r in window}) == ngroups

    def test_all_exhausted_keeps_everything(self, spark):
        from scdataset_spark.operators.skew import interleave_groups

        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False).select(
            "event_id", "event_type"
        )
        key = F.expr(mix_sql("event_id", 91, "spark"))
        out = interleave_groups(
            ev, "event_type", key, "event_id", first_exhausted=False
        )
        assert out.count() == ev.count()


class TestUnigramLogprob:
    def test_rare_tokens_score_lower(self, spark):
        from scdataset_spark.ml import unigram_logprob

        rows = [(1, "a a a a"), (2, "a a a z")]  # z appears once in corpus
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
        assert out[1].n_tokens == out[2].n_tokens == 4
        assert out[2].avg_logprob < out[1].avg_logprob

    def test_uniform_corpus_scores_equal(self, spark):
        from scdataset_spark.ml import unigram_logprob

        docs = spark.createDataFrame(
            [(i, "x y") for i in range(10)], "doc_id bigint, text string"
        )
        vals = {r.avg_logprob for r in unigram_logprob(docs).collect()}
        assert len(vals) == 1


class TestBruteForceTopkTwoPhase:
    def test_two_phase_matches_window_path(self, spark, monkeypatch):
        import scdataset_spark.operators.similarity as sim
        from scdataset_spark.catalog import load_table as lt

        e = lt(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 7").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        # both shapes forced through the size gate's threshold
        monkeypatch.setattr(sim, "TWO_PHASE_MIN_BYTES", 0)
        fast = {tuple(r) for r in sim.brute_force_topk(q, c, k=5).collect()}
        monkeypatch.setattr(sim, "TWO_PHASE_MIN_BYTES", 1 << 62)
        ref = {tuple(r) for r in sim.brute_force_topk(q, c, k=5).collect()}
        assert fast == ref


class TestCheckConstraints:
    def test_violation_counts_and_flags(self, spark):
        from scdataset_spark.operators.quality import check_constraints

        df = spark.createDataFrame(
            [(1, "a", 5.0), (2, "a", -1.0), (2, "zz", 50.0), (None, "b", 200.0)],
            "id bigint, cat string, v double",
        )
        out = {r.check_name: r for r in check_constraints(
            df,
            [
                {"type": "not_null", "col": "id"},
                {"type": "unique", "col": "id"},
                {"type": "accepted_values", "col": "cat", "values": ["a", "b"]},
                {"type": "min", "col": "v", "bound": 0.0},
                {"type": "max", "col": "v", "bound": 100.0},
            ],
        ).collect()}
        assert (out["not_null(id)"].violations, out["not_null(id)"].passed) == (1, False)
        # ids 1,2,2 non-null -> 3 - 2 distinct = 1 duplicate
        assert out["unique(id)"].violations == 1
        assert out["accepted_values(cat)"].violations == 1  # 'zz'
        assert out["min(v)>=0.0"].violations == 1  # -1.0
        assert out["max(v)<=100.0"].violations == 1  # 200.0
        assert not any(r.passed for r in out.values())

    def test_clean_frame_passes_everything(self, spark):
        from scdataset_spark.operators.quality import check_constraints

        df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, cat string")
        out = check_constraints(
            df,
            [
                {"type": "not_null", "col": "id"},
                {"type": "unique", "col": "id"},
                {"type": "accepted_values", "col": "cat", "values": ["a", "b"]},
            ],
        ).collect()
        assert all(r.passed and r.violations == 0 for r in out)

    def test_validation(self, spark):
        import pytest as _pytest

        from scdataset_spark.operators.quality import check_constraints

        df = spark.createDataFrame([(1,)], "id bigint")
        with _pytest.raises(ValueError):
            check_constraints(df, [])
        with _pytest.raises(ValueError):
            check_constraints(df, [{"type": "nope", "col": "id"}])
        with _pytest.raises(ValueError):
            check_constraints(df, [{"type": "accepted_values", "col": "id", "values": []}])

    def test_single_scan_single_agg(self, spark):
        from scdataset_spark.operators.quality import check_constraints
        from tests.conftest import SF_DIR
        from scdataset_spark.catalog import load_table

        ev = load_table(spark, "events", SF_DIR, with_row_id=False)
        plan_df = check_constraints(ev, [{"type": "not_null", "col": "user_id"}])
        import re

        # formatted explain prints each node once in the tree and once
        # in the details section — count DISTINCT scan node ids
        scans = set(re.findall(r"^\(\d+\) Scan parquet", plan_text(plan_df), re.M))
        assert len(scans) == 1, scans

    def test_approx_unique_within_tolerance(self, spark):
        # exact and HLL++ unique checks agree within the rsd band on a
        # column with a known duplicate count; non-unique checks are
        # identical between the two modes
        from scdataset_spark.operators.quality import check_constraints

        n, dups = 5000, 137
        df = spark.range(n).selectExpr(
            f"IF(id < {dups}, 0, id) AS id", "CAST(id AS STRING) AS cat"
        )
        cons = [
            {"type": "unique", "col": "id"},
            {"type": "not_null", "col": "cat"},
        ]
        exact = {r.check_name: r for r in check_constraints(df, cons).collect()}
        appr = {
            r.check_name: r
            for r in check_constraints(df, cons, approx=True, rsd=0.05).collect()
        }
        # exact: dups rows collapse onto id=0 -> dups-1 extra... plus id 0
        # itself already exists once among [dups, n)? no: ids >= dups keep
        # their value, so value 0 appears `dups` times -> dups - 1 dupes
        assert exact["unique(id)"].violations == dups - 1
        # HLL at rsd=0.05 over ~n distinct values: |err| <~ 3*rsd*n
        assert abs(appr["unique(id)"].violations - (dups - 1)) <= 3 * 0.05 * n
        assert appr["unique(id)"].violations >= 0
        assert appr["not_null(cat)"].violations == 0
        assert appr["not_null(cat)"].passed
        # the report distinguishes estimated from exact checks: only the
        # HLL++-estimated unique rows carry approx=true
        assert appr["unique(id)"].approx and not appr["not_null(cat)"].approx
        assert not exact["unique(id)"].approx

    def test_approx_unique_excluded_from_fail_fast(self, spark):
        # an approx unique "violation" is an HLL drift signal, not a
        # delivery-killer: fail_fast must ignore approx rows but still
        # kill on an exact failing check in the same gate
        import pytest as _pytest

        from scdataset_spark.streaming.events import constraint_gate_batches

        n, dups = 5000, 137
        df = spark.range(n).selectExpr(
            f"IF(id < {dups}, 0, id) AS id", "CAST(id AS STRING) AS cat"
        )
        reports = []
        gate = constraint_gate_batches(
            [{"type": "unique", "col": "id"}],
            lambda out: reports.append(out.collect()),
            approx=True,
            fail_fast=True,
        )
        gate(df, 0)  # genuinely non-unique, but approx -> no raise
        (row,) = reports[0]
        assert row.approx and not row.passed and row.violations > 0
        # the same delivery with an exact failing bound still dies
        gate_exact = constraint_gate_batches(
            [
                {"type": "unique", "col": "id"},
                {"type": "max", "col": "id", "bound": 10},
            ],
            lambda out: None,
            approx=True,
            fail_fast=True,
        )
        with _pytest.raises(ValueError, match="max\\(id\\)<=10"):
            gate_exact(df, 1)

    def test_approx_multi_unique_is_expand_free_single_scan(self, spark):
        # the scale posture: N unique constraints with approx=True plan
        # ONE scan and NO Expand (each exact count(DISTINCT) would add
        # an Expand amplifying the scan x(N+1))
        import re

        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.quality import check_constraints
        from tests.conftest import SF_DIR

        ev = load_table(spark, "events", SF_DIR, with_row_id=False)
        cons = [
            {"type": "unique", "col": "event_id"},
            {"type": "unique", "col": "user_id"},
            {"type": "unique", "col": "event_type"},
            {"type": "not_null", "col": "user_id"},
        ]
        plan = plan_text(check_constraints(ev, cons, approx=True))
        scans = set(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
        assert len(scans) == 1, scans
        assert "Expand" not in plan
        # the exact default DOES expand at multiple uniques (documented)
        assert "Expand" in plan_text(check_constraints(ev, cons))

    def test_hostile_column_names_cannot_inject(self, spark):
        # a column name containing quotes/backticks flows through as a
        # struct literal, never into SQL text (ADVICE r9)
        from scdataset_spark.operators.quality import (
            check_constraints,
            profile_columns,
        )

        df = spark.createDataFrame([(1,), (None,)], ["it's `bad`, (x)"])
        out = check_constraints(
            df, [{"type": "not_null", "col": "it's `bad`, (x)"}]
        ).collect()
        assert len(out) == 1
        assert out[0].check_name == "not_null(it's `bad`, (x))"
        assert (out[0].violations, out[0].passed) == (1, False)
        prof = {
            (r.col_name, r.metric): r.value
            for r in profile_columns(df, ["it's `bad`, (x)"]).collect()
        }
        assert prof[("it's `bad`, (x)", "nulls")] == 1.0
        assert prof[("_table", "rows")] == 2.0

    def test_foreign_key_violations(self, spark):
        from scdataset_spark.operators.quality import check_foreign_key

        child = spark.createDataFrame(
            [(1,), (2,), (9,), (None,)], "fk bigint"
        )
        parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
        row = check_foreign_key(child, "fk", parent, "pk").first()
        # 9 dangles; NULL vacuously passes (SQL FK semantics)
        assert row.check_name == "foreign_key(fk->pk)"
        assert row.violations == 1 and not row.passed
        clean = check_foreign_key(
            child.where("fk IS NOT NULL AND fk <= 2"), "fk", parent, "pk"
        ).first()
        assert clean.passed and clean.violations == 0


class TestSnapshotDiffBucketedShape:
    def test_bucketed_snapshots_diff_without_exchange(self, spark, tmp_path):
        """snapshot_diff's scale posture (VERDICT r13 task 6): the diff
        is two narrow (id, hash) projections + ONE full-outer join on
        the id.  On raw parquet both snapshots shuffle; with both
        snapshots BUCKETED on the id (the documented layout for corpus
        version storage) the join needs NO exchange at all — pinned
        here against the executed plan, unbucketed baseline asserted
        shuffling for contrast."""
        import re

        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.quality import snapshot_diff

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False).select(
            "doc_id", "text"
        )
        old = docs.where("doc_id % 13 != 0")
        new = docs.where("doc_id % 17 != 0").withColumn(
            "text",
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")),
        )

        def exchanges(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"Exchange hashpartitioning", plan))

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert exchanges(snapshot_diff(old, new)) > 0  # raw: shuffles

            for name, df in (("snap_old_r14", old), ("snap_new_r14", new)):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                (
                    df.write.bucketBy(8, "doc_id")
                    .sortBy("doc_id")
                    .mode("overwrite")
                    .saveAsTable(name)
                )
            got = snapshot_diff(spark.table("snap_old_r14"), spark.table("snap_new_r14"))
            assert exchanges(got) == 0  # bucketed: zero-exchange merge
            # and the diff itself is unchanged by the layout
            raw = {
                (r.doc_id, r.status)
                for r in snapshot_diff(old, new).collect()
            }
            assert {(r.doc_id, r.status) for r in got.collect()} == raw
            assert len(raw) > 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS snap_old_r14")
            spark.sql("DROP TABLE IF EXISTS snap_new_r14")


class TestSnapshotDiff:
    def test_null_and_empty_content_are_distinct(self, spark):
        """The hash must not conflate NULL text with empty text (the
        length prefix disambiguates), and multi-column content joins
        must not collide across column boundaries."""
        from scdataset_spark.operators.quality import snapshot_diff

        old = spark.createDataFrame(
            [(1, None, "b"), (2, "", "b"), (3, "a", "b"), (4, "ab", "")],
            ["doc_id", "t1", "t2"],
        )
        new = spark.createDataFrame(
            [(1, "", "b"), (2, "", "b"), (3, "a", "b"), (4, "a", "b")],
            ["doc_id", "t1", "t2"],
        )
        got = {
            r.doc_id: r.status
            for r in snapshot_diff(
                old, new, content_cols=("t1", "t2")
            ).collect()
        }
        # 1: NULL -> "" is a modification; 2,3 unchanged (absent);
        # 4: ("ab","") vs ("a","b") must NOT hash equal
        assert got == {1: "modified", 4: "modified"}

    def test_change_set_only(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.quality import snapshot_diff

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        out = snapshot_diff(docs, docs)
        assert out.count() == 0  # identical snapshots diff to nothing
