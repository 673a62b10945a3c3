"""Wiring tests kept from the round-9 file: volume_anomalies
(gap-filled), the distribution_drift input guards, and the job-free
pin on building a batch plan. The rest of that file's classes live in
the subsystem test files."""

from __future__ import annotations

import datetime as dt

import pytest

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.quality import distribution_drift, volume_anomalies
from scdataset_spark.operators.strategies import Streaming
from scdataset_spark.plans.plan import with_batches

from tests._helpers import assert_no_jobs
from tests.conftest import SF_DIR_SMALL


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
