"""Property-based tests (hypothesis) for the invariants everything else
rests on: the portable mixer and the permutation property of sampling
strategies (SURVEY.md §5 hard part (c): assert properties/bands, not
just point values).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from scdataset_spark.plans.seeds import MIX_MOD, mix_py, mix_sql


class TestMixerProperties:
    @given(k=st.integers(min_value=0, max_value=2**33), seed=st.integers(min_value=0, max_value=2**31))
    @settings(max_examples=200, deadline=None)
    def test_mix_py_in_range_and_deterministic(self, k, seed):
        v = mix_py(k, seed)
        assert 0 <= v < MIX_MOD
        assert v == mix_py(k, seed)

    @given(k=st.integers(min_value=0, max_value=2**33), seed=st.integers(min_value=0, max_value=1000))
    @settings(max_examples=50, deadline=None)
    def test_mix_py_matches_duckdb_dialect(self, k, seed):
        import duckdb

        got = duckdb.sql("SELECT " + mix_sql(str(k), seed, "duckdb")).fetchone()[0]
        assert got == mix_py(k, seed)

    @given(seed=st.integers(min_value=0, max_value=2**31))
    @settings(max_examples=20, deadline=None)
    def test_mix_py_spreads_consecutive_keys(self, seed):
        """Consecutive keys must not collide and should spread across
        the range (no low-bit banding) — the property every seeded
        shuffle relies on."""
        vals = [mix_py(k, seed) for k in range(256)]
        assert len(set(vals)) == 256
        # crude uniformity: both halves of the range populated
        lo = sum(1 for v in vals if v < MIX_MOD // 2)
        assert 64 <= lo <= 192

    @given(
        s1=st.integers(min_value=0, max_value=2**20),
        s2=st.integers(min_value=0, max_value=2**20),
    )
    @settings(max_examples=30, deadline=None)
    def test_different_seeds_decorrelate(self, s1, s2):
        """Two different seeds must produce essentially disjoint output
        streams: over 256 consecutive keys, collisions should be ~256
        in 2^31 — allow a handful, fail on systematic seed-ignoring."""
        if s1 == s2:
            return
        collisions = sum(1 for k in range(256) if mix_py(k, s1) == mix_py(k, s2))
        assert collisions <= 3


class TestPermutationProperty:
    """Every sampling strategy's plan() must emit pos as an exact
    permutation of 0..n-1 — checked across seeds on a real table."""

    def test_block_shuffle_is_permutation_across_seeds(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import BlockShuffling, Streaming
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "customer", SF_DIR_SMALL)
        n = li.count()
        for seed in (0, 1, 7, 12345):
            for strat in (BlockShuffling(block_size=17), Streaming(shuffle=True)):
                pos = [r.pos for r in strat.plan(li, seed=seed).select("pos").collect()]
                assert sorted(pos) == list(range(n)), f"{strat} seed={seed}"


class TestBucketedRankProperty:
    """The bucket-offset prefix (``plans.plan._bucketed_prefix``) is the
    primitive everything rests on — compare both its modes (0-based
    rank, inclusive running sum), global and per group, on min/max range
    buckets and on a caller's bucket expression, against the
    single-window reference on adversarial key sets (duplicates, skew,
    negatives, tiny ranges)."""

    @given(
        keys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=300),
        buckets=st.sampled_from([1, 2, 7, 64]),
        running_sum=st.booleans(),
        grouped=st.booleans(),
        bucket_div=st.sampled_from([None, 1, 7, 300, 5000]),
    )
    @settings(max_examples=20, deadline=None)
    def test_matches_global_window(self, keys, buckets, running_sum, grouped, bucket_div):
        # no pytest fixture: hypothesis forbids function-scoped fixtures
        # across examples; grab the shared session directly
        import pandas as pd

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from scdataset_spark.plans.plan import _bucketed_prefix
        from scdataset_spark.session import get_spark

        spark = get_spark("scdataset_spark_tests")
        tb = list(range(len(keys)))
        pdf = pd.DataFrame(
            {"k": keys, "tb": tb, "g": [i % 3 for i in tb], "v": [(i * 37) % 11 - 5 for i in tb]}
        )
        df = spark.createDataFrame(pdf)
        groups = ["g"] if grouped else []
        value_col = "v" if running_sum else None
        # None: min/max range buckets; else a caller's monotone bucket
        bucket = None if bucket_div is None else F.expr(f"(k + 1000) div {bucket_div}")
        ranked, offsets = _bucketed_prefix(
            df, groups, "k", [("k", "asc"), ("tb", "desc")], "rk", buckets, value_col,
            bucket=bucket,
        )
        got = {(r.k, r.tb): r.rk for r in ranked.collect()}
        w = Window.partitionBy(*groups).orderBy(F.col("k").asc(), F.col("tb").desc())
        if running_sum:
            ref = F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        else:
            ref = F.row_number().over(w) - 1
        want = {(r.k, r.tb): r.rk for r in df.withColumn("rk", ref).collect()}
        assert got == want
        # the offsets' bucket totals sum to each group's total
        total = F.count(F.lit(1)) if value_col is None else F.sum(value_col)
        got_tot = {
            tuple(r[c] for c in groups): r["t"]
            for r in offsets.groupBy(*groups).agg(F.sum("_btot").alias("t")).collect()
        }
        want_tot = {
            tuple(r[c] for c in groups): r["t"]
            for r in df.groupBy(*groups).agg(total.alias("t")).collect()
        }
        assert got_tot == want_tot
