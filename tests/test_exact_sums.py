"""plans/exact.py limb sums: the exactness foundation every converted
query rests on.  Property-based guards for the three claims the module
makes: cross-engine value identity (Spark == DuckDB on the same rows),
partition-order independence (any repartitioning yields the identical
double), and sign-safety (negative values through truncated DIV/%)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from scdataset_spark.plans.exact import lsum_cols, lsum_inner, lsum_out

finite = st.floats(
    min_value=-1e7, max_value=1e7, allow_nan=False, allow_infinity=False
)


def _spark(): 
    # no pytest fixture: hypothesis forbids function-scoped fixtures
    # across examples; grab the shared session directly
    import os

    from scdataset_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    return get_spark("scdataset_spark_tests", shuffle_partitions=8)


def _spark_sum(spark, vals, partitions):
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(
        partitions
    )
    return df.agg(*lsum_cols("x", "s")).selectExpr(lsum_out("s", "out")).first()[
        "out"
    ]


class TestLimbSums:
    @settings(max_examples=30, deadline=None)
    @given(st.lists(finite, min_size=1, max_size=50))
    def test_cross_engine_and_partition_invariance(self, vals):
        spark = _spark()
        a = _spark_sum(spark, vals, 1)
        b = _spark_sum(spark, vals, 7)
        assert a == b, "limb sum must not depend on partitioning"
        con = duckdb.connect()
        con.execute("CREATE TABLE t (x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        d = con.execute(
            f"SELECT {lsum_out('s', 'out', '//')} FROM "
            f"(SELECT {lsum_inner('x', 's', '//')} FROM t) g"
        ).fetchone()[0]
        assert a == d, f"engine divergence: spark {a!r} vs duckdb {d!r}"

    @settings(max_examples=20, deadline=None)
    @given(st.lists(finite, min_size=1, max_size=30))
    def test_matches_exact_decimal_reference(self, vals):
        """The limb sum equals the EXACT sum of the per-row 1e-8
        quantized values (computed in unbounded Python ints), converted
        to double the same two-op way — the semantic contract."""
        import math

        spark = _spark()
        got = _spark_sum(spark, vals, 3)
        total = sum(math.floor(v * 1e8 + 0.5) for v in vals)
        # mirror the operator's truncated-DIV/% semantics for any sign
        q = -(-total // 10**8) if total < 0 else total // 10**8
        r = total - q * 10**8
        want = float(q) + float(r) / 1e8
        assert got == want


class TestLsumRecombinationGuard:
    def test_guard_raises_instead_of_wrapping(self, spark):
        """A top limb past the BIGINT recombination range must raise —
        silent wrap is a cross-engine divergence (DuckDB runs the same
        sum in HUGEINT).  1.1e8 rows of x=9.2e10 put l2 at ~1.01e15,
        past the 9.2e14 guard."""
        from scdataset_spark.plans.exact import lsum_cols, lsum_out

        df = spark.range(0, 110_000_000, 1, 8).selectExpr(
            "CAST(92000000000.0 AS DOUBLE) AS x"
        )
        agg = df.agg(*lsum_cols("x", "t")).selectExpr(lsum_out("t", "s"))
        with pytest.raises(Exception, match="lsum_out: top limb"):
            agg.collect()

    def test_below_guard_still_exact(self, spark):
        from scdataset_spark.plans.exact import lsum_cols, lsum_out

        df = spark.range(0, 1_000, 1, 4).selectExpr(
            "CAST(id AS DOUBLE) + 0.25 AS x"
        )
        got = (
            df.agg(*lsum_cols("x", "t")).selectExpr(lsum_out("t", "s")).first()["s"]
        )
        assert got == 999 * 1000 / 2 + 0.25 * 1000

    def test_null_group_passes_through(self, spark):
        from scdataset_spark.plans.exact import lsum_cols, lsum_out

        df = spark.range(0, 10).selectExpr("CAST(NULL AS DOUBLE) AS x")
        got = (
            df.agg(*lsum_cols("x", "t")).selectExpr(lsum_out("t", "s")).first()["s"]
        )
        assert got is None
