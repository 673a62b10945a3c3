"""Mirror of the driver's DuckDB-oracle correctness gate.

For every registered query with an oracle, run the Spark DataFrame and
the DuckDB SQL on the same sf0.01 parquet and compare row count, column
names, and (order-insensitively) every value.  This is intentionally
stricter than a hash: on mismatch it prints the first differing rows.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import pytest

from scdataset_spark.queries import REGISTRY
from tests.conftest import SF_DIR

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)

# Staleness cohort: queries whose most recent EXTERNAL (driver-sweep)
# check is oldest — the registry's _SWEEP_PRIORITY leads with exactly
# these, so the cohort is DERIVED from the priority order instead of
# hand-maintained per round (r15): the first 50 oracle-carrying names
# in sweep order are the ones the next external sweep will (re)check,
# i.e. the stalest plus anything new.  `pytest -m stale_cohort`
# selects them for a cheap local smoke between driver rounds.  (The
# full parametrized suite below already runs every oracle query; the
# marker is a fast subset, not the gate.)
# The plan-changed head of the priority runs on top of those 50: a
# query that moves to the head joins the smoke without pushing the
# stalest names behind it out of the default lane.
from scdataset_spark.queries import _PLAN_CHANGED, _SWEEP_PRIORITY

STALE_COHORT = set(_PLAN_CHANGED) | set(
    [n for n in _SWEEP_PRIORITY if REGISTRY[n].oracle and n not in _PLAN_CHANGED][:50]
)

ORACLE_PARAMS = [
    pytest.param(n, marks=pytest.mark.stale_cohort) if n in STALE_COHORT
    else n
    for n in ORACLE_QUERIES
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # SQL NULL doubles surface as NaN after .df() — fold both
            # spellings so a NULL column compares engine-independently
            return "NULL"
        return repr(v)  # full precision — we engineered bit-equality
    if isinstance(v, datetime):
        if v != v:  # pandas NaT
            return "NULL"
        v = v.replace(tzinfo=None)
        # DuckDB DATE lowers to datetime64 midnight in pandas while
        # Spark keeps datetime.date — fold midnight to the date form
        # (matches the driver, which passed date-typed queries)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    # duckdb may return Decimal/np types
    try:
        import numpy as np

        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return repr(float(v))
    except ImportError:
        pass
    from decimal import Decimal

    if isinstance(v, Decimal):
        return repr(float(v))
    return str(v)


def _canonical(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


@pytest.mark.parametrize("name", ORACLE_PARAMS)
def test_oracle_parity(name, spark, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)
    s_cols = sdf.columns
    # through pandas on BOTH sides, like the driver harness: nullable
    # int columns lower to float64 symmetrically (so they still match),
    # while a DuckDB HUGEINT vs Spark bigint asymmetry still fails.
    s_rows = list(sdf.toPandas().itertuples(index=False, name=None))

    # fetch through pandas (.df()), matching the driver harness: this is
    # deliberately harsher than .fetchall() — DuckDB HUGEINT (any uncast
    # integer sum) lowers to float64 here, so an oracle that forgets
    # CAST(... AS BIGINT) fails locally the same way it fails the driver.
    ddf = duck.execute(spec.oracle).df()
    d_cols = list(ddf.columns)
    d_rows = list(ddf.itertuples(index=False, name=None))

    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount {len(s_rows)} vs {len(d_rows)}"

    s_canon = _canonical(s_rows, s_cols)
    d_canon = _canonical(d_rows, d_cols)
    if s_canon != d_canon:
        diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs spark-vs-duck: {diffs}")


# Partition-count independence: results must not depend on physical
# parallelism (the verify recipe's second probe).  Run the most
# order-sensitive oracle queries — seeded shuffles and running sums —
# under a deliberately odd shuffle-partition count and compare to
# DuckDB exactly as above.
ORDER_SENSITIVE = ["o1_block_shuffle", "o3_weighted_replace", "g3_batch_entropy"]


@pytest.mark.parametrize("name", ORDER_SENSITIVE)
def test_parity_is_partition_count_independent(name, spark, duck):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        spec = REGISTRY[name]
        sdf = spec.fn(spark, SF_DIR)
        s_rows = list(sdf.toPandas().itertuples(index=False, name=None))
        ddf = duck.execute(spec.oracle).df()
        d_rows = list(ddf.itertuples(index=False, name=None))
        assert _canonical(s_rows, sdf.columns) == _canonical(d_rows, list(ddf.columns))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Data-scale independence: the same queries must stay value-identical to
# the oracle at a different SF (the verify recipe's first probe) — seeded
# order, thresholds and rounding must not encode anything SF-specific.
SCALE_PROBE = ["o1_block_shuffle", "g3_batch_entropy", "dd_minhash_lsh",
               "q17_small_quantity", "tx_length_buckets"]


@pytest.fixture(scope="module")
def duck_small():
    import duckdb

    from tests.conftest import SF_DIR_SMALL

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SCALE_PROBE)
def test_parity_is_data_scale_independent(name, spark, duck_small):
    from tests.conftest import SF_DIR_SMALL

    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR_SMALL)
    s_rows = list(sdf.toPandas().itertuples(index=False, name=None))
    ddf = duck_small.execute(spec.oracle).df()
    d_rows = list(ddf.itertuples(index=False, name=None))
    assert len(s_rows) == len(d_rows), f"{name}: rowcount at sf0.001"
    assert _canonical(s_rows, sdf.columns) == _canonical(d_rows, list(ddf.columns))
