"""Round-15 optimization pins: the changed operator internals stay
value-identical to their reference forms, and the plan shapes the
optimization fixed stay fixed.

- `_block_permute_pos` (count-star block metadata) == the plain global
  window permutation, including a non-multiple trailing block.
- `BlockWeightedSampling`'s direct two-window permute (small draws) ==
  the metadata-join path (forced via the threshold).
- `run_hook_pipeline`'s Python stage keeps the configured shuffle
  parallelism instead of AQE's byte-based coalescing.
- `load_table(with_row_id=False)` served from the ingested layout is
  row- and schema-identical to the raw files.
- The audited fact-broadcast fixes (q5/q10/q11/q18/g6) stay fixed: no
  BroadcastExchange input carries lineitem payload columns.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F, Window

from scdataset_spark.catalog import ensure_ingested, load_table
from scdataset_spark.operators import strategies as st
from scdataset_spark.operators.strategies import Streaming
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.plans.plan import with_batches
from scdataset_spark.queries import REGISTRY

from tests._helpers import collect_pos, plan_text
from tests.conftest import SF_DIR_SMALL


class TestBlockPermuteCountStar:
    @pytest.mark.parametrize("n,block", [(100, 8), (96, 8), (1, 8), (5, 64)])
    def test_matches_global_window_reference(self, spark, n, block):
        from scdataset_spark.operators.strategies import _block_permute_pos
        from scdataset_spark.plans.seeds import mix_sql

        base = spark.range(n).select(
            (F.col("id") * 7).alias("row_id"), F.col("id").alias("pos0")
        )
        got = collect_pos(
            _block_permute_pos(base, block, s=1234).drop("block_id")
        )
        ref = base.withColumn("_bk", F.expr(mix_sql(f"pos0 div {block}", 1234, "spark")))
        w = Window.orderBy("_bk", "pos0")
        want = collect_pos(ref.withColumn("pos", F.row_number().over(w) - F.lit(1)))
        assert got == want

    def test_empty_frame(self, spark):
        from scdataset_spark.operators.strategies import _block_permute_pos

        base = spark.range(0).select(
            F.col("id").alias("row_id"), F.col("id").alias("pos0")
        )
        assert _block_permute_pos(base, 8, s=1).count() == 0


class TestDirectPermuteEquivalence:
    def test_direct_equals_metadata_path(self, spark, monkeypatch):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        strat = st.BlockWeightedSampling(
            block_size=16, weight_col="l_quantity", total_size=200, replace=True
        )
        direct = sorted(map(tuple, strat.plan(li, seed=7).select("row_id", "pos").collect()))
        monkeypatch.setattr(st, "DIRECT_PERMUTE_MAX", 0)  # force metadata path
        meta = sorted(map(tuple, strat.plan(li, seed=7).select("row_id", "pos").collect()))
        assert direct == meta


class TestHookPipelineParallelism:
    def test_python_stage_keeps_configured_partitions(self, spark):
        from scdataset_spark.operators.strategies import Streaming
        from scdataset_spark.pipeline.hooks import run_hook_pipeline
        from scdataset_spark.plans.plan import with_batches

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming(assume_dense=True).plan(li, seed=1).select("row_id", "pos", "l_quantity"),
            batch_size=16,
            fetch_factor=16,
        )
        out = run_hook_pipeline(
            planned, "row_id bigint, pos bigint, fetch_id bigint, l_quantity double", batch_size=16
        )
        n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # the explicit repartition is user-specified: AQE must not
        # coalesce it below the configured parallelism
        assert f"REPARTITION_BY_NUM" in plan_text(out) or out.rdd.getNumPartitions() == n_conf


class TestIngestedServing:
    def test_no_row_id_read_matches_raw(self, spark):
        ensure_ingested(spark, SF_DIR_SMALL)
        raw = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False, use_ingested=False)
        served = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False)
        assert served.columns == raw.columns
        assert served.count() == raw.count()
        a = sorted(map(tuple, raw.select("l_orderkey", "l_linenumber", "l_extendedprice").collect()))
        b = sorted(map(tuple, served.select("l_orderkey", "l_linenumber", "l_extendedprice").collect()))
        assert a == b

    def test_events_types_survive_ingest(self, spark):
        ensure_ingested(spark, SF_DIR_SMALL)
        raw = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False, use_ingested=False)
        served = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        assert dict(served.dtypes)["ts"] == dict(raw.dtypes)["ts"]
        assert served.agg(F.min("ts"), F.max("ts")).collect() == raw.agg(
            F.min("ts"), F.max("ts")
        ).collect()


FACT_PAYLOAD = re.compile(r"\bl_(quantity|extendedprice|discount|tax)")


class TestNoFactPayloadBroadcast:
    @pytest.mark.parametrize(
        "name",
        [
            "q5_local_supplier_volume",
            "q10_returned_revenue",
            "q11_important_stock",
            "q18_large_orders",
            "g6_batch_normalize",
        ],
    )
    def test_lineitem_payload_never_builds_a_broadcast(self, spark, name):
        df = REGISTRY[name].fn(spark, SF_DIR_SMALL)
        plan = plan_text(df)
        bad = [
            m.group(1)
            for m in re.finditer(
                r"\(\d+\) BroadcastExchange\nInput(?: \[\d+\])?: \[([^\]]*)\]", plan
            )
            if FACT_PAYLOAD.search(m.group(1))
        ]
        assert not bad, f"{name} broadcasts lineitem payload: {bad}"
