"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — filters pushed into the parquet scan,
column pruning, broadcast joins for dimensions.  Guard rails against
regressions that would only show up at scale.
"""

from __future__ import annotations

import re

import pytest

from scdataset_spark.queries import REGISTRY

from tests._helpers import assert_no_jobs, plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


def _plan(spark, name: str) -> str:
    return plan_text(REGISTRY[name].fn(spark, SF_DIR))


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan
    # scan must NOT read unused wide columns
    assert "l_comment" not in plan
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_q3_broadcasts_customer(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3


def test_scan_filter_stays_in_codegen(spark):
    # simple-mode explain marks whole-stage-codegen stages with "*(n)"
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    df.collect()  # AQE only shows the final (codegen-annotated) plan post-run
    plan = plan_text(df, "simple")
    assert "*(" in plan
    assert "BatchEvalPython" not in plan


def test_block_shuffle_plan_shape(spark):
    # O1 = scan + block-METADATA equi-join (no cartesian product), all
    # JVM-side (no python UDF); the only window runs over the
    # aggregated blocks frame, not the table
    plan = _plan(spark, "o1_block_shuffle")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sampling_uses_equi_join_not_nested_loop(spark):
    # the bucketed interval join must plan as a hash join on `bucket`,
    # never a cartesian/broadcast-nested-loop over all rows x draws
    plan = _plan(spark, "o3_weighted_replace")
    assert "CartesianProduct" not in plan


def test_block_shuffle_drop_last_plans_lazily(spark):
    """plan() must not run ANY Spark job — drop_last's remainder is
    derived in-plan (broadcast scalar agg), not via an eager count()."""
    from scdataset_spark.catalog import load_table
    from scdataset_spark.operators.strategies import BlockShuffling

    li = load_table(spark, "lineitem", SF_DIR)
    planned = assert_no_jobs(
        spark.sparkContext,
        "lazy-plan-check",
        lambda: BlockShuffling(block_size=64, drop_last=True, assume_dense=True).plan(
            li, seed=7
        ),
    )
    assert "pos" in planned.columns
    # schema hygiene: internal helper columns must not leak
    assert "block_id" not in planned.columns and "pos0" not in planned.columns


def test_embed_cosine_has_no_cartesian_product(spark):
    # near-dup by embedding must be the banded-LSH equi-join shape —
    # an O(n^2) cross product would be the first thing to die at scale
    plan = _plan(spark, "dd_embed_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_dims_broadcast_no_cartesian(spark):
    """Five-way join: dimension sides (supplier, both nation roles)
    must broadcast; no cartesian/nested-loop anywhere."""
    plan = _plan(spark, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_epoch_plan_resume_prunes_partitions(spark, tmp_path):
    """Resuming from a written epoch plan must PRUNE fetch directories
    (partition filter), not scan-and-filter — at 100 TB the resume
    predicate is the difference between touching one fetch and the
    whole epoch."""
    from scdataset_spark.catalog import load_table
    from scdataset_spark.operators.strategies import Streaming
    from scdataset_spark.pipeline.export import write_epoch_plan
    from scdataset_spark.plans.plan import with_batches
    from tests.conftest import SF_DIR_SMALL

    li = load_table(spark, "lineitem", SF_DIR_SMALL)
    planned = with_batches(Streaming().plan(li, seed=3), batch_size=64, fetch_factor=8)
    out = str(tmp_path / "epoch0")
    write_epoch_plan(planned, out, columns=["row_id", "l_quantity"])
    back = spark.read.parquet(out).where("fetch_id >= 5")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(fetch_id" in plan.replace("#", "").replace(
        "L", ""
    ) or "PartitionFilters: [" in plan and "fetch_id" in plan.split("PartitionFilters")[1][:80]
    n_all = spark.read.parquet(out).count()
    assert back.count() < n_all


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join layout: orders and lineitem bucketed on the
    order key join WITHOUT a shuffle exchange on either side — the
    one-time-layout-cost-vs-per-query-shuffle trade the 100 TB
    deployment makes for its recurring fact-to-fact joins."""
    from scdataset_spark.catalog import load_table
    from scdataset_spark.operators.skew import write_bucketed
    from tests.conftest import SF_DIR_SMALL

    import os
    import shutil
    from urllib.parse import urlparse

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # clean any stale managed-table locations from crashed runs
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    o = load_table(spark, "orders", SF_DIR_SMALL, with_row_id=False)
    li = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False)
    write_bucketed(o, "b_orders", ["o_orderkey"], buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        buckets=8,
    )
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # and the result is right
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_layout_removes_orderkey_exchanges_from_q3_q18_q21(spark, tmp_path):
    """ensure_bucketed routes load_table through the co-located layout:
    the o_orderkey/l_orderkey joins AND the l_orderkey partial aggs in
    the real q3/q18/q21 queries then need NO orderkey exchange — the
    one-time-bucketed-write-vs-per-query-shuffle trade at 100 TB.
    (Small-dim broadcast joins remain; the assertion is key-specific.)"""
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    from scdataset_spark.catalog import clear_bucketed, ensure_bucketed
    from scdataset_spark.queries import REGISTRY
    from tests.conftest import SF_DIR_SMALL

    def orderkey_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(
            re.findall(r"Exchange hashpartitioning\((?:[lo]\.)?[lo]_orderkey", plan)
        )

    queries = ["q3_shipping_priority", "q18_large_orders", "q21_waiting_supplier"]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        baseline = {
            q: orderkey_exchanges(REGISTRY[q].fn(spark, SF_DIR_SMALL)) for q in queries
        }
        assert all(n > 0 for n in baseline.values()), baseline

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in ("bkt_sf0_001_orders_8", "bkt_sf0_001_lineitem_8"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
        ensure_bucketed(spark, SF_DIR_SMALL, buckets=8)
        try:
            for q in queries:
                df = REGISTRY[q].fn(spark, SF_DIR_SMALL)
                assert orderkey_exchanges(df) == 0, (
                    f"{q} still shuffles on the order key with bucketed layout:\n"
                    + df._jdf.queryExecution().executedPlan().toString()[:4000]
                )
            # layout changes the plan, not the answer
            rows = REGISTRY["q3_shipping_priority"].fn(spark, SF_DIR_SMALL).collect()
            clear_bucketed()
            plain = REGISTRY["q3_shipping_priority"].fn(spark, SF_DIR_SMALL).collect()
            assert rows == plain
        finally:
            clear_bucketed()
            for t in ("bkt_sf0_001_orders_8", "bkt_sf0_001_lineitem_8"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_q17_semi_filters_before_aggregate(spark):
    """Q17's plan must broadcast the filtered part keys into lineitem
    BEFORE the per-part average (aggregate only the surviving ~1%),
    and never fall back to a cartesian form."""
    plan = _plan(spark, "q17_small_quantity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_dims_no_cartesian(spark):
    plan = _plan(spark, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q11_scalar_total_is_broadcast(spark):
    """The Q11 global-total scalar subquery must attach as a broadcast
    1-row join (either BNLJ on a single-row build side or a broadcast
    hash join), never a shuffled cartesian."""
    plan = _plan(spark, "q11_important_stock")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_q20_semi_join_chain(spark):
    plan = _plan(spark, "q20_potential_promotion")
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "CartesianProduct" not in plan


def test_no_forced_broadcast_of_sf_proportional_tables():
    """A hard ``F.broadcast`` hint bypasses autoBroadcastJoinThreshold, so a
    hint on a table that grows with scale factor (part/supplier/customer/
    orders/lineitem/documents or anything derived from them) becomes a
    driver OOM at large SF — AQE's runtime size stats must make that call
    instead.  Enforced at the source level over the whole query layer:
    every ``F.broadcast(x)`` argument must resolve (through local variable
    assignments) to either a constant-size table (nation: 25 rows,
    region: 5 rows, at every SF) or a global ``.agg`` with no ``groupBy``
    (≤1 row by construction)."""
    import ast
    import pathlib

    CONSTANT_TABLES = {"nation", "region"}
    qdir = pathlib.Path(__file__).resolve().parent.parent / "scdataset_spark" / "queries"

    def chain_has_groupby(node):
        # walk the receiver chain of an expression like a.b(...).groupBy(...).agg
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
                continue
            if node.attr == "groupBy":
                return True
            node = node.value
        return False

    def classify(node, assigns, depth=0):
        """Return 'scalar', a load_table table name, or None (unknown)."""
        if depth > 20:
            return None
        if isinstance(node, ast.Name):
            if node.id in assigns:
                return classify(assigns[node.id], assigns, depth + 1)
            return None
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name) and f.id == "load_table" and len(node.args) >= 2:
                try:
                    return ast.literal_eval(node.args[1])
                except ValueError:
                    return None
            if isinstance(f, ast.Attribute):
                # DataFrame.agg (receiver chain without groupBy) is a global
                # aggregate: always <= 1 row, safe to broadcast at any SF
                if f.attr == "agg" and not chain_has_groupby(f.value):
                    return "scalar"
                return classify(f.value, assigns, depth + 1)
            return None
        if isinstance(node, ast.Attribute):
            return classify(node.value, assigns, depth + 1)
        return None

    violations = []
    for path in sorted(qdir.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            assigns = {}
            for stmt in ast.walk(fn):
                if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1 and isinstance(
                    stmt.targets[0], ast.Name
                ):
                    assigns[stmt.targets[0].id] = stmt.value
            for call in [n for n in ast.walk(fn) if isinstance(n, ast.Call)]:
                f = call.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "broadcast"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "F"
                    and call.args
                ):
                    kind = classify(call.args[0], assigns)
                    if kind != "scalar" and kind not in CONSTANT_TABLES:
                        violations.append(
                            f"{path.name}:{call.lineno} in {fn.name}(): "
                            f"F.broadcast of {ast.unparse(call.args[0])!r} "
                            f"resolved to {kind!r}"
                        )
    assert not violations, "forced broadcast of SF-proportional frame(s):\n" + "\n".join(
        violations
    )


def test_asof_join_single_keyed_shuffle(spark):
    """The as-of join plan is one union + one per-key window: exactly
    one exchange on the join key, no join operator at all."""
    plan = _plan(spark, "j4_asof_join")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan  # union+window, not a join


def test_incremental_novel_is_semi_anti_join_shape(spark):
    """Incremental dedup must stay the O(increment + index-probe)
    shape: one left-semi band probe + one left-anti on doc_id — no
    cartesian/nested-loop, no pair self-join anywhere."""
    plan = _plan(spark, "dd_incremental_novel")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_verified_is_bounded_join_shape(spark):
    """The verify-composed incremental dedup must keep the bounded
    shape: band equi-join for candidates, semi-join restrictions
    before BOTH shingle re-derivations (verify cost O(|candidates|),
    never O(corpus)), and still no cartesian/nested-loop anywhere."""
    plan = _plan(spark, "dd_incremental_verified")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_plans_lazily_with_broadcast_quotas(spark):
    """O19: plan() runs no job; quota table broadcasts; no cartesian."""
    from scdataset_spark.catalog import load_table
    from scdataset_spark.operators.strategies import StratifiedSampling

    cust = load_table(spark, "customer", SF_DIR)
    planned = assert_no_jobs(
        spark.sparkContext,
        "stratified-lazy-check",
        lambda: StratifiedSampling(
            stratum_col="c_mktsegment", fraction_ppm=150_000
        ).plan(cust, seed=7),
    )
    assert "pos" in planned.columns
    assert "_srnk" not in planned.columns and "_q" not in planned.columns
    plan = plan_text(planned)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_is_shuffle_free_narrow_map(spark):
    """Chunking is a per-row re-shape: the plan must contain NO
    exchange and NO Python stage — at 100 TB the scan pipeline absorbs
    the row multiplication without any co-location."""
    plan = _plan(spark, "tx_chunk_documents")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_random_projection_is_shuffle_free_narrow_map(spark):
    """The projection is one whole-stage-codegen expression per row;
    nothing to shuffle."""
    plan = _plan(spark, "sim_random_projection")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_plan_broadcasts_everything_after_one_agg(spark):
    """One big-side groupBy-count, PERSISTED (the caps/min/plan
    branches read the cache — InMemoryTableScan — instead of
    re-scanning the corpus); the counts frame joins onto the weights
    literal via broadcast-hash (the preserved side of the left-outer
    can't broadcast, so counts is the build side) and the 1-row min is
    a broadcast.  Never a cartesian over data rows."""
    plan = _plan(spark, "o24_mixture_plan")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan


def test_volume_anomalies_reuses_persisted_day_counts(spark):
    """The gap-fill + percentile passes run on the persisted
    days-sized frame (InMemoryTableScan), not on re-derivations of the
    raw events aggregation; the tiny-frame joins are broadcasts."""
    plan = _plan(spark, "dq_volume_anomalies")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_projected_ann_no_cartesian(spark):
    """Candidates come from a bucket equi-self-join; vectors join onto
    candidates only.  No cross product anywhere."""
    plan = _plan(spark, "sim_projected_ann")
    assert "CartesianProduct" not in plan


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
