#!/usr/bin/env python
"""Interleaved same-session A/B for VERDICT r15 task 5: can
`BlockWeightedSampling._weighted_draws` drop its second scan?

Variant A = committed shape: ONE fused meta scan (min/max/sum) + ONE
bucketed-frame scan behind the shared repartition("_bucket") exchange.

Variant B = single-scan conjecture: the bucket expression becomes
meta-independent (`row_id div CHUNK`, CHUNK from a driver-side file-size
estimate — physical only, the running sum is value-identical at any
monotone bucketing), so the data is scanned once into the shared
exchange; per-bucket sums/offsets (tiny, persist_bounded) then provide
BOTH the window offsets and the CDF total, and the draws frame
broadcasts the total derived from that tiny cached frame instead of a
fused meta scan.

Prior art: the r15b experiment (artifacts/r15/ab_o3_r15b.json) derived
the total from the offsets frame while KEEPING a bounds scan and lost
(broadcast subtrees re-embedded the window chain, 18 scans vs 16
executed).  This variant removes the bounds scan entirely and pins the
tiny offsets frame with persist_bounded so no branch re-executes the
chain.  Result equality is asserted on the full drawn multiset before
timing.

Usage: python scripts/ab_o3_singlescan_r16.py <sf_dir> [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scdataset_spark.catalog import ensure_ingested, load_table  # noqa: E402
from scdataset_spark.operators._cache import persist_bounded  # noqa: E402
from scdataset_spark.plans.seeds import mix_sql  # noqa: E402
from scdataset_spark.session import get_spark, input_probe  # noqa: E402
import scdataset_spark.operators.strategies as st  # noqa: E402

SEED = 42
TOTAL_SIZE = 1000
BLOCK = 64
WEIGHT_SCALE = 1_000_000


def weighted_draws_singlescan(df: DataFrame, s: int) -> DataFrame:
    """Variant B: one data scan, meta derived from the tiny per-bucket
    sums frame."""
    spark = df.sparkSession
    wint = F.ceil(F.col("l_quantity").cast("double") * WEIGHT_SCALE).cast("bigint")
    base = df.withColumn("_wi", wint).where(F.col("_wi") > 0).select("row_id", "_wi")
    # meta-independent monotone bucketing: CHUNK from file bytes
    nbytes = input_probe(df)[1]
    est = (nbytes or 0) // st._EST_MIN_BYTES_PER_ROW or 1_000_000  # ~rows upper bound
    chunk = max(1, est // st.POS_BUCKETS)
    b = base.withColumn("_bucket", F.expr(f"row_id div {chunk}"))
    bshuf = b.repartition("_bucket")
    sums = bshuf.groupBy("_bucket").agg(F.sum("_wi").alias("_bsum"))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = persist_bounded(
        sums.withColumn("_offset", F.coalesce(F.sum("_bsum").over(w_off), F.lit(0)))
    )
    total = offsets.agg(F.max(F.col("_offset") + F.col("_bsum")).alias("_total"))
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy("row_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        bshuf.withColumn("_ws", F.sum("_wi").over(w_in))
        .join(F.broadcast(offsets.select("_bucket", "_offset")), "_bucket")
        .withColumn("hi", F.col("_ws") + F.col("_offset"))
        .withColumn("lo", F.col("hi") - F.col("_wi"))
        .select("row_id", "lo", "hi")
    )
    draws = spark.range(TOTAL_SIZE).withColumnRenamed("id", "draw_id")
    t62 = (
        f"(({mix_sql('draw_id', s, 'spark')}) * 2147483648 "
        f"+ ({mix_sql('draw_id', s + 1, 'spark')}))"
    )
    draws = draws.crossJoin(F.broadcast(total)).withColumn(
        "t", F.expr(t62) % F.col("_total")
    )
    nb2 = 1024
    wexpr = f"(_total + {nb2 - 1}) div {nb2}"
    cum_b = (
        cum.crossJoin(F.broadcast(total))
        .withColumn("_w", F.expr(wexpr))
        .withColumn(
            "bucket",
            F.explode(F.sequence(F.expr("lo div _w"), F.expr("(hi - 1) div _w"))),
        )
    )
    draws_b = draws.withColumn("bucket", F.expr(f"t div ({wexpr})")).select(
        "draw_id", "t", "bucket"
    )
    joined = cum_b.join(F.broadcast(draws_b), "bucket")
    return (
        joined.where((F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")))
        .select("draw_id", "row_id")
    )


def finish(drawn: DataFrame, s: int) -> DataFrame:
    """The committed tail: pos0 window + direct block permute."""
    w_pos = Window.orderBy("row_id", "draw_id")
    out = drawn.withColumn("pos0", F.row_number().over(w_pos) - F.lit(1))
    out = out.withColumn(
        "_bkey", F.expr(mix_sql(f"pos0 div {BLOCK}", s + 500, "spark"))
    )
    w_blk = Window.orderBy("_bkey", "pos0")
    return (
        out.withColumn("pos", F.row_number().over(w_blk) - F.lit(1))
        .drop("pos0", "_bkey")
        .select("row_id", "pos")
    )


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("ab_o3_singlescan_r16")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_ingested(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = SEED  # epoch 0

    strat = st.BlockWeightedSampling(
        block_size=BLOCK, weight_col="l_quantity", total_size=TOTAL_SIZE, replace=True
    )

    def build_a():
        return strat.plan(li, seed=SEED).select("row_id", "pos")

    def build_b():
        return finish(weighted_draws_singlescan(li, s), s)

    # result equality BEFORE timing (full collect compare)
    a_rows = sorted(map(tuple, build_a().collect()))
    b_rows = sorted(map(tuple, build_b().collect()))
    assert a_rows == b_rows, "variant B is not result-identical to the committed shape"
    print(json.dumps({"equal": True, "n_rows": len(a_rows)}), flush=True)

    def timed(tag, df):
        spark.sparkContext.setJobDescription(tag)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return dt

    res = {"A_committed": [], "B_singlescan": []}
    for r in range(reps):
        res["A_committed"].append(timed(f"o3 A rep{r}", build_a()))
        res["B_singlescan"].append(timed(f"o3 B rep{r}", build_b()))
        print(json.dumps({"rep": r, "A_committed": res["A_committed"][-1],
                          "B_singlescan": res["B_singlescan"][-1]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir,
                      "summary_min": {v: min(ts) for v, ts in res.items()}}), flush=True)


if __name__ == "__main__":
    main()
