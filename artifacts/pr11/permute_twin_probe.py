"""Time BlockWeightedSampling's two permutation shapes above 2M draws.

direct: the second in-partition sort (DIRECT_PERMUTE_MAX raised above
        the draw count); meta: the metadata-join path (the default
        above DIRECT_PERMUTE_MAX).  Interleaved; the equality check runs
        each side once before the timed runs.  Needs a tree that still
        has DIRECT_PERMUTE_MAX (the parent of the change that removed it).
Usage: PYTHONPATH=<tree> python permute_twin_probe.py SF_DIR RUNS DRAWS[,DRAWS]
"""
import json, sys, time
from pyspark.sql import functions as F
from scdataset_spark.catalog import load_table
from scdataset_spark.operators import strategies as st
from scdataset_spark.session import get_spark

sf_dir, runs, sizes = sys.argv[1], int(sys.argv[2]), [int(x) for x in sys.argv[3].split(",")]
spark = get_spark("permute_twin"); spark.sparkContext.setLogLevel("ERROR")
li = load_table(spark, "lineitem", sf_dir)
DEFAULT = st.DIRECT_PERMUTE_MAX

def planned(side, draws, seed):
    st.DIRECT_PERMUTE_MAX = 10**12 if side == "direct" else DEFAULT
    strat = st.BlockWeightedSampling(block_size=64, weight_col="l_quantity",
                                     total_size=draws, replace=True)
    return strat.plan(li, seed=seed).select("row_id", "pos")

def digest(df):
    return df.agg(F.expr("bit_xor(xxhash64(row_id, CAST(pos AS BIGINT)))").alias("d"), F.count("*").alias("n")).first()

for draws in sizes:
    dd = {s: digest(planned(s, draws, 1)) for s in ("direct", "meta")}
    print(json.dumps({"draws": draws, "check": {s: [int(v) for v in dd[s]] for s in dd},
                      "identical": dd["direct"] == dd["meta"]}), flush=True)
    for i in range(runs):
        order = ("direct", "meta") if i % 2 == 0 else ("meta", "direct")
        for side in order:
            df = planned(side, draws, 1)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            print(json.dumps({"draws": draws, "run": i, "side": side,
                              "wall_s": round(time.perf_counter() - t0, 3),
                              "cpus": spark.sparkContext.defaultParallelism}), flush=True)
