#!/usr/bin/env python
"""Cold and warm one-shot times of the weighted queries, the way
bench.py times them: each query runs to a noop sink (``bench.run_one``)
after bench.py's warm-up (two fixed queries and one Python-worker
fork).  Cold is the first run of a query in the process, warm the min
of the next three.  Prints one JSON line.

    SPARK_GRAFT_SF_DIR=/path/to/sf0.1 SPARK_GRAFT_CPUS=4 \\
        python artifacts/pr16/cold_warm_probe.py TREE [QUERY ...]

TREE is the checkout whose engine is timed (a parent and a change tree
are timed by running this once per tree, in alternating processes).
"""

from __future__ import annotations

import json
import os
import sys
import time

TREE = os.path.abspath(sys.argv[1])
sys.path.insert(0, TREE)

from bench import CPUS, SF_DIR, run_one  # noqa: E402
from scdataset_spark.catalog import ensure_ingested  # noqa: E402
from scdataset_spark.queries import REGISTRY  # noqa: E402
from scdataset_spark.session import get_spark  # noqa: E402

QUERIES = sys.argv[2:] or ["o3_weighted_replace", "o6_class_balanced", "o5_subset_weighted"]


def _ident(it):
    for p in it:
        yield p


def main() -> None:
    spark = get_spark("cold_warm_probe", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_ingested(spark, SF_DIR)
    run_one(spark, REGISTRY["tx_token_stats"].fn, SF_DIR)
    run_one(spark, REGISTRY["q6_revenue_forecast"].fn, SF_DIR)
    spark.range(CPUS * 4, numPartitions=CPUS).mapInPandas(
        _ident, "id bigint"
    ).write.format("noop").mode("overwrite").save()
    out = {"tree": os.path.basename(TREE), "sf": os.path.basename(SF_DIR), "cpus": CPUS, "queries": {}}
    for name in QUERIES:
        fn = REGISTRY[name].fn
        cold = run_one(spark, fn, SF_DIR)
        warm = [run_one(spark, fn, SF_DIR) for _ in range(3)]
        out["queries"][name] = {"cold_s": round(cold, 3), "warm_s": round(min(warm), 3)}
    out["wall_clock"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
