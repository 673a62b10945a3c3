#!/usr/bin/env python
"""Driver time of ``strategy.plan()`` on later epochs of the
``epoch_balanced_files`` workload: the same ``ClassBalancedSampling``
over the benchmark's lineitem (perfbench ``datagen`` at scale 0.03,
seed 1), driven through ``epoch_plans`` with one input object.  Epoch
0 builds and caches the intervals; each of the next EPOCHS epochs
times its ``next(plans)`` (no Spark job runs in it) and then runs the
plan to a noop sink, as the workload does before its next epoch.
Prints one JSON line.

    SPARK_GRAFT_CPUS=4 python plan_call_probe.py TREE SRC_DIR [EPOCHS]

TREE is the checkout whose engine is timed (run once per tree, in
alternating processes); SRC_DIR holds the generated raw inputs
(written on first use).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

TREE = os.path.abspath(sys.argv[1])
SRC = os.path.abspath(sys.argv[2])
EPOCHS = int(sys.argv[3]) if len(sys.argv) > 3 else 8
sys.path.insert(0, TREE)
sys.path.insert(0, os.path.join(TREE, "perfbench"))

from datagen import write_inputs  # noqa: E402
from scdataset_spark.catalog import ensure_ingested, load_table  # noqa: E402
from scdataset_spark.operators.strategies import ClassBalancedSampling  # noqa: E402
from scdataset_spark.pipeline.export import epoch_plans  # noqa: E402
from scdataset_spark.session import get_spark  # noqa: E402


def main() -> None:
    if not os.path.isdir(SRC):
        write_inputs(SRC, ("lineitem",), seed=1, scale=0.03)
    spark = get_spark("plan_call_probe", shuffle_partitions=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_ingested(spark, SRC, tables=("lineitem",))
    cells = load_table(spark, "lineitem", SRC)
    n = cells.count()
    strategy = ClassBalancedSampling(
        label_col="l_returnflag", block_size=64, total_size=n // 3, replace=True
    )
    plans = epoch_plans(strategy, cells, seed=1)
    times = []
    for i in range(EPOCHS + 1):
        t0 = time.perf_counter()
        _, plan = next(plans)
        dt = time.perf_counter() - t0
        if i:
            times.append(round(dt, 4))
        plan.write.format("noop").mode("overwrite").save()
    print(
        json.dumps(
            {
                "tree": os.path.basename(TREE),
                "epochs": EPOCHS,
                "plan_call_s": times,
                "median_s": round(statistics.median(times), 4),
                "wall_clock": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
