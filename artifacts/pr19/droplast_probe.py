#!/usr/bin/env python
"""``BlockShuffling(drop_last=True)`` against ``drop_last=False`` at
growing block sizes: o15's shape (``assume_dense=True``, seed 42,
``select("row_id", "pos")``) over the ingested lineitem, each run to a
noop sink after one warm-up run at block 64.  A run still going after
LIMIT seconds is cancelled and recorded as ``null``.  Prints one JSON
line per (block size, drop_last).

    SPARK_GRAFT_CPUS=4 python droplast_probe.py TREE SF_DIR [LIMIT]

TREE is the checkout whose engine is timed; it must accept every
block size (the parent of the change that bounds ``block_size``).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

TREE = os.path.abspath(sys.argv[1])
SF_DIR = os.path.abspath(sys.argv[2])
LIMIT = float(sys.argv[3]) if len(sys.argv) > 3 else 180.0
sys.path.insert(0, TREE)

from scdataset_spark.catalog import ensure_ingested, load_table  # noqa: E402
from scdataset_spark.operators.strategies import BlockShuffling  # noqa: E402
from scdataset_spark.session import get_spark  # noqa: E402

BLOCKS = (256, 4096, 65536, 1 << 20)


def run(spark, li, block: int, drop: bool) -> float | None:
    sc = spark.sparkContext
    group = f"droplast-{block}-{drop}"
    sc.setJobGroup(group, "drop_last probe", interruptOnCancel=True)
    timer = threading.Timer(LIMIT, sc.cancelJobGroup, [group])
    timer.start()
    t0 = time.perf_counter()
    try:
        plan = BlockShuffling(block_size=block, drop_last=drop, assume_dense=True).plan(li, seed=42)
        plan.select("row_id", "pos").write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    except Exception:  # cancelled by the timer
        return None
    finally:
        timer.cancel()


def main() -> None:
    spark = get_spark("droplast_probe", shuffle_partitions=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("OFF")
    ensure_ingested(spark, SF_DIR, tables=("lineitem",))
    li = load_table(spark, "lineitem", SF_DIR)
    n = li.count()
    run(spark, li, 64, True)
    for block in BLOCKS:
        for drop in (False, True):
            print(
                json.dumps(
                    {
                        "sf": os.path.basename(SF_DIR),
                        "rows": n,
                        "block_size": block,
                        "drop_last": drop,
                        "dropped": n % block if drop else 0,
                        "wall_s": run(spark, li, block, drop),
                        "limit_s": LIMIT,
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
