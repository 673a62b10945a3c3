#!/usr/bin/env python
"""The driver shape of ``dedup.connected_components``, phase by phase:
the eager pair checkpoint, the bounded Arrow read, the numpy labelling
with the local relation built from it, and one noop run of that
relation.  Three repetitions in one process, one line each.

    python artifacts/pr18/driver_phases_probe.py TREE EDGES_PARQUET

EDGES_PARQUET holds ``doc_a, doc_b`` pairs, for example a stars graph
that ``components_shapes_probe.py`` writes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.abspath(sys.argv[1]))

from scdataset_spark.operators import dedup as dd  # noqa: E402
from scdataset_spark.session import get_spark  # noqa: E402

spark = get_spark("driver_phases")
spark.sparkContext.setLogLevel("ERROR")
edges = spark.read.parquet(sys.argv[2])
for _ in range(3):
    t0 = time.perf_counter()
    raw = dd._pair_frame(edges, "doc_a", "doc_b")
    t1 = time.perf_counter()
    head = raw.limit(dd.DRIVER_COMPONENTS_MAX_EDGES + 1).toArrow()
    t2 = time.perf_counter()
    comp = dd._label_on_driver(spark, head)
    t3 = time.perf_counter()
    comp.write.format("noop").mode("overwrite").save()
    t4 = time.perf_counter()
    print(f"checkpoint {t1 - t0:.2f} s, bounded read {t2 - t1:.2f} s, "
          f"label + local relation {t3 - t2:.2f} s, noop run {t4 - t3:.2f} s")
spark.stop()
