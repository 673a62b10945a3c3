#!/usr/bin/env python
"""Forced-shape measurement of ``dedup.connected_components``: the
driver labelling and the distributed star rounds on the same pair
graphs, one fresh process per graph and shape.

    python artifacts/pr18/components_shapes_probe.py TREE SF_DIR OUT_DIR [EDGES ...]

TREE is the checkout whose engine runs; SF_DIR holds the ``documents``
table (the 1.6k-edge graph is ``dd_components``' LSH pair graph on it);
the other graphs are disjoint stars of five nodes with shuffled ids,
EDGES edges each (default 80,000, 800,000 and
``DRIVER_COMPONENTS_MAX_EDGES``).  Every graph is written to parquet
under OUT_DIR first, so the timed call reads a plain scan.

Each process runs one shape on one graph: one untimed warm-up on a
ten-edge graph, then three timed repetitions of ``connected_components``
whose result is written to a noop sink, each in its own job group.  The
star shape forces ``DRIVER_COMPONENTS_MAX_EDGES`` to 0, so both shapes
pay the same gate.  It records per repetition the wall time and the
jobs, and per process the driver's peak RSS (``VmHWM`` of the Python
process after the warm-up and after the timed repetitions, and of the
JVM) and an md5 of the sorted labels, read after the peaks.  One JSON line
per process goes to standard output.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

REPS = 3


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def write_graphs(tree: str, sf_dir: str, out_dir: str, sizes: list[int]) -> list[tuple[str, int]]:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, tree)
    from scdataset_spark.operators import dedup as dd
    from scdataset_spark.queries.llm import corpus
    from scdataset_spark.session import get_spark

    spark = get_spark("components_graphs")
    graphs = []
    path = os.path.join(out_dir, "dd_components.parquet")
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    dd.lsh_candidate_pairs(c, num_hashes=12, bands=4).write.mode("overwrite").parquet(path)
    graphs.append((path, spark.read.parquet(path).count()))
    spark.stop()
    rng = np.random.default_rng(18)
    for n in sizes:
        stars = n // 4
        ids = rng.permutation(5 * stars).astype(np.int64).reshape(stars, 5)
        a = np.repeat(ids[:, 0], 4)
        b = ids[:, 1:].reshape(-1)
        path = os.path.join(out_dir, f"stars_{n}.parquet")
        pq.write_table(pa.table({"doc_a": a, "doc_b": b}), path)
        graphs.append((path, len(a)))
    return graphs


def run_shape(tree: str, path: str, shape: str) -> dict:
    import numpy as np

    sys.path.insert(0, tree)
    from scdataset_spark.operators import dedup as dd
    from scdataset_spark.session import get_spark

    if shape == "star":
        dd.DRIVER_COMPONENTS_MAX_EDGES = 0
    spark = get_spark("components_shapes")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    warm = spark.createDataFrame([(i, i + 1) for i in range(10)], "doc_a bigint, doc_b bigint")
    dd.connected_components(warm).write.format("noop").mode("overwrite").save()
    edges = spark.read.parquet(path)
    warm_hwm = vm_hwm_mb()
    reps = []
    for i in range(REPS):
        group = f"components-{shape}-{i}"
        sc.setJobGroup(group, "components")
        t0 = time.perf_counter()
        comp = dd.connected_components(edges)
        comp.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        reps.append({"wall_s": wall, "jobs": len(sc.statusTracker().getJobIdsForGroup(group))})
    peaks = {"python_warm_peak_rss_mb": warm_hwm, "python_peak_rss_mb": vm_hwm_mb(),
             "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid)}
    table = comp.toArrow()
    ids = table.column("id").to_numpy()
    order = np.argsort(ids)
    labels = np.stack([ids[order], table.column("component").to_numpy()[order]])
    out = {
        "graph": os.path.basename(path),
        "edges": edges.count(),
        "nodes": len(ids),
        "components": len(np.unique(labels[1])),
        "shape": shape,
        "reps": reps,
        "median_wall_s": sorted(r["wall_s"] for r in reps)[REPS // 2],
        **peaks,
        "labels_md5": hashlib.md5(labels.tobytes()).hexdigest(),
    }
    spark.stop()
    return out


def main() -> None:
    if sys.argv[1] == "--one":
        print(json.dumps(run_shape(*sys.argv[2:5])))
        return
    tree, sf_dir, out_dir = (os.path.abspath(a) for a in sys.argv[1:4])
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, tree)
    from scdataset_spark.operators.dedup import DRIVER_COMPONENTS_MAX_EDGES

    sizes = [int(a) for a in sys.argv[4:]] or [80_000, 800_000, DRIVER_COMPONENTS_MAX_EDGES]
    graphs = write_graphs(tree, sf_dir, out_dir, sizes)
    for path, _ in graphs:
        for shape in ("driver", "star"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", tree, path, shape],
                cwd=out_dir, check=True, stdout=subprocess.PIPE, text=True,
            )
            print(proc.stdout.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    main()
