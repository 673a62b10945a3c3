"""Compaction decide-loop for ALL THREE persisted ingest indexes.

``examples/index_lifecycle.py`` walks the ANN index's full
build/probe/append/compact/monitor/REBUILD loop; this example covers
the decision the OTHER maintenance verb needs — WHEN to compact — and
walks it uniformly across the three streaming ingest indexes the
engine maintains:

  1. the unique gate's key index   (streaming/events.unique_gate_batches)
  2. the dedup band index          (operators/dedup.novel_ingest_batches)
  3. the ANN vector index          (operators/similarity.ann_ingest_batches
                                    / semantic_ingest_batches)

All three share the same write pattern — every delivery appends ~one
file per bucket/cell-group it touches — so they share one decision
signal: mean parquet files per partition directory
(``_maintenance.index_file_stats``), which ≈ deliveries since the last
compaction.  The measured cost of ignoring it is file-LISTING time at
probe start, and it GROWS with scale:

  - BENCH_SCALE.md r13 "compact_ann_index at sf1000e" (24 M vectors):
    appends multiplied files ~7x; listing-cold probe 73.8 -> 13.0 s
    (5.7x) after compaction; compact cost ≈ one build's writes.
  - BENCH_SCALE.md r13 gate-index sf100d recheck (21 deliveries):
    compacted key-sorted buckets ALSO tighten row-group pruning, so
    the gate's probe anti-join skips history physically.

Decision contract (``_maintenance.compaction_due``): compact when
files_per_dir > 8 — right as the measured penalty becomes visible,
one compaction per ~8 deliveries, each costing about one build's
write volume.  Quiescence is enforced, not assumed: compaction and
deliveries take the same per-index maintenance lock.

Run: python examples/ingest_index_lifecycle.py   (defaults to sf0.01;
CI runs ``tests/test_index_maintenance.py::TestIngestLifecycleExample``,
which executes this exact loop end-to-end at sf0.01.)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scdataset_spark.catalog import load_table  # noqa: E402
from scdataset_spark.operators import dedup as dd  # noqa: E402
from scdataset_spark.operators import similarity as sim  # noqa: E402
from scdataset_spark.operators._maintenance import (  # noqa: E402
    compaction_due,
    index_file_stats,
)
from scdataset_spark.session import get_spark  # noqa: E402
from scdataset_spark.streaming.events import (  # noqa: E402
    compact_unique_index,
    unique_gate_batches,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
FILES_PER_DIR = 8.0  # the documented default; see module docstring


def run(spark, workdir: str, n_deliveries: int = 16, log=print) -> dict:
    """The decide-loop, identically for each index family:
    build -> stream n deliveries -> check compaction_due -> compact ->
    verify the signal reset and the probe/read surface unchanged.
    Returns the decision trace for the CI test to assert on."""
    docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
    emb = load_table(spark, "embeddings", SF_DIR, with_row_id=False).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    ev = load_table(spark, "events", SF_DIR, with_row_id=False)
    trace: dict = {}

    # ---- 1. unique gate key index --------------------------------
    gate_dir = os.path.join(workdir, "gate_idx")
    reports: list = []
    gate = unique_gate_batches(
        ["event_id"], sink=lambda df: reports.extend(df.collect()),
        index_dir=gate_dir,
    )
    for b in range(n_deliveries):
        gate(ev.where(F.col("event_id") % n_deliveries == b), b)
    comp = os.path.join(gate_dir, "event_id")
    due_before = compaction_due(comp, FILES_PER_DIR)
    files_before = index_file_stats(comp)
    compact_unique_index(spark, gate_dir, ["event_id"])
    files_after = index_file_stats(comp)
    keys = spark.read.parquet(comp).select("_k").distinct().count()
    trace["gate"] = dict(
        due_before=due_before, fpd_before=files_before[2],
        fpd_after=files_after[2], due_after=compaction_due(comp, FILES_PER_DIR),
        keys=keys,
    )
    log(f"gate: files/dir {files_before[2]:.1f} -> {files_after[2]:.1f} "
        f"(due={due_before}), {keys} keys intact")

    # ---- 2. dedup band index -------------------------------------
    band_dir = os.path.join(workdir, "band_idx")
    dd.write_band_index(docs.where("doc_id % 2 = 0"), band_dir)
    novels: list = []
    ingest = dd.novel_ingest_batches(
        band_dir, sink=lambda df: novels.extend(df.collect())
    )
    for b in range(n_deliveries):
        # odd residues only: every delivery is non-empty and disjoint
        # from the even-id build corpus
        ingest(docs.where(f"doc_id % {2 * n_deliveries} = {2 * b + 1}"), b)
    due_before = compaction_due(band_dir, FILES_PER_DIR)
    files_before = index_file_stats(band_dir)
    n_rows = int(dd.compact_band_index(spark, band_dir).first().n_rows)
    files_after = index_file_stats(band_dir)
    trace["band"] = dict(
        due_before=due_before, fpd_before=files_before[2],
        fpd_after=files_after[2],
        due_after=compaction_due(band_dir, FILES_PER_DIR), rows=n_rows,
    )
    log(f"band: files/dir {files_before[2]:.1f} -> {files_after[2]:.1f} "
        f"(due={due_before}), {n_rows} band rows intact")

    # ---- 3. ANN vector index -------------------------------------
    ann_dir = os.path.join(workdir, "ann_idx")
    sim.build_ann_index(
        emb.where("c_id % 2 = 0"), ann_dir, n_clusters=8, seed=11,
        vectorized_assign=False,
    )
    ann_ingest = sim.ann_ingest_batches(ann_dir)
    for b in range(n_deliveries):
        ann_ingest(emb.where(f"c_id % {2 * n_deliveries} = {2 * b + 1}"), b)
    cells = os.path.join(ann_dir, "cells")
    q = emb.where("c_id < 20").select(F.col("c_id").alias("q_id"), "embedding")
    probe_before = sorted(
        map(tuple, sim.ann_index_topk(spark, ann_dir, q, k=3, n_probe=2,
                                      n_queries=20).collect())
    )
    due_before = compaction_due(cells, FILES_PER_DIR)
    files_before = index_file_stats(cells)
    sim.compact_ann_index(spark, ann_dir)
    files_after = index_file_stats(cells)
    probe_after = sorted(
        map(tuple, sim.ann_index_topk(spark, ann_dir, q, k=3, n_probe=2,
                                      n_queries=20).collect())
    )
    trace["ann"] = dict(
        due_before=due_before, fpd_before=files_before[2],
        fpd_after=files_after[2],
        due_after=compaction_due(cells, FILES_PER_DIR),
        probe_identical=probe_before == probe_after,
        probe_rows=len(probe_after),
    )
    log(f"ann: files/dir {files_before[2]:.1f} -> {files_after[2]:.1f} "
        f"(due={due_before}), probe identical={probe_before == probe_after}")
    return trace


def main() -> None:
    spark = get_spark("ingest_index_lifecycle", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="ingest_lifecycle_")
    try:
        trace = run(spark, workdir)
        ok = all(
            t["due_before"] and not t["due_after"] for t in trace.values()
        ) and trace["ann"]["probe_identical"]
        print(f"decide-loop {'PASS' if ok else 'FAIL'}: {trace}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
