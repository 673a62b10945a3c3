"""End-to-end lifecycle of a persisted ANN index on the engine's verbs.

A 100 TB embedding corpus is served from a build-once / probe-many /
append / compact / monitor / rebuild loop — this script walks the whole
loop at fixture scale and makes the REBUILD DECISION the way a
production deployment does: from measured drift signals against
documented thresholds (BENCH_SCALE.md carries the measured decade
curves for every step):

  1. build     — build_ann_index: cell-partitioned inverted lists +
                 centroids (or build_pq_index for the code-list +
                 archive serving layout); a baseline recall@K is
                 measured immediately, because "recall dropped" is
                 only meaningful against the recall THIS geometry had
                 when it was fresh
  2. probe     — ann_index_topk: routed, partition-pruned reads; the
                 per-query cost that stays flat as the corpus grows
  3. append    — append_to_ann_index: each increment is assigned under
                 the FROZEN centroids — O(increment), never O(corpus)
  4. compact   — compact_ann_index: appends leave one file per touched
                 cell group per append; compaction collapses them back
                 to one file per group (probe-identical by contract)
  5. monitor   — ann_index_stats (occupancy skew: appended mass
                 routing into few hot cells) and ann_recall on a
                 SEEDED SAMPLED query set (>= 100 queries) against a
                 sampled brute-force exact pass (quality drift: the
                 geometry is COSTING you, not just stale)
  6. decide    — rebuild when EITHER signal crosses its threshold:
                   occupancy: max cell / mean cell > OCC_HOT_RATIO
                   quality:   baseline recall - current > RECALL_DROP
  7. rebuild   — rebuild_ann_index: fresh geometry from the index's
                 own storage, cell budget re-resolved from the CURRENT
                 corpus size; swap paths when it lands, and verify the
                 recall recovered

Thresholds (documented defaults, not magic): OCC_HOT_RATIO = 3.0 — an
append-era index whose hottest cell holds 3x the mean is routing new
mass into a few stale cells, so probes over-read those cells;
RECALL_DROP = 0.05 — half the headroom the measured n_probe curve
leaves above 0.9 at the default n_probe=4 (BENCH_SCALE.md r12), i.e.
rebuild well before serving quality is user-visible.

Run: python examples/index_lifecycle.py   (defaults to sf0.01; CI runs
``tests/test_index_maintenance.py::TestLifecycleExample`` which
executes this exact loop end-to-end at sf0.01)

Streaming entry points to the same loop: ``similarity.ann_ingest_batches``
appends each foreachBatch delivery under the frozen geometry with an
exactly-once id sidecar (health-checked by ``ann_ingest_consistency``),
``similarity.semantic_ingest_batches`` composes a SemDeDup-style
exact-cosine novelty screen in front of that append, and
``dedup.novel_ingest_batches`` is the dedup-on-ingest sibling over a
growing band index — all compactable, all covered by the same
monitor → decide → rebuild discipline this example walks (the
WHEN-to-compact decide-loop across all three ingest indexes is
``examples/ingest_index_lifecycle.py``).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scdataset_spark.catalog import load_table  # noqa: E402
from scdataset_spark.operators.similarity import (  # noqa: E402
    ann_index_stats,
    ann_index_topk,
    ann_recall,
    append_to_ann_index,
    brute_force_topk,
    build_ann_index,
    compact_ann_index,
    rebuild_ann_index,
)
from scdataset_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# rebuild-decision thresholds (rationale in the module docstring)
OCC_HOT_RATIO = 3.0
RECALL_DROP = 0.05
K = 10
N_PROBE = 2
QUERY_SAMPLE_MOD = 5  # seeded sample: vec_id % 5 == 0 -> 100 queries at sf0.01


def run(spark, sf_dir: str, root: str, verbose: bool = True) -> dict:
    """Execute the whole lifecycle loop; returns the decision signals
    so CI can assert the contract instead of eyeballing prints."""

    def say(*a):
        if verbose:
            print(*a)

    path, rebuilt = f"{root}/idx", f"{root}/idx_rebuilt"
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    cand = e.select(F.col("vec_id").alias("c_id"), "embedding")
    # seeded, deterministic query sample — >= 100 queries at sf0.01
    queries = e.where(f"vec_id % {QUERY_SAMPLE_MOD} = 0").select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    n_queries = queries.count()
    say(f"query sample: {n_queries} queries (vec_id % {QUERY_SAMPLE_MOD} = 0)")

    # 1. build on the first third; baseline recall of the FRESH geometry
    build_ann_index(cand.where("c_id % 3 = 0"), path, seed=11)
    built_corpus = cand.where("c_id % 3 = 0")
    exact0 = brute_force_topk(queries, built_corpus, k=K).select("q_id", "c_id")
    approx0 = ann_index_topk(
        spark, path, queries, k=K, n_probe=N_PROBE, n_queries=n_queries
    )
    baseline = float(
        ann_recall(approx0, exact0).agg(F.avg("recall")).first()[0]
    )
    say(f"baseline recall@{K} on the fresh build: {baseline:.3f}")

    # 2/3. append the other two thirds as separate increments
    for r in (1, 2):
        append_to_ann_index(cand.where(f"c_id % 3 = {r}"), path)
    say("appended 2 increments under frozen centroids (O(increment) each)")

    # 4. compact the per-append small files back to one per cell group
    rep = {r.component: r for r in compact_ann_index(spark, path).collect()}
    say(
        f"compacted cells/: {rep['cells'].files_before} -> "
        f"{rep['cells'].files_after} files ({rep['cells'].n_rows} rows)"
    )

    # 5a. occupancy drift
    occ = (
        ann_index_stats(spark, path)
        .agg(F.max("n_vectors").alias("mx"), F.avg("n_vectors").alias("mean"))
        .first()
    )
    occ_ratio = float(occ["mx"]) / max(1.0, float(occ["mean"]))
    say(f"occupancy: max/mean = {occ_ratio:.2f} (threshold {OCC_HOT_RATIO})")

    # 5b. quality drift: same sampled queries, exact recomputed over the
    # CURRENT corpus (the appended index must now answer for all of it)
    exact1 = brute_force_topk(queries, cand, k=K).select("q_id", "c_id")
    approx1 = ann_index_topk(
        spark, path, queries, k=K, n_probe=N_PROBE, n_queries=n_queries
    )
    current = float(
        ann_recall(approx1, exact1).agg(F.avg("recall")).first()[0]
    )
    drop = baseline - current
    say(
        f"recall@{K} after appends: {current:.3f} "
        f"(drop {drop:+.3f}, threshold {RECALL_DROP})"
    )

    # 6. the decision
    rebuild_needed = occ_ratio > OCC_HOT_RATIO or drop > RECALL_DROP
    reason = (
        "occupancy" if occ_ratio > OCC_HOT_RATIO
        else "recall" if drop > RECALL_DROP
        else "none"
    )
    say(f"rebuild decision: {rebuild_needed} (signal: {reason})")

    # 7. rebuild (always exercised here so the loop is end-to-end; in
    # production this branch runs only when rebuild_needed)
    rebuild_ann_index(spark, path, rebuilt, seed=11)
    approx2 = ann_index_topk(
        spark, rebuilt, queries, k=K, n_probe=N_PROBE, n_queries=n_queries
    )
    rebuilt_recall = float(
        ann_recall(approx2, exact1).agg(F.avg("recall")).first()[0]
    )
    say(f"recall@{K} after rebuild: {rebuilt_recall:.3f}")

    return {
        "n_queries": n_queries,
        "baseline_recall": baseline,
        "current_recall": current,
        "recall_drop": drop,
        "occ_ratio": occ_ratio,
        "rebuild_needed": rebuild_needed,
        "rebuild_reason": reason,
        "rebuilt_recall": rebuilt_recall,
        "files_before": int(rep["cells"].files_before),
        "files_after": int(rep["cells"].files_after),
    }


def main() -> None:
    spark = get_spark("index_lifecycle_example", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="annidx_lifecycle_")
    try:
        run(spark, SF_DIR, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
