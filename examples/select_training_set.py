"""Training-set SELECTION on the round-15 operator family.

`curate_corpus.py` cleans a corpus (gates → dedup → decontamination →
packing); this example picks WHAT TO TRAIN ON from the cleaned corpus
and in WHAT ORDER — the selection half of a data pipeline:

  0. drift gate     — per-cell occupancy PSI of the delivery's
                      embeddings vs the baseline snapshot in the
                      baseline's frozen seeded-centroid basis
                      (`quality.embedding_drift`); refuse the delivery
                      when total PSI exceeds the threshold
  1. quality rules  — Gopher rule set (`tx.with_gopher_flags`), keep
                      `gopher_pass` documents
  2. DSIR selection — importance log-ratio toward the target domain
                      (`ml.dsir_logratio`, target = lang 'en'), keep
                      the top slice
  3. diversity      — distinct-n telemetry per source on the selected
                      slice (`tx.ngram_diversity`) — a collapse here
                      means step 2 over-concentrated
  4. token budgets  — UniMax water-filling across the selected
                      sources (`tx.unimax_budget`)
  5. training order — easy-to-hard curriculum with round-robin source
                      interleave (`tx.curriculum_order`)
  6. few-shot pool  — MMR diversified top-k over the embedding table
                      (`similarity.mmr_topk`) for eval prompts

Run: python examples/select_training_set.py   (uses /root/testdata/sf0.001)

Every step is a DataFrame operator with a DuckDB-checked twin in the
query registry; this script only wires them together.  The test
harness drives `run()` and asserts the trace invariants
(tests/test_curation.py::TestSelectTrainingSetExample).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.ml import dsir_logratio
from scdataset_spark.operators import textanalysis as tx
from scdataset_spark.operators.quality import embedding_drift
from scdataset_spark.operators.similarity import mmr_topk

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PSI_THRESHOLD = 2.0  # refuse a delivery drifting past this
SELECT_K = 40  # DSIR slice size
BUDGET = 1500  # UniMax token budget over the selected slice


def run(spark, sf_dir: str = SF_DIR, log=print) -> dict:
    trace: dict = {}
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    emb = load_table(spark, "embeddings", sf_dir, with_row_id=False)

    # 0. embedding-drift gate: the delivery (odd ids) vs baseline (even)
    drift = embedding_drift(
        emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1"),
        n_clusters=8, seed=11,
    ).collect()
    total_psi = round(sum(r.psi for r in drift), 6)
    trace["total_psi"] = total_psi
    log(f"0. drift gate: total PSI {total_psi} over {len(drift)} cells")
    if total_psi > PSI_THRESHOLD:
        raise ValueError(f"delivery refused: embedding drift {total_psi}")

    # 1. Gopher quality rules
    flagged = tx.with_gopher_flags(docs)
    kept = flagged.where("gopher_pass").select("doc_id", "source", "lang", "text")
    n0, n1 = docs.count(), kept.count()
    trace["n_docs"], trace["n_gopher"] = n0, n1
    log(f"1. gopher rules: {n0} -> {n1}")

    # 2. DSIR selection toward the target domain
    picked = dsir_logratio(kept, "lang = 'en'", k=SELECT_K)
    sel = kept.join(picked.select("doc_id"), "doc_id")
    n2 = sel.count()
    trace["n_selected"] = n2
    log(f"2. DSIR selection: {n1} -> {n2}")

    # 3. diversity telemetry on the selected slice
    div = tx.ngram_diversity(sel).collect()
    trace["diversity_sources"] = len(div)
    trace["min_distinct_1"] = min(r.distinct_1 for r in div)
    log(f"3. diversity: {len(div)} sources, min distinct-1 "
        f"{trace['min_distinct_1']}")

    # 4. UniMax budgets across the selected sources
    budgets = tx.unimax_budget(sel, budget=BUDGET, epochs=1).collect()
    trace["budget_total"] = sum(r.budget_tokens for r in budgets)
    trace["budget_capped"] = sum(1 for r in budgets if r.capped)
    log(f"4. unimax: {trace['budget_total']} tokens over "
        f"{len(budgets)} sources ({trace['budget_capped']} capped)")

    # 5. curriculum training order
    sched = tx.curriculum_order(sel, phases=4, seed=17)
    order = sched.orderBy("pos").select("doc_id", "phase", "pos").collect()
    trace["curriculum_rows"] = len(order)
    trace["curriculum_phases"] = sorted({r.phase for r in order})
    log(f"5. curriculum: {len(order)} docs over phases "
        f"{trace['curriculum_phases']}")

    # 6. MMR few-shot exemplar pool per probe query
    q = emb.where("vec_id < 2").select(F.col("vec_id").alias("q_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("c_id"), "embedding")
    pool = mmr_topk(q, c, k=4, pool=12, lam=0.6).collect()
    trace["mmr_rows"] = len(pool)
    log(f"6. mmr few-shot pool: {len(pool)} exemplars")
    return trace


if __name__ == "__main__":
    from scdataset_spark.session import get_spark

    run(get_spark("select_training_set", shuffle_partitions=8))
