"""The every-operator-has-a-query contract, enforced.

Round 4 shipped three operators with no query, no oracle, no test
(caught by the round-4 audit).  This test makes that class of drift a
test failure: every public top-level function/class in ``operators/``,
``streaming/`` and ``sources/`` must be referenced from the query
registry layer (queries/*.py, bench.py, __spark_entry__.py) or be
explicitly allow-listed here as library-only WITH a reason.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "scdataset_spark"

# name -> why it legitimately has no driver query of its own
LIBRARY_ONLY = {
    # building blocks consumed by other operators in the same layer;
    # every *composition* that uses them is oracle-checked
    "acquire_maintenance_lock": "delivery/compaction mutual exclusion "
    "taken inside every ingest callback and compaction verb; behavior "
    "pinned by TestMaintenanceLock",
    "release_maintenance_lock": "pair of acquire_maintenance_lock",
    "namespaced_batch_tag": "the shared on-disk batch-tag contract "
    "behind novel_ingest_batches/semantic_ingest_batches run_id "
    "namespacing; behavior pinned by TestNovelIngestRunId and "
    "TestSemanticIngestBatches",
    "check_batch_tag_dtype": "pre-append INT32->BIGINT migration gate "
    "called inside every persisted-index delivery (band/gate/ANN "
    "sidecar); refusal behavior pinned by TestLegacyIndexMigration",
    "warn_if_legacy_tag_collision": "one-shot run_id=None replay-guard "
    "collision warning emitted by the ingest callbacks; behavior "
    "pinned by TestLegacyRunIdWarning",
    "index_file_stats": "compaction-decision signal (pure fs walk) "
    "behind compaction_due; exercised by TestIngestLifecycleExample",
    "compaction_due": "the when-to-compact decision used by "
    "examples/ingest_index_lifecycle.py; CI-tested end-to-end",
    "tokens_col": "expression helper used by textanalysis operators",
    "simhash_exprs": "expression pieces behind with_simhash (dd_simhash)",
    "simhash_votes_expr": "one-md5-per-token vote pass inside with_simhash",
    "simhash_bit_weight": "signed-64-bit weight literal shared with the oracle SQL",
    "persist_bounded": "bounded-cache helper used by dedup/similarity",
    "salt_expr": "deterministic salt behind salted_count (skew_salted_count)",
    "cap_hot_tokens": "df-cap step inside jaccard_pairs (dd_ngram_jaccard); "
    "cap behavior directly tested in test_skew_and_stateful",
    "lsh_bands": "banding step inside lsh_candidate_pairs and "
    "novel_documents (dd_minhash_lsh, dd_incremental_novel); also the "
    "materialization unit in the foreachBatch streaming test",
    "hyperplane_bucket_expr": "expression behind sim_lsh_ann buckets",
    "semantic_dedup_fast": "vectorized (BLAS) twin of semantic_dedup "
    "for production cell counts — not bit-parity with a SQL oracle by "
    "nature (summation order); pinned equal to the oracle-checked exact "
    "path in test_span_semantic_dedup, measured in scale_audit",
    "cosine_expr": "inline-norm cosine used inside ivf_topk/"
    "ivf_seeded_topk/lsh_bucketed_topk (small probed-cell pair volumes);"
    " hot pair paths go through cosine_norm_expr, which IS query-wired",
    "lsh_bands_for_recall": "amplification sizing used for the bands "
    "default inside lsh_banded_pairs; math pinned by the full-recall "
    "test in test_similarity_extra",
    "seeded_centroids": "portable index build shared by ivf_seeded_topk "
    "(sim_ivf_ann) and semantic_dedup (dd_semantic_dedup)",
    "pq_codebook": "portable PQ index build consumed by pq_encode / "
    "pq_topk (sim_pq_encode, sim_pq_ann)",
    "assign_nearest_cell": "argmin cell assignment shared by "
    "ivf_seeded_topk and semantic_dedup",
    "append_to_ann_index": "incremental maintenance of the persisted "
    "IVF index (assign increment with the FROZEN stored centroids, "
    "partitioned append) — non-idempotent by design (every call grows "
    "the index), so it cannot be a rerunnable registered query; "
    "assignment contract + probe-visibility pinned in "
    "tests/test_index_maintenance.py::TestPersistedAnnIndex",
    "append_to_pq_index": "incremental maintenance of the persisted "
    "IVF-PQ layout (encode with the FROZEN stored codebook, assign "
    "with the FROZEN stored centroids, partitioned append of codes + "
    "archive) — non-idempotent by design like its IVF sibling; "
    "encode contract + probe-visibility pinned in "
    "tests/test_index_maintenance.py::TestPqIndexAppend",
    "assign_cells_routed": "bound-pruned two-level EXACT assignment "
    "shared by semantic_dedup_fast and the IVF builds past ROUTE_CELLS "
    "centroids (the flat X@C.T is O(n*k) — the measured r11 build "
    "wall); pinned equal to flat BLAS + HOF in test_wired_ops_r11 and "
    "the routing_agreement audit probe",
    "assign_nearest_cell_blas": "BLAS mapInPandas twin of "
    "assign_nearest_cell, auto-selected past AUTO_SCALE_ROWS inside "
    "ivf_seeded_topk/pq_topk; pinned row-equal to the HOF argmin in "
    "test_similarity_extra (vectorized-assign parity) and "
    "test_ivf_auto_cells",
    "SamplingStrategy": "abstract base of the checked strategies",
    "attach_weights": "internal step of o3/o5 weighted sampling",
    "SimpleCSR": "CSR container used by s3_anndata_ingest internals",
    # env-gated or infrastructure-bound: no stable in-container oracle
    "h5ad_to_parquet": "needs the anndata package (env-gated; "
    "install is prohibited in this container, see README Environment gates)",
    "decode_images_pil": "real Pillow decode path, env-gated like "
    "h5ad_to_parquet; the oracle-checked twin is decode_images",
    "ivf_topk": "MLlib-KMeans IVF variant; centroids are not "
    "engine-portable — the seeded variant (sim_ivf_ann) is the "
    "oracle-checked twin",
    "write_bucketed": "writer-side layout utility; its effect is "
    "asserted by the plan-shape test (shuffle-free bucketed join)",
    # true streaming entry points: exercised by tests/test_streaming.py
    # against their batch twins (the driver compares the batch forms)
    "read_events_stream": "readStream entry; batch twin is ev_*",
    "constraint_gate_batches": "foreachBatch ingest-gate sink; batch "
    "twin is the oracle-checked dq_constraints; stream==batch additivity "
    "+ fail-fast pinned in tests/test_streaming.py",
    "embedding_drift_gate_batches": "foreachBatch drift-gate sink in "
    "the frozen baseline basis; batch twin quality.embedding_drift "
    "carries the dq_embedding_drift oracle; stream==batch value "
    "equivalence + fail-fast pinned by TestEmbeddingDriftGate",
    "unique_gate_batches": "stateful cross-batch uniqueness twin of "
    "constraint_gate_batches (persisted key index per column); "
    "cross-delivery collision flip, count-minus-countDistinct "
    "additivity vs dq_constraints, and fail-fast pinned in "
    "tests/test_streaming.py",
    "compact_unique_index": "offline maintenance verb for "
    "unique_gate_batches' key index (one file per bucket instead of "
    "one per append) — mutates shared gate state, so it cannot be a "
    "rerunnable registered query; gate-semantics preservation across "
    "the compaction boundary pinned in tests/test_streaming.py",
    "compact_band_index": "offline maintenance verb for the persisted "
    "band index (novel_ingest_batches) — mutates shared ingest state "
    "like its gate/ANN siblings, so it cannot be a rerunnable "
    "registered query; decision preservation across the compaction "
    "boundary + crash-safe swap pinned in "
    "tests/test_index_maintenance.py::TestNovelIngestBatches",
    "running_user_stats": "applyInPandasWithState op; rows-only check "
    "by design (stateful streaming is not SQL-expressible)",
    "capped_sessions_stateful": "stateful twin of ev_session_capped",
    "append_increment": "incremental-source writer used by the "
    "resume/validation tests",
}


def _public_names():
    out = {}
    for sub in ("operators", "streaming", "sources"):
        for mod in sorted((PKG / sub).glob("*.py")):
            if mod.name == "__init__.py":
                continue
            tree = ast.parse(mod.read_text())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                    out.setdefault(node.name, f"{sub}/{mod.name}")
    return out


def _referenced_identifiers():
    """Identifiers actually REFERENCED by the query layer, extracted from
    the AST (names, attribute accesses, imports) — not raw text, so a
    name that only appears inside a comment/docstring, or as a substring
    of a longer wired name, does not count as wired."""
    idents: set[str] = set()
    files = sorted((PKG / "queries").glob("*.py")) + [
        PKG.parent / "bench.py",
        PKG.parent / "__spark_entry__.py",
    ]
    for p in files:
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                idents.add(node.id)
            elif isinstance(node, ast.Attribute):
                idents.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    idents.add(a.name.split(".")[-1])
                    if a.asname:
                        idents.add(a.asname)
    return idents


def test_every_public_operator_is_wired_or_allowlisted():
    referenced = _referenced_identifiers()
    unwired = {
        name: where
        for name, where in _public_names().items()
        if name not in referenced and name not in LIBRARY_ONLY
    }
    assert not unwired, (
        "public operators with no query-layer reference and no "
        f"library-only justification: {unwired} — register a query "
        "(+oracle) or add an entry to LIBRARY_ONLY with a reason"
    )


def test_allowlist_is_not_stale():
    names = _public_names()
    stale = [n for n in LIBRARY_ONLY if n not in names]
    assert not stale, f"LIBRARY_ONLY entries no longer exist: {stale}"
