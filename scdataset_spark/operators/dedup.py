"""Deduplication operators for an LLM-data pipeline (SURVEY.md §2.14).

Five families, all shuffle-efficient by construction:

- exact          : md5(normalized text) → groupBy fingerprint (one hash
                   shuffle on a 32-byte key; keeps min doc_id)
- minhash + LSH  : k lexicographic-min md5 minhashes over 3-token
                   shingles → band signatures → equi-self-join on
                   (band, signature).  The classic near-dup join: no
                   pairwise cross product ever materializes.
- simhash        : 32-bit vote-sum signature; identical-signature
                   buckets are near-dup candidates (operators/textanalysis.py)
- n-gram Jaccard : inverted-index join on shared shingles → exact
                   Jaccard from |A∩B| and set sizes.  Scale note: at
                   100 TB add a document-frequency cap on hot shingles
                   (stop-shingle removal) to bound join fan-out.
- embedding cos  : near-dup by cosine similarity on the embeddings
                   table (see operators/similarity.py).

Any of their pair graphs becomes dedup groups through
``connected_components``: up to ``DRIVER_COMPONENTS_MAX_EDGES`` pairs
are labelled on the driver with numpy, a larger graph by distributed
large-star/small-star rounds (``connected_components_star``).

Everything is built-in higher-order functions (split / transform /
slice / array_distinct / explode) — JVM codegen, no Python UDFs — and
has an exact DuckDB twin (md5 hex strings order identically everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scdataset_spark.operators._cache import persist_bounded

# NOTE: the token array MUST be bound to a column before the transform —
# an expression inside a lambda is re-evaluated per element, so inlining
# split(text) into the lambda turns shingling O(tokens) into O(tokens^2)
# per document (measured 5s → 0.3s at sf0.1).
SHINGLE_EXPR = (
    "array_distinct(transform(sequence(1, greatest(size({tk}) - 2, 1)), "
    "i -> concat_ws(' ', element_at({tk}, i), "
    "element_at({tk}, least(i + 1, size({tk}))), "
    "element_at({tk}, least(i + 2, size({tk}))))))"
)


def with_shingles(df: DataFrame, text_col: str = "text", out: str = "shingles") -> DataFrame:
    """Distinct 3-token shingles (documents shorter than 3 tokens get a
    single clamped shingle so no row is dropped)."""
    return (
        df.withColumn("_toks", F.split(F.col(text_col), " "))
        .withColumn(out, F.expr(SHINGLE_EXPR.format(tk="_toks")))
        .drop("_toks")
    )


MINHASH_SEED = 9000
_MH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_coeffs(num_hashes: int, seed: int = MINHASH_SEED) -> list[tuple[int, int]]:
    """Carter-Wegman coefficients (a_j, b_j) for the j-th hash family,
    derived from the portable mixer driver-side so both engines embed
    the SAME literal constants; a_j is drawn from [1, p-1] so no family
    can degenerate to a constant (a ≡ 0 mod p)."""
    from scdataset_spark.plans.seeds import mix_py

    # a in [1, p-1]: an 'a' that is 0 mod p (possible with a naive |1,
    # since p = 2^31-1 is odd) would degenerate the family to a
    # constant and collapse its LSH band into an all-docs collision
    return [
        (mix_py(2 * j, seed) % (_MH_PRIME - 1) + 1, mix_py(2 * j + 1, seed) % _MH_PRIME)
        for j in range(num_hashes)
    ]


def with_minhash(df: DataFrame, num_hashes: int = 12, shingle_col: str = "shingles") -> DataFrame:
    """k minhashes from ONE md5 per shingle: the shingle's base hash is
    the first 8 hex chars of md5(s) as a bigint (uniform in [0, 2^32),
    bit-identical in DuckDB via ``('0x' || substr(md5(s),1,8))::BIGINT``),
    and family j is Carter-Wegman universal hashing over it —
    ``mh_j = min over shingles of (a_j * h0(s) + b_j) mod (2^31-1)``
    with mixer-derived literal coefficients (``minhash_coeffs``).

    Versus the original k-md5s-per-shingle scheme this removes k-1 md5
    calls per shingle AND keeps the per-j expression tiny (one
    multiply-add-mod — large per-j expressions measurably inflate
    whole-stage-codegen JIT time).  No 64-bit overflow:
    a < 2^31, h0 < 2^32 → a*h0 + b < 2^63.

    The base-hash array is bound to a column FIRST (the lambda
    re-evaluation rule: md5 inside the per-j lambdas would re-hash every
    shingle k times).  All k mins are emitted in ONE projection.
    """
    h0 = (
        f"transform({shingle_col}, "
        "s -> CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT))"
    )
    mh = [
        f"array_min(transform(_h0, h -> ({a} * h + {b}) % {_MH_PRIME})) AS mh{j}"
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return df.withColumn("_h0", F.expr(h0)).selectExpr("*", *mh).drop("_h0")


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band a minhash signature frame (``with_minhash`` output) into the
    canonical ``(id, band_id, band_sig)`` LSH index: rows_per_band =
    num_hashes/bands, band_sig = md5 over the band's minhash values.
    ONE projection + explode, not a union of per-band selects — each
    union branch would recompute the whole shingle+minhash lineage,
    multiplying the md5 work by ``bands``.

    This frame IS the materialization unit for incremental dedup: write
    it out once for the existing corpus and pass it to
    ``novel_documents(existing_bands=...)`` for every increment."""
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"mh{b * r + i}") for i in range(r)])
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return (
        df.select(F.col(id_col), F.explode(band_structs).alias("_b"))
        .select(id_col, F.col("_b.band_id").alias("band_id"), F.col("_b.band_sig").alias("band_sig"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band the signature (rows_per_band = num_hashes/bands), hash each
    band, self-join on (band_id, band_sig): docs agreeing on ANY band
    become a candidate pair.  This is an equi-join on a short key —
    shuffle-partitionable, no cross product, the canonical LSH shape.
    """
    banded = lsh_bands(df, id_col=id_col, num_hashes=num_hashes, bands=bands)
    # the self-join would otherwise recompute the full shingle+minhash
    # lineage on BOTH sides; the banded frame is tiny (n_docs * bands
    # short rows) so cache it for the join — through the bounded
    # registry, so repeated invocations don't accumulate executor storage
    banded = persist_bounded(banded)
    a = banded.alias("a")
    b2 = banded.alias("b")
    pairs = (
        a.join(b2, ["band_id", "band_sig"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """N-gram Jaccard via inverted-index join: explode distinct
    shingles, self-join on the shingle, count shared per pair, then
    J = |A∩B| / (|A| + |B| - |A∩B|).  Exact only with ``max_df=None``
    — the DEFAULT caps hot shingles (below), trading bounded recall on
    viral-shingle pairs for a bounded join; default-parameter callers
    get the capped (scale-safe) semantics, not the exact ones.

    ``max_df`` drops shingles whose document frequency exceeds it from
    the inverted index BEFORE the pair join (``skew.cap_hot_tokens``) —
    a shingle shared by d documents fans out d² join rows, so one viral
    shingle would otherwise dominate the whole job at scale.  The cap is
    ON by default (10k, matching the registered query) because the
    uncapped join is the single most dangerous default in the module at
    100 TB; pass ``max_df=None`` explicitly for exact mode on corpora
    known to have no viral shingles.  The Jaccard denominator still uses
    the FULL shingle-set sizes, so a capped pair's score can only shrink
    (capped shingles carry ~no discriminative signal; this is standard
    stop-shingle removal)."""
    from scdataset_spark.operators._cache import persist_bounded, widen_if_narrow
    from scdataset_spark.operators.skew import cap_hot_tokens

    # Spread the shingle/explode work to cluster width BEFORE it runs
    # when the input is split-starved (measured: 3 tasks on 32 cores at
    # sf0.1, 6.6 s for the explode alone); the guard leaves wide inputs
    # alone.  Repartition the narrow per-doc frame, not the exploded one.
    widened = widen_if_narrow(df)
    # persist BEFORE the df-cap: the cap's frequency aggregate and its
    # semi-join, and then both sides of the pair self-join, all consume
    # this frame — persisting after the cap would still re-derive the
    # explode for the cap's two readers.  The inverted index carries
    # ONLY (id, shingle): per-doc sizes ride a separate n_docs-row
    # frame joined back AFTER the pair aggregation — carrying (na, nb)
    # through the self-join + groupBy puts them on every one of the
    # ~Σdf² intermediate pair rows, which measured as the difference
    # between fitting and exhausting shuffle scratch at sf100 (6 M
    # docs, ~1.9 B pre-agg pair rows).
    inv = persist_bounded(
        widened.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("sh"))
    )
    # full (PRE-cap) per-doc sizes for the Jaccard denominator, from the
    # persisted exploded frame — shingles are distinct per doc, so the
    # count IS the set size, and no shingle lineage is re-derived
    sizes = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        inv = cap_hot_tokens(inv, token_col="sh", max_df=max_df)
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(b, "sh")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    shared = (
        shared.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
    )
    jac = F.round(
        F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
    )
    return (
        shared.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def novel_documents(
    incoming: DataFrame,
    existing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    existing_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: ids of ``incoming`` documents with NO
    LSH band collision against the ``existing`` corpus — the docs safe
    to append without creating a near-dup pair.

    This is the append-only-corpus posture at 100 TB: instead of
    re-running pairwise dedup over old+new, the existing corpus is
    represented by its tiny banded index (``lsh_bands`` output,
    n_docs x bands short rows — materialize it ONCE and pass it as
    ``existing_bands``; passing raw ``existing`` docs re-derives it).
    Candidates come from one semi-join on (band_id, band_sig); novel
    docs fall out of one anti-join.  No self-join, no cross product;
    each increment costs O(increment + index-probe).

    A colliding doc is only a CANDIDATE dup (same false-positive
    semantics as ``lsh_candidate_pairs``) — pipelines wanting exact
    confirmation use ``novel_documents_verified``, which Jaccard-checks
    each collided doc against its band partners (|candidates|-bounded)
    so a false-positive band collision cannot discard a good document.

    For a streaming increment, apply this per micro-batch via
    ``foreachBatch`` (exact per-doc ALL-bands semantics need a per-doc
    aggregate, which pure append-mode streaming disallows; foreachBatch
    gives each increment full batch semantics against the static index
    — see ``tests/test_streaming.py``)."""
    if (existing is None) == (existing_bands is None):
        raise ValueError("pass exactly one of `existing` or `existing_bands`")
    if existing_bands is None:
        existing_bands = lsh_bands(
            with_minhash(
                with_shingles(existing, text_col=text_col), num_hashes=num_hashes
            ),
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
        )
    inc_bands = lsh_bands(
        with_minhash(
            with_shingles(incoming, text_col=text_col), num_hashes=num_hashes
        ),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    collided = (
        inc_bands.join(
            existing_bands.select("band_id", "band_sig"),
            ["band_id", "band_sig"],
            "left_semi",
        )
        .select(id_col)
    )
    return incoming.select(id_col).join(collided, id_col, "left_anti")


# band-hash partition count for the PERSISTED band index: same sizing
# rationale as the unique gate's key index (streaming/events.py) — a
# delivery's probe prunes to its own buckets, appends never explode into
# per-band small files
NOVEL_INDEX_BUCKETS = 64


def write_band_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
) -> None:
    """One-time build of the PERSISTED banded LSH index for the
    incremental-dedup ingest loop: ``lsh_bands`` rows partitioned by
    ``_bb = pmod(hash(band_sig), NOVEL_INDEX_BUCKETS)`` and sorted by
    signature within each bucket file (tight parquet stats), with a
    ``batch_id`` column (-1 for the initial corpus) so streaming
    replays can be distinguished from real history.  Probe it with
    :func:`novel_ingest_batches`; maintain with
    :func:`compact_band_index`."""
    b = lsh_bands(
        with_minhash(
            with_shingles(docs, text_col=text_col), num_hashes=num_hashes
        ),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    (
        b.withColumn(
            "_bb", F.pmod(F.hash("band_sig"), F.lit(NOVEL_INDEX_BUCKETS))
        )
        .withColumn("batch_id", F.lit(-1).cast("bigint"))
        .repartition("_bb")
        .sortWithinPartitions("_bb", "band_sig")
        .write.mode("overwrite")
        .partitionBy("_bb")
        .parquet(path)
    )


def novel_ingest_batches(
    index_dir: str,
    sink,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    run_id: str | None = None,
):
    """Dedup-on-ingest as a ``foreachBatch`` callback — the band-index
    member of the ingest-index trilogy (the unique gate's key index,
    ``similarity.ann_ingest_batches``' id sidecar, and this): each
    delivery is screened against the PERSISTED band index — which holds
    the initial corpus AND every previously-ingested novel document —
    then the novel docs' bands are appended so later deliveries dedup
    against them too.  This is the semantics :func:`novel_documents`
    alone cannot give a stream: against a static index, delivery 2
    cannot see delivery 1's documents.

    Per delivery: band the batch, anti-join its ids against band
    collisions with the index (probe pruned to the batch's ``_bb``
    buckets; the delivery's own ``batch_id`` rows are EXCLUDED so a
    replayed batch never collides with its own earlier partial append),
    hand ``sink`` the novel ``(id, batch_id)`` frame, and only after
    the sink returns append the novel docs' bands (a failed/aborted
    delivery therefore leaves no phantom bands that would silently
    discard future near-dups of documents that were never kept).
    Replay is fully safe here — duplicate band rows from a re-run
    delivery cannot change any later probe, because the probe is a
    semi-join.  Cost per delivery: O(batch banding + pruned probe +
    novel append) — never O(corpus).

    ``run_id`` namespaces the stored batch tag: Spark batch_ids are
    only unique within ONE streaming-query incarnation (a restarted
    stream with a FRESH checkpoint reuses batch_id 0), so with the
    default ``run_id=None`` the own-batch replay exclusion silently
    also excludes a PREVIOUS run's batch-0 novels from the probe —
    their near-duplicates would be waved through as novel.  Pass the
    streaming query's stable identity (``query.id`` — constant across
    restarts of the same checkpoint, fresh for a new checkpoint) or
    the checkpoint path itself; the tag becomes
    ``(crc32(run_id) & 0x7fffffff) << 32 | batch_id``, so only a true
    replay of the same delivery in the same checkpoint lineage is
    excluded.  ``run_id=None`` keeps the legacy single-checkpoint-
    lifetime semantics (tag = raw batch_id) and is only safe while the
    index is fed by one checkpoint lineage for its whole life.

    Stored batch tags are BIGINT since r14; an index written by an
    older build stores INT32 and parquet refuses a cross-file type
    change — run :func:`compact_band_index` once before resuming
    ingest on such an index (the rewrite normalizes the column)."""
    from scdataset_spark.operators._maintenance import namespaced_batch_tag

    def _tag(batch_id: int) -> int:
        return namespaced_batch_tag(run_id, batch_id)

    # one-shot cross-lineage hazard check, armed only for the legacy
    # run_id=None default (ADVICE r14) — see warn_if_legacy_tag_collision
    _legacy_checked = [run_id is not None]

    def _ingest(batch_df, batch_id):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )

        lock = acquire_maintenance_lock(index_dir, "delivery")
        try:
            _ingest_locked(batch_df, batch_id)
        finally:
            release_maintenance_lock(lock)

    def _ingest_locked(batch_df, batch_id):
        import os

        spark = batch_df.sparkSession
        from pyspark.errors import AnalysisException

        if os.path.exists(f"{index_dir}__precompact"):
            raise RuntimeError(
                f"band index at {index_dir} has a leftover __precompact "
                "backup from an interrupted compaction; restore it before "
                "resuming ingest"
            )
        inc_bands = lsh_bands(
            with_minhash(
                with_shingles(batch_df, text_col=text_col),
                num_hashes=num_hashes,
            ),
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
        ).withColumn(
            "_bb", F.pmod(F.hash("band_sig"), F.lit(NOVEL_INDEX_BUCKETS))
        )
        inc_bands = inc_bands.persist()
        try:
            buckets = [
                int(r[0]) for r in inc_bands.select("_bb").distinct().collect()
            ]
            idx_all = spark.read.parquet(index_dir)
            from scdataset_spark.operators._maintenance import (
                check_batch_tag_dtype,
            )

            check_batch_tag_dtype(
                idx_all,
                f"band index at {index_dir}",
                "compact_band_index",
            )
            if not _legacy_checked[0]:
                _legacy_checked[0] = True
                from scdataset_spark.operators._maintenance import (
                    warn_if_legacy_tag_collision,
                )

                warn_if_legacy_tag_collision(
                    idx_all, _tag(batch_id), f"band index at {index_dir}"
                )
            idx = idx_all.where(
                F.col("_bb").isin(buckets)
                & (F.col("batch_id") != _tag(batch_id))
            )
            collided = (
                inc_bands.join(
                    idx.select("band_id", "band_sig"),
                    ["band_id", "band_sig"],
                    "left_semi",
                )
                .select(id_col)
                .distinct()
            )
        except AnalysisException:
            raise ValueError(
                f"no band index at {index_dir}: build it once with "
                "write_band_index before ingesting"
            )
        novel = (
            batch_df.select(id_col)
            .distinct()
            .join(collided, id_col, "left_anti")
            .withColumn("batch_id", F.lit(_tag(batch_id)).cast("bigint"))
            .persist()
        )
        novel.count()
        sink(novel)
        # append AFTER the sink: bands of docs the pipeline never kept
        # must not poison future novelty decisions
        (
            inc_bands.join(novel.select(id_col), id_col, "left_semi")
            .withColumn("batch_id", F.lit(_tag(batch_id)).cast("bigint"))
            .repartition("_bb")
            .sortWithinPartitions("_bb", "band_sig")
            .write.mode("append")
            .partitionBy("_bb")
            .parquet(index_dir)
        )
        inc_bands.unpersist()
        novel.unpersist()

    return _ingest


def compact_band_index(spark, path: str) -> DataFrame:
    """Small-file compaction for the persisted band index — one file
    per ``_bb`` bucket, signature-sorted, same crash-safe verified swap
    as the gate and ANN compactions (backup kept until the rewrite is
    read back and row-count-verified).  Holds the index's
    ``__maintenance_lock`` for its duration, mutually excluding
    in-flight :func:`novel_ingest_batches` deliveries (and vice versa).
    Returns one report row: ``(n_rows, files_before, files_after)``."""
    from scdataset_spark.operators._maintenance import (
        acquire_maintenance_lock,
        release_maintenance_lock,
    )

    lock = acquire_maintenance_lock(path, "compaction")
    try:
        return _compact_band_index_locked(spark, path)
    finally:
        release_maintenance_lock(lock)


def _compact_band_index_locked(spark, path: str) -> DataFrame:
    import os
    import shutil

    if os.path.exists(f"{path}__precompact"):
        raise RuntimeError(
            f"leftover backup at {path}__precompact from an interrupted "
            "compaction; restore or remove it before compacting again"
        )
    idx = spark.read.parquet(path)
    before = idx.select(F.input_file_name()).distinct().count()
    n_rows = idx.count()
    tmp = f"{path}__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        # batch_id normalized to BIGINT on rewrite: pre-r14 indexes
        # stored it as INT32 and the namespaced appends write INT64 —
        # parquet readers refuse a column whose type differs across
        # files, so "compact once after upgrading" IS the migration
        idx.withColumn("batch_id", F.col("batch_id").cast("bigint"))
        .repartition("_bb")
        .sortWithinPartitions("_bb", "band_sig")
        .write.mode("overwrite")
        .partitionBy("_bb")
        .parquet(tmp)
    )
    old = f"{path}__precompact"
    os.rename(path, old)
    os.rename(tmp, path)
    re = spark.read.parquet(path)
    after = re.select(F.input_file_name()).distinct().count()
    if re.count() != n_rows:
        raise RuntimeError(
            f"compacted band index at {path} row count changed; "
            f"pre-compaction index preserved at {old}"
        )
    shutil.rmtree(old)
    return spark.createDataFrame(
        [(n_rows, before, after)],
        "n_rows bigint, files_before bigint, files_after bigint",
    )


def novel_documents_verified(
    incoming: DataFrame,
    existing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    existing_bands: DataFrame | None = None,
    existing_texts: DataFrame | None = None,
) -> DataFrame:
    """``novel_documents`` with the verify stage composed in: every
    incoming doc that COLLIDES on a band is Jaccard-checked against its
    actual band partners, so an LSH false positive (band collision
    without real overlap) no longer discards a good document silently.

    Returns one row per incoming doc: ``(id, is_novel, best_jaccard)``
    where ``best_jaccard`` is the max exact 3-token-shingle Jaccard
    against any collided existing partner (NULL when no band collision)
    and ``is_novel = 1`` iff there was no collision or every partner's
    Jaccard fell below ``threshold``.

    Scale shape: candidates come from the same short-key band equi-join
    as ``novel_documents``; both shingle re-derivations are SEMI-JOIN
    restricted to the collided ids first, so the verify stage costs
    O(|candidates|), never O(corpus).  With a materialized index pass
    ``existing_bands`` (the ``lsh_bands`` output) plus
    ``existing_texts`` (an ``(id, text)`` frame — e.g. the corpus
    parquet itself; only the collided partners are ever read from it
    thanks to the semi-join, so at 100 TB this is an id-probe, not a
    scan-and-shingle of the archive)."""
    if existing is not None:
        if existing_bands is not None or existing_texts is not None:
            raise ValueError("pass `existing` OR (`existing_bands` + `existing_texts`), not both")
        existing_texts = existing.select(id_col, text_col)
        existing_bands = lsh_bands(
            with_minhash(
                with_shingles(existing, text_col=text_col), num_hashes=num_hashes
            ),
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
        )
    elif existing_bands is None or existing_texts is None:
        raise ValueError("pass `existing`, or both `existing_bands` and `existing_texts`")
    inc_bands = lsh_bands(
        with_minhash(
            with_shingles(incoming, text_col=text_col), num_hashes=num_hashes
        ),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    # distinct collided (incoming, existing) partner pairs; consumed by
    # two semi-joins and the verify join -> bounded-persist once
    pairs = persist_bounded(
        inc_bands.alias("i")
        .join(existing_bands.alias("e"), ["band_id", "band_sig"])
        .select(
            F.col(f"i.{id_col}").alias("inc_id"),
            F.col(f"e.{id_col}").alias("ex_id"),
        )
        .distinct()
    )
    inc_sh = with_shingles(
        incoming.join(
            pairs.select(F.col("inc_id").alias(id_col)), id_col, "left_semi"
        ),
        text_col=text_col,
    ).select(
        F.col(id_col).alias("inc_id"),
        F.col("shingles").alias("_sha"),
        F.size("shingles").alias("_na"),
    )
    ex_sh = with_shingles(
        existing_texts.join(
            pairs.select(F.col("ex_id").alias(id_col)), id_col, "left_semi"
        ),
        text_col=text_col,
    ).select(
        F.col(id_col).alias("ex_id"),
        F.col("shingles").alias("_shb"),
        F.size("shingles").alias("_nb"),
    )
    # full-set-size denominator, rounded to 6 like jaccard_pairs
    jac = F.expr(
        "round(size(array_intersect(_sha, _shb)) / "
        "(_na + _nb - size(array_intersect(_sha, _shb))), 6)"
    )
    best = (
        pairs.join(inc_sh, "inc_id")
        .join(ex_sh, "ex_id")
        .withColumn("_j", jac)
        .groupBy("inc_id")
        .agg(F.max("_j").alias("best_jaccard"))
    )
    return (
        incoming.select(id_col)
        .join(best.select(F.col("inc_id").alias(id_col), "best_jaccard"), id_col, "left")
        .select(
            id_col,
            F.when(
                F.col("best_jaccard").isNull()
                | (F.col("best_jaccard") < threshold),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("is_novel"),
            "best_jaccard",
        )
    )


# Largest pair graph ``connected_components`` labels on the driver: 64 MB
# of two bigint columns.  Labelling that many edges (disjoint stars of
# five nodes, 4 cores) grew the driver's Python process by 555 MB and
# took 2.7 s, where the star rounds took 30 s.
DRIVER_COMPONENTS_MAX_EDGES = 4_000_000


def _pair_frame(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """The eagerly checkpointed ``(u, v)`` pairs, ``u >= v``.  The edge
    lineage (LSH candidates, a cosine verify) runs once; every frame
    both shapes derive reads this checkpoint."""
    return edges.select(
        F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
        F.least(F.col(src_col), F.col(dst_col)).alias("v"),
    ).localCheckpoint(eager=True)


def _label_on_driver(spark, pairs) -> DataFrame:
    """``(id, component)`` of an Arrow ``(u, v)`` table by
    hook-and-shortcut: each round hooks the larger endpoint root of
    every edge whose endpoints still differ onto the smaller one, then
    pointer-jumps to flat trees.  Roots only ever move to smaller ids,
    so a component's root is its minimum id."""
    import numpy as np
    import pyarrow as pa

    u = pairs.column("u").to_numpy()
    ids, inv = np.unique(np.concatenate([u, pairs.column("v").to_numpy()]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u) :]
    lab = np.arange(len(ids))
    while len(a):
        lu, lv = lab[a], lab[b]
        np.minimum.at(lab, np.maximum(lu, lv), np.minimum(lu, lv))
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped
        # an edge whose endpoints share a root keeps sharing it
        open_ = lab[a] != lab[b]
        a, b = a[open_], b[open_]
    t = pairs.schema.field("u").type
    return spark.createDataFrame(
        pa.table({"id": pa.array(ids, type=t), "component": pa.array(ids[lab], type=t)})
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Connected components of the (undirected) near-dup pair graph:
    ``(id, component)`` with component = the minimum node id reachable.
    This is the step that turns candidate PAIRS into dedup GROUPS (one
    representative per component).

    The pairs are checkpointed once, and up to
    ``DRIVER_COMPONENTS_MAX_EDGES + 1`` of them come back as Arrow.  A
    graph of at most that many edges is labelled on the driver
    (:func:`_label_on_driver`: two jobs in all, any graph shape); a
    larger one runs the distributed large-star/small-star rounds of
    :func:`connected_components_star` on the checkpoint.
    """
    raw = _pair_frame(edges, src_col, dst_col)
    head = raw.limit(DRIVER_COMPONENTS_MAX_EDGES + 1).toArrow()
    if head.num_rows <= DRIVER_COMPONENTS_MAX_EDGES:
        return _label_on_driver(raw.sparkSession, head)
    return _star_rounds(raw)


def connected_components_star(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): O(log² n) rounds on any graph shape.  Same
    contract as :func:`connected_components`, which runs these rounds
    for a pair graph too large for the driver; this entry point always
    runs them.
    """
    return _star_rounds(_pair_frame(edges, src_col, dst_col), max_iterations)


def _star_rounds(raw: DataFrame, max_iterations: int = 30) -> DataFrame:
    """The star rounds over checkpointed ``(u, v)`` pairs.

    Each round is two grouped-min joins on node id, and costs exactly
    ONE Spark action: the per-round edge frame is ``localCheckpoint``-ed
    LAZILY and the convergence-signature aggregate is the action that
    materializes it — the checkpoint persists as a side effect of the
    job the probe needed anyway, so the iterative lineage never
    compounds and no separate materialization job runs.  Convergence =
    edge-set fixed point, detected by a (count, sum(xxhash64))
    signature and CONFIRMED exactly (anti-join emptiness between the
    two checkpointed edge frames — counts already match via the
    signature) on the round the signature first repeats, so a hash-sum
    collision costs one extra probe, never a wrong answer.
    """
    # node set derived BEFORE dropping self-loops: a self-loop-only
    # node is its own component
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(frame: DataFrame):
        # this aggregate is the frame's FIRST action, so it doubles as
        # the lazy checkpoint's materialization job (one action/round)
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a bigint sum of ±2^63-range hashes overflows
            # under ANSI semantics after a handful of rows
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(frame: DataFrame) -> DataFrame:
        # undirected neighbor view; Γ+(u) minimum m = min(u, min nbr);
        # every strictly-larger neighbor re-points to m
        und = frame.unionByName(
            frame.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("u"), F.col("_mn"))
        return (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
        )

    def small_star(frame: DataFrame) -> DataFrame:
        # edges all point larger→smaller here; m = min smaller-neighbor.
        # Every smaller neighbor except m re-points to m, and u keeps m.
        mins = frame.groupBy("u").agg(F.min("v").alias("_mn"))
        re_pointed = (
            frame.join(mins, "u")
            .where(F.col("v") != F.col("_mn"))
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        )
        kept = mins.select("u", F.col("_mn").alias("v"))
        return re_pointed.unionByName(kept).distinct()

    sig = signature(e)
    converged = False
    for _ in range(max_iterations):
        prev_e, e = e, small_star(large_star(e)).localCheckpoint(eager=False)
        new_sig = signature(e)
        if new_sig == sig:
            # promote the first signature equality to an EXACT set
            # comparison (counts are already equal via the signature,
            # so one-sided anti-join emptiness proves set equality —
            # both frames are checkpointed, one cheap extra job per
            # call).  A hash-sum collision degrades to one wasted
            # probe, never wrong components.
            changed = (
                e.join(prev_e, ["u", "v"], "left_anti").limit(1).count()
            )
            if changed == 0:
                converged = True
                break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} rounds — rounds needed is O(log² n), so "
            "this cap should only trip on astronomically large graphs; "
            "raise max_iterations"
        )
    # converged edge set is a star per component (non-root → root); the
    # grouped min is belt-and-braces against any residual multi-pointer
    return (
        nodes.join(e.select(F.col("u").alias("id"), F.col("v").alias("_c")), "id", "left")
        .groupBy("id")
        .agg(F.min(F.coalesce(F.col("_c"), F.col("id"))).alias("component"))
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 32,
    bands: int | None = None,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ ``max_hamming`` via
    PIGEONHOLE BANDING — the scale-correct simhash join: split the
    ``bits``-bit signature into ``bands`` equal bands; two signatures
    within ``max_hamming`` (< bands) bit flips MUST agree on at least
    one whole band, so candidates come from an equi-self-join on
    (band_index, band_value) and only candidates pay the exact
    ``bit_count(xor)`` verification.  No all-pairs product, same join
    shape as MinHash banding — one short-key shuffle at any scale.

    ``bands`` defaults to ``max_hamming + 1`` — the MINIMAL pigeonhole
    count, which makes each band as WIDE as possible.  Width is what
    keeps the join linear: candidate volume is ~n²·bands/2^width, so
    band-value saturation is the dominant scale hazard (measured: the
    old fixed bands=4 ⇒ 8-bit bands ⇒ 1024 total buckets went 76×
    slower for 10× docs at sf10 — quadratic once every bucket holds
    thousands of docs; minimal banding at max_hamming=1 ⇒ 2×16-bit
    bands ⇒ 131k buckets restores ~linear).  The final pair set is
    banding-INVARIANT (banding only generates candidates; the exact
    hamming filter decides), so this is purely a physical choice.

    ``max_bucket`` additionally drops band buckets holding more docs
    than the cap before the self-join — a backstop for corpora big
    enough to saturate even wide bands (at 10^11 docs move to 64-bit
    signatures first).  A bucket that hot is ~noise (that band carries
    no discriminative signal), but dropping it can lose pairs whose
    only agreeing band it was: bounded recall loss, mirrored in any
    oracle by the same count filter.  The default never binds below
    ~10^8 docs; pass ``None`` for exact candidate generation.
    """
    if bands is None:
        bands = max_hamming + 1
    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"({sig_col} >> {b * width}) & {mask}").alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = df.select(
        F.col(id_col), F.col(sig_col), F.explode(band_structs).alias("_b")
    ).select(
        id_col, sig_col,
        F.col("_b.band_idx").alias("band_idx"),
        F.col("_b.band_val").alias("band_val"),
    )
    banded = persist_bounded(banded)
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket)
            .select("band_idx", "band_val")
        )
        banded = banded.join(ok, ["band_idx", "band_val"], "left_semi")
    a = banded.alias("a")
    b2 = banded.alias("b")
    return (
        a.join(b2, ["band_idx", "band_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr(f"bit_count(a.{sig_col} ^ b.{sig_col})").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-token gram, then
    keep the MINIMUM hash of each sliding window of ``window``
    consecutive gram hashes.  Guarantee: any shared token run of length
    ``>= k + window - 1`` between two documents contributes at least one
    shared fingerprint — the substring-level dedup primitive (shared
    boilerplate/quotation detection) that whole-document MinHash misses.

    Density is ~2/(window+1) of positions, so the exploded frame is a
    fraction of token count; candidate generation downstream is an
    equi-join on the fingerprint value — one short-key shuffle, the same
    scale shape as MinHash/SimHash banding.  Hot fingerprints (ubiquitous
    boilerplate) are cappable with ``skew.cap_hot_tokens`` like shingles.

    The gram hash is the portable 32-bit md5 prefix (same base hash as
    ``with_minhash``) so a SQL oracle reproduces fingerprints exactly.
    Output: one row per (id, fingerprint), distinct.

    Expression shape (the sf0.1 lesson): the tokens→grams→hashes→mins
    chain must NOT be separate single-use columns — CollapseProject
    inlines a once-referenced alias into the downstream lambda body,
    where it re-evaluates PER LAMBDA ITERATION (grams and md5 recomputed
    for every window position: O(n³) per document; measured minutes on
    5k docs).  Each stage is therefore let-bound with the
    ``transform(array(X), v -> body)[0]`` idiom: ``array(X)`` is the
    HOF's input argument, evaluated exactly once per row, and ``v`` is
    a materialized value inside ``body``.  Total work per doc is the
    intended O(n·window) with one md5 per gram.
    """
    # heavy per-row compute (grams + md5 + window mins) happens BEFORE
    # any shuffle — spread a split-starved input to cluster width
    # (measured 0.60s -> 0.25s warm at sf0.1 on 32 cores); wide inputs
    # pass through untouched
    from scdataset_spark.operators._cache import widen_if_narrow

    df = widen_if_narrow(df)
    kgram = (
        f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)), "
        + "i -> concat_ws(' ', "
        + ", ".join(f"element_at(t, least(i + {j}, size(t)))" for j in range(k))
        + "))"
    )
    hashes = f"transform({kgram}, s -> CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT))"
    # window min as an UNROLLED least() of clamped element_at — NOT
    # array_min(slice(...)): slice allocates a window-sized array per
    # position, and the allocation dominated the whole operator at
    # scale (profiled at 6.17 M docs / sf100d: md5 of every gram 2.3 s,
    # slice-based window mins +18.3 s on top; the unroll removes the
    # per-position allocation).  Clamped duplicate elements (the
    # size(h) < window edge) cannot change a min.
    win_terms = ", ".join(
        "element_at(h, j)" if i == 0
        else f"element_at(h, least(j + {i}, size(h)))"
        for i in range(window)
    )
    mins = (
        f"array_distinct(transform(sequence(1, greatest(size(h) - {window - 1}, 1)), "
        f"j -> least({win_terms})))"
    )
    fps = (
        f"transform(array(split({text_col}, ' ')), t -> "
        f"  transform(array({hashes}), h -> {mins})[0]"
        f")[0]"
    )
    return df.select(id_col, F.explode(F.expr(fps)).alias("fingerprint"))


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact substring-duplication coverage per document (the
    distributed analogue of suffix-array substring dedup, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better" —
    reference corpus-curation behavior; cf. scDataset's whole-row dedup
    at src/scdataset/scdataset.py): a token position is DUPLICATED if
    some ``k``-token gram covering it occurs at least twice in the whole
    corpus (any document, including elsewhere in the same one).

    A suffix array is inherently sequential; the Spark-native shape is
    three relational steps, each a short-key shuffle:

    1. explode every k-gram with its position; the shuffle key is a
       60-bit md5-prefix of the gram, not the gram text (slim shuffle —
       at 10^12 grams a 60-bit birthday collision marks ~1e-7 of
       positions, noise for a coverage statistic, and the oracle hashes
       identically so parity is exact);
    2. corpus-wide gram frequency = groupBy(hash) count, then a
       left-semi join keeps duplicated positions only;
    3. per-document interval union (gaps-and-islands over a window
       PARTITIONED by doc — never a global sort): a duplicated gram at
       ``pos`` adds ``min(k, pos - prev_pos)`` covered tokens.

    Documents shorter than ``k`` tokens emit NO grams (``n_grams`` = 0,
    zero coverage): a sub-``k`` document cannot contain a ``k``-gram,
    and the padded-gram convention ``with_shingles`` uses for MinHash
    would let a short doc collide with a genuine ``k``-gram elsewhere
    and count spurious coverage.  NULL text is treated as empty.
    Output per document: ``n_tokens``, ``n_grams``, ``dup_grams``,
    ``covered_tokens``, ``dup_token_fraction``.
    """
    from pyspark.sql import Window

    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(t, i + {j})" for j in range(k)
    ) + ")"
    # let-bound HOF chain (see winnowing_fingerprints: CollapseProject
    # would otherwise re-evaluate split() per lambda iteration); docs
    # with fewer than k tokens emit a typed empty gram array
    ghash = (
        f"transform(array(split(coalesce({text_col}, ''), ' ')), t -> "
        f"IF(size(t) >= {k}, "
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"i -> CAST(conv(substr(md5({gram}), 1, 15), 16, 10) AS BIGINT)), "
        "CAST(array() AS ARRAY<BIGINT>)))[0]"
    )
    base = df.select(
        F.col(id_col),
        F.expr(f"size(split(coalesce({text_col}, ''), ' '))").alias("n_tokens"),
    ).withColumn("n_grams", F.greatest(F.col("n_tokens") - (k - 1), F.lit(0)))
    # two scans by design, NOT a persist: the stats branch above prunes
    # to (id, token count) — caching corpus-sized gram-hash arrays to
    # save one cheap re-scan would pin executor storage for nothing.
    # The md5-per-gram work happens BEFORE any shuffle → spread a
    # split-starved input to cluster width (same measured win as
    # jaccard_pairs/winnowing_fingerprints)
    from scdataset_spark.operators._cache import widen_if_narrow

    grams = widen_if_narrow(df).select(
        F.col(id_col), F.posexplode(F.expr(ghash)).alias("_p0", "gh")
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "gh")
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("gh")
    )
    dup_pos = grams.join(dup_hashes, "gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_grams"),
            F.sum(
                F.when(F.col("_prev").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), F.col("pos") - F.col("_prev"))
                )
            ).alias("_cov"),
        )
    )
    return (
        base.join(cov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_grams",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.least(F.coalesce("_cov", F.lit(0)), F.col("n_tokens")).alias(
                "covered_tokens"
            ),
            F.round(
                F.least(F.coalesce("_cov", F.lit(0)), F.col("n_tokens"))
                / F.col("n_tokens"),
                6,
            ).alias("dup_token_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    rebuild: str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """The TRANSFORM counterpart of :func:`duplicate_span_coverage`
    (Lee et al. 2021's actual intervention): rewrite every document
    with its corpus-duplicated token spans REMOVED.  A token position
    is removed iff some ``k``-gram covering it occurs >= 2 times in the
    whole corpus, so ``k`` is the minimum span length removed — the
    exact-substring dedup pass that runs after document-level dedup to
    strip shared boilerplate/quotations the surviving documents still
    carry.

    Relational shape (all short-key equi operations, no window):

    1. the same slim gram-hash explode + corpus df screen as the
       coverage metric (60-bit md5 prefix rides the shuffle, never the
       gram text);
    2. each duplicated gram START expands to its <= ``k`` covered
       positions (``explode(sequence(...))`` — a narrow xk re-shape of
       the already-small duplicated-position set), distinct;
    3. one (id, position) anti-join drops covered tokens, and the
       rebuilt text is an order-independent sorted-struct aggregation
       (``array_sort(collect_list(struct(pos, tok)))`` → join) — the
       same engine-exact rebuild discipline as the decimal sums.

    At 100 TB the dominant cost of the default path is the token-level
    explode and two hash-partitioned shuffles on (gram-hash) and
    (id, pos).  ``rebuild='local'`` is the scale twin (pinned
    row-identical in tests): duplicated-gram STARTS group per doc
    (rows = docs-with-dups, typically tiny vs tokens) and join back
    onto the text — AQE broadcasts the metadata when duplication is
    sparse, so the corpus text NEVER shuffles — and an Arrow
    ``mapInPandas`` masks covered tokens per row (O(n + k·|starts|)
    per doc).  Measured at 6.17 M docs: 383 s warm relational → the
    local path removes the token-row anti-join and rebuild shuffles
    entirely.  Fully-duplicated documents survive as empty strings
    (``clean_text = ''``), never dropped rows.

    Documents shorter than ``k`` tokens emit NO grams and pass through
    untouched (``removed_tokens = 0``, ``clean_text = text``): a
    sub-``k`` doc cannot contain a ``k``-gram, and a padded gram could
    collide with a genuine ``k``-gram elsewhere and strip the short doc
    spuriously.  NULL text is treated as empty ('') identically in both
    rebuild paths.
    Output: ``n_tokens``, ``removed_tokens``, ``clean_text``.

    ``rebuild='auto'`` (the default, r9 VERDICT #2) picks the path from
    the corpus size — one cheap ``count()`` at call time, skipped when
    the caller passes ``n_rows`` or an explicit rebuild: ``'local'`` at
    ``>= AUTO_SCALE_ROWS`` documents (the measured 2-3x winner — the
    reference auto-configures its locality knobs the same way,
    ``src/scdataset/experimental/auto_config.py:278-525``), ``'relational'`` below
    (the oracle-exact, all-JVM shape; the registered oracle query pins
    it explicitly).  Both paths are row-identical by test.
    """
    if rebuild not in ("auto", "relational", "local"):
        raise ValueError(
            f"rebuild must be 'auto', 'relational' or 'local', got {rebuild!r}"
        )
    if rebuild == "auto":
        from scdataset_spark.operators.similarity import AUTO_SCALE_ROWS

        n = int(n_rows) if n_rows is not None else df.count()
        rebuild = "local" if n >= AUTO_SCALE_ROWS else "relational"
    from scdataset_spark.operators._cache import widen_if_narrow

    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(t, i + {j})" for j in range(k)
    ) + ")"
    ghash = (
        f"transform(array(split(coalesce({text_col}, ''), ' ')), t -> "
        f"IF(size(t) >= {k}, "
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"i -> CAST(conv(substr(md5({gram}), 1, 15), 16, 10) AS BIGINT)), "
        "CAST(array() AS ARRAY<BIGINT>)))[0]"
    )
    wide = widen_if_narrow(df)
    base = df.select(
        F.col(id_col),
        F.expr(f"size(split(coalesce({text_col}, ''), ' '))").alias("n_tokens"),
    )
    grams = wide.select(
        F.col(id_col), F.posexplode(F.expr(ghash)).alias("_p0", "gh")
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "gh")
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("gh")
    )
    dup_starts = grams.join(dup_hashes, "gh", "left_semi")
    if rebuild == "local":
        import numpy as np
        import pandas as pd

        id_sql_type = df.schema[id_col].dataType.simpleString()
        starts_per_doc = dup_starts.groupBy(id_col).agg(
            F.collect_list("pos").alias("_starts")
        )
        joined = df.select(id_col, text_col).join(starts_per_doc, id_col, "left")

        def _mask(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                n_toks, removed, cleans = [], [], []
                for text, starts in zip(pdf[text_col], pdf["_starts"]):
                    toks = ("" if text is None else text).split(" ")
                    n = len(toks)
                    n_toks.append(n)
                    if starts is None or not len(starts):
                        removed.append(0)
                        cleans.append(" ".join(toks))
                        continue
                    keep = np.ones(n, dtype=bool)
                    for s in starts:
                        keep[s - 1 : s - 1 + k] = False
                    removed.append(int(n - keep.sum()))
                    cleans.append(" ".join(t for t, m in zip(toks, keep) if m))
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "n_tokens": pd.array(n_toks, dtype="int32"),
                        "removed_tokens": pd.array(removed, dtype="int64"),
                        "clean_text": cleans,
                    }
                )

        return joined.mapInPandas(
            _mask,
            f"{id_col} {id_sql_type}, n_tokens int, removed_tokens bigint, "
            "clean_text string",
        )
    covered = (
        dup_starts.select(
            id_col,
            F.explode(F.expr(f"sequence(pos, pos + {k - 1})")).alias("tpos"),
        )
        .distinct()
    )
    tokens = wide.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("_t0", "tok"),
    ).select(id_col, (F.col("_t0") + 1).alias("tpos"), "tok")
    kept = tokens.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(tpos, tok))),"
            " s -> s.tok), ' ')"
        ).alias("_clean"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
        .cast("bigint")
        .alias("removed_tokens"),
        F.coalesce("_clean", F.lit("")).alias("clean_text"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 40,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Edit-distance-VERIFIED near-dup pairs: MinHash+LSH banding
    generates candidates (the usual slim short-key equi-self-join),
    then each candidate pair is verified with the exact Levenshtein
    distance on the raw strings and only pairs ``<= max_dist`` survive
    — the character-level complement to Jaccard/cosine verification
    (catches small in-place edits that token-set measures over-score,
    and rejects token-permutations that they under-score).

    Levenshtein is a JVM builtin on both engines (integer-exact, so
    the oracle checks every distance).  The verify uses Spark's
    BOUNDED variant ``levenshtein(a, b, threshold)`` — O(len·max_dist)
    with an early exit instead of the O(len_a·len_b) full matrix —
    returning -1 for over-threshold pairs, which the filter drops;
    kept pairs carry the exact distance, so the oracle (full-matrix +
    <= filter, DuckDB has no threshold arg) keeps row-and-value
    parity.  Measured 29.5 -> 22.7 s warm at 61.7 k docs: the modest
    gain is honest — on a planted-dup corpus most candidates ARE
    near-dups, which pay the full band regardless; the early exit
    protects the adversarial case (many spurious candidates between
    long unrelated documents).  The banding screen
    (df-capped, see :func:`lsh_candidate_pairs`) bounds the candidate
    count, and the two text copies ride only onto surviving
    candidates, exactly like the cosine verify chain."""
    cand = lsh_candidate_pairs(
        with_minhash(with_shingles(df, text_col), num_hashes=num_hashes),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    a = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "edit_distance",
            F.levenshtein("_ta", "_tb", threshold=int(max_dist)),
        )
        .where(
            (F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_dist)
        )
        .select("doc_a", "doc_b", "edit_distance")
    )


def component_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 77,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: near-duplicate documents
    must land in the SAME split (Lee et al. 2021 measure test-set
    contamination from exactly this — a near-copy of a test doc in
    train), so the split hash is keyed on the doc's dedup COMPONENT
    representative instead of its own id.  Documents with no near-dup
    stay their own singleton component, so the assignment reduces to
    the plain keyed stamp (`o21`) on a dup-free corpus.

    Shape: the banded-LSH pair graph (a short-key shuffle) ->
    :func:`connected_components` (labelled on the driver up to
    ``DRIVER_COMPONENTS_MAX_EDGES`` pairs), a left join of the
    (tiny, dup-docs-only) component map onto the corpus, then the same
    engine-portable ``mix(key) % 1000`` 90/5/5 stamp as o21 — the
    oracle checks the EXACT assignment.  At 100 TB the component map is
    dup-rows-sized and broadcasts; the corpus itself never shuffles."""
    from scdataset_spark.plans.seeds import mix_sql

    edges = lsh_candidate_pairs(
        with_minhash(with_shingles(df, text_col), num_hashes=num_hashes),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    comp = connected_components(edges).select(
        F.col("id").alias(id_col), "component"
    )
    key = F.coalesce(F.col("component"), F.col(id_col))
    bucket = F.expr(mix_sql("_skey", seed, "spark")) % 1000
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .withColumn("_skey", key)
        .select(
            id_col,
            F.col("_skey").alias("split_key"),
            F.when(bucket < 900, F.lit("train"))
            .when(bucket < 950, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


def cross_split_contamination(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 77,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Cross-split contamination REPORT: how many near-dup pairs (and
    distinct documents) straddle a train/val/test boundary under the
    plain per-document keyed split — the leakage
    :func:`component_split` exists to prevent, quantified so a
    pipeline can decide whether re-splitting is worth a re-shuffle of
    downstream artifacts.  Pairs come from the same banded-LSH
    candidate graph as the dedup pass; each side is stamped with the
    o21 ``mix(id) % 1000`` 90/5/5 split and pairs whose sides DISAGREE
    aggregate into one tiny (split_lo, split_hi, n_pairs, n_docs_lo,
    n_docs_hi) frame (splits ordered alphabetically per pair so the
    report is orientation-free).

    Scale shape: the split stamp is a projection folded into the pair
    frame (no extra scan — the mix hash derives from the ids the pairs
    already carry); the aggregate output is at most 3 rows.  All
    counts are integers, so the oracle checks them exactly."""
    from scdataset_spark.plans.seeds import mix_sql

    pairs = lsh_candidate_pairs(
        with_minhash(with_shingles(df, text_col), num_hashes=num_hashes),
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
    )

    def stamp(col: str) -> F.Column:
        bucket = F.expr(mix_sql(col, seed, "spark")) % 1000
        return (
            F.when(bucket < 900, F.lit("train"))
            .when(bucket < 950, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    stamped = pairs.select(
        "doc_a",
        "doc_b",
        stamp("doc_a").alias("_sa"),
        stamp("doc_b").alias("_sb"),
    ).where(F.col("_sa") != F.col("_sb"))
    lo_first = F.col("_sa") < F.col("_sb")
    norm = stamped.select(
        F.when(lo_first, F.col("_sa")).otherwise(F.col("_sb")).alias("split_lo"),
        F.when(lo_first, F.col("_sb")).otherwise(F.col("_sa")).alias("split_hi"),
        F.when(lo_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("_dlo"),
        F.when(lo_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("_dhi"),
    )
    return norm.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("_dlo").cast("bigint").alias("n_docs_lo"),
        F.countDistinct("_dhi").cast("bigint").alias("n_docs_hi"),
    )
