"""Similarity search over embedding columns (SURVEY.md §2.14).

- brute-force cosine top-k: exact baseline.  The query set is small and
  broadcast; the candidate side streams — one pass over the table, a
  per-query top-k via window.  At 100 TB candidates this is the
  always-correct fallback and the verifier for approximate paths.
- random-hyperplane LSH (SimHash for vectors): ±1 hyperplanes derived
  from the portable mix() hash, bucket = sign-bit signature.  Probing a
  bucket turns ANN into an equi-join on the bucket id — the scale path
  (candidates per query shrink by ~2^planes).

Dot products use ``aggregate(zip_with(...))`` — sequential left fold,
deterministic order, so the oracle (which folds in the same order)
gets bit-identical doubles before the defensive round().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from scdataset_spark.operators._cache import persist_bounded
from scdataset_spark.plans.seeds import mix_sql
from scdataset_spark.session import input_probe, python_stage_partitions

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def cosine_expr(a: str, b: str, digits: int = 4) -> F.Column:
    dot = DOT.format(a=a, b=b)
    na = NORM.format(a=a)
    nb = NORM.format(a=b)
    return F.expr(f"round(({dot}) / (({na}) * ({nb})), {digits})")


def norm_col(vec: str) -> F.Column:
    """``|v|`` as a column — precompute ONCE PER VECTOR before a pair
    join so each pair pays one dot instead of three HOF aggregates
    (measured on a 127 M-pair within-cell verify at 240 k vectors:
    250 s → 88 s).  Bit-exact vs inline recomputation: same expression,
    same left-fold order, so ``cosine_norm_expr`` below rounds the
    identical double and oracle parity is unaffected."""
    return F.expr(NORM.format(a=vec))


def cosine_norm_expr(a: str, b: str, na: str, nb: str, digits: int = 4) -> F.Column:
    """Cosine from precomputed norms — pairs with :func:`norm_col`."""
    dot = DOT.format(a=a, b=b)
    return F.expr(f"round(({dot}) / (({na}) * ({nb})), {digits})")


# Candidate-side INPUT BYTES above which brute_force_topk defaults to
# the salted two-phase top-k.  The per-group window volume that makes
# the single-window shape a hot-group hazard is ~the whole corpus per
# query; the measured wall is ~2.4 M 64-dim vectors (~600 MB of
# parquet, r8 audit), while at bench scales the two-phase's two extra
# exchanges cost 30-40 % of the whole query (r16 interleaved A/B:
# 0.696->0.423 s at sf0.1, 0.462->0.322 s at sf1, identical rows).
# 64 MB (~100k vectors, the AUTO_SCALE_ROWS contract expressed in
# bytes so the gate stays LAZY — a file-size probe, never a count job)
# flips to the scale shape ~10x before the measured wall.
TWO_PHASE_MIN_BYTES = 64 << 20


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the
    candidate stream; rank by rounded cosine with id tiebreak so the
    top-k frontier is engine-deterministic.

    Large corpora rank through the salted exact top-k
    (:func:`~scdataset_spark.operators.skew.per_group_top_k`): a plain
    ``row_number() OVER (PARTITION BY q_id)`` funnels each query's
    ENTIRE scored candidate list — the whole corpus — through one
    reducer, so at 2.4 M+ vectors every query is a hot group by
    construction.  The salted form keeps per-reducer volume at
    ~n/salts and re-ranks only ``salts·k`` survivors per query; the
    result is identical (exact top-k is closed under per-salt top-k
    union).  Small corpora keep the single-window shape.  The choice
    reads the candidate frame's input bytes (``session.input_probe``
    against ``TWO_PHASE_MIN_BYTES``) — lazy, physical-only, and safe:
    unknown bytes take the two-phase scale shape.
    """
    nbytes = input_probe(candidates)[1]
    two_phase = nbytes is None or nbytes >= TWO_PHASE_MIN_BYTES
    q = queries.select(
        F.col(query_id), F.col(vec).alias("_qv"), norm_col(vec).alias("_qn")
    )
    c = candidates.select(
        F.col(cand_id), F.col(vec).alias("_cv"), norm_col(vec).alias("_cn")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("cosine", cosine_norm_expr("_qv", "_cv", "_qn", "_cn"))
    )
    if two_phase:
        from scdataset_spark.operators.skew import per_group_top_k

        return per_group_top_k(
            scored,
            [query_id],
            [-F.col("cosine"), F.col(cand_id)],
            k,
            rank_col="rank",
        ).select(query_id, cand_id, "cosine", "rank")
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cosine", "rank")
    )


def hyperplane_bucket_expr(vec: str, planes: int = 6, dim: int = 64, seed: int = 7) -> F.Column:
    """LSH bucket id: plane p weight for dim d is ±1 from
    mix(p*dim + d, seed) parity; bucket bit p = [dot(w_p, v) > 0].
    All arithmetic is the portable mixer → same buckets in DuckDB."""
    bits = []
    for p in range(planes):
        prods = (
            f"zip_with({vec}, transform(sequence(0, {dim - 1}), "
            f"d -> 2 * (({mix_sql(f'{p} * {dim} + d', seed, 'spark')}) % 2) - 1), "
            f"(x, w) -> CAST(x AS DOUBLE) * w)"
        )
        dot = f"aggregate({prods}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(bits) + " AS BIGINT)")


# Weight contract shared with the DuckDB oracle (_duck_banded_sig in
# queries/llm.py): plane p of band b has global index
# g = b*rows_per_band + p, and its ±1 weight for dimension d is the
# parity of mix(g*dim + d, seed).  lsh_banded_pairs below materializes
# exactly this matrix driver-side with mix_py (bit-identical to the SQL
# mixer); the oracle rederives it with mix_sql.


def lsh_bands_for_recall(
    rows_per_band: int, min_cosine: float = 0.98, target_recall: float = 0.999
) -> int:
    """Band count needed so a pair at ``min_cosine`` is recalled w.p.
    ``target_recall`` under random-hyperplane banding: per-bit agreement
    p = 1-θ/π, per-band p^rows, so bands = ⌈ln(1-recall)/ln(1-p^rows)⌉.
    Band WIDTH is fixed by saturation (corpus size); band COUNT is then
    the recall lever — widening bands without re-sizing the count
    silently cuts recall (measured: 16→24-bit bands at 8 bands dropped
    recall at cosine 0.98 from ~0.97 to ~0.84)."""
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall!r} "
            "(recall 1.0 is unreachable under probabilistic banding — "
            "use the exact verify path instead)"
        )
    if not -1.0 <= min_cosine <= 1.0:
        raise ValueError(f"min_cosine must be in [-1, 1], got {min_cosine!r}")
    p = 1.0 - math.acos(min_cosine) / math.pi
    p_band = p**rows_per_band
    if p_band >= 1.0:
        return 1
    bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
    if bands > 4096:
        # p_band this small means the band width is mis-sized for the
        # target threshold (bands*rows hash cost would dwarf the scan)
        raise ValueError(
            f"derived band count {bands} > 4096: rows_per_band={rows_per_band} "
            f"is too wide for min_cosine={min_cosine} at recall {target_recall}; "
            "narrow the bands or lower the recall target"
        )
    return bands


def lsh_banded_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    bands: int | None = None,
    rows_per_band: int = 24,
    dim: int = 64,
    seed: int = 7,
    min_cosine: float = 0.98,
    target_recall: float = 0.999,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by banded hyperplane LSH — the vector
    analogue of MinHash banding (``operators/dedup.py``): two vectors are
    candidates iff they share the full sign-signature of ANY band.

    CANDIDATE VOLUME IS DATA-DEPENDENT, not just a function of band
    width: the uniform-hash estimate (~bands·n²/2^rows) only covers
    near-orthogonal pairs, but a pair at cosine c collides per band
    w.p. (1-acos(c)/π)^rows — a CONSTANT — so any clustered mass at
    moderate cosine (e.g. label clusters) contributes ~p_c·n_cluster²
    candidates, quadratic in cluster size at ANY width (measured on the
    label-clustered audit fixture: 2.9 M candidates from 240 k vectors
    where the uniform estimate says ~14 k).  ``max_bucket`` drops band
    buckets holding more vectors than the cap before the self-join —
    the same backstop as ``simhash_hamming_pairs``: a bucket that hot
    means the band carries no discriminative signal there; recall loss
    is bounded to pairs whose ONLY agreeing band was capped.  Default
    ``None`` keeps candidate generation exact (the oracle-checked
    queries rely on that); set it (or pre-partition by an IVF cell and
    verify within cells — ``semantic_dedup``) for clustered corpora at
    scale.

    Amplification math: a pair at angle θ agrees per bit w.p. 1-θ/π, per
    band w.p. (1-θ/π)^rows, overall 1-(1-(1-θ/π)^rows)^bands.  ``bands``
    defaults to ``lsh_bands_for_recall(rows_per_band, min_cosine,
    target_recall)`` — 30 bands at the (24-row, 0.98, 0.999) defaults —
    so the recall contract survives band-width changes; pass ``bands``
    explicitly to pin a physical shape (the oracle-checked queries do,
    with the amplification consequences documented there).  A random
    pair (cos≈0) collides w.p. ~bands·2^-rows.  The join is an
    equi-join on (band_id, sig): shuffle-partitionable, no cross
    product ever materializes.

    SIZING: band width (``rows_per_band``) must grow with corpus size —
    the band value space is 2^rows and candidate volume grows
    ~n²·bands/2^rows once buckets saturate.  The old 16-bit default
    held ~94 vectors per bucket at the sf100 audit's 6 M vectors and
    OOM'd the candidate join; 24 bits is unsaturated to ~10^7-10^8.
    Rule: ``rows_per_band ≳ log2(n_vectors) + 2``; beyond ~10^8 add
    bits or pre-partition by a coarse quantizer (IVF cell) first.
    Width and count trade off: each +1 row multiplies signature work by
    ~(bands·rows+rows)/(bands·rows) but REQUIRES more bands for the same
    recall, so total plane count grows ~exp(rows·ln(1/p)) — pay width
    only when the corpus demands it.

    All bands are emitted in ONE projection + explode (per the dedup
    banding note: union-per-band would recompute the lineage ``bands``
    times), and the tiny banded frame is persisted across the self-join
    through a bounded cache registry.

    The ±1 plane weights are seed-constants, so they are materialized
    ONCE driver-side with ``mix_py`` (bit-identical to the SQL mixer —
    the oracle still rederives them with ``mix_sql``) and embedded as a
    constant-folded literal matrix.  The original in-expression
    signature form rederived all ``bands*rows*dim`` mixer values inside the
    per-row expression; the unrolled tree also blew past whole-stage
    codegen limits into interpreted evaluation — measured ~7 ms/row
    (17 s for 2.4k vectors at sf0.1) vs ~0.1 ms/row for this form,
    identical signatures.
    """
    from scdataset_spark.plans.seeds import mix_py

    if bands is None:
        bands = lsh_bands_for_recall(rows_per_band, min_cosine, target_recall)
    weights = [
        [float(2 * (mix_py(g * dim + d, seed) % 2) - 1) for d in range(dim)]
        for g in range(bands * rows_per_band)
    ]
    sig = (
        f"aggregate(sequence(0, {rows_per_band - 1}), 0L, (acc, p) -> acc + "
        f"CASE WHEN aggregate(zip_with({vec}, element_at(_W, {{base}} + p + 1), "
        "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), (a, v) -> a + v) > 0 "
        "THEN shiftleft(1L, p) ELSE 0L END)"
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(sig.format(base=b * rows_per_band)).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    banded = (
        df.withColumn("_W", F.lit(weights))
        .select(F.col(id_col), F.explode(band_structs).alias("_b"))
        .select(id_col, F.col("_b.band_id").alias("band_id"), F.col("_b.sig").alias("sig"))
    )
    banded = persist_bounded(banded)
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_id", "sig")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket)
            .select("band_id", "sig")
        )
        banded = banded.join(ok, ["band_id", "sig"], "left_semi")
    a = banded.alias("a")
    b2 = banded.alias("b")
    return (
        a.join(b2, ["band_id", "sig"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _streamed_bucket_gram(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    id_sql_type: str,
    threshold: float,
    digits: int,
    block: int,
) -> DataFrame:
    """Shared bucket-LOCAL pair verification: ``rows`` carries
    (*key_cols, id, float32 vector); rows are hash-partitioned on the
    key and sorted by (key, id), and each (key) bucket verifies its own
    pairs with a strip-blocked float64 Gram — only pairs ≥ ``threshold``
    ever leave a bucket, so shuffle volume is one vector copy per row,
    never candidate-proportional.

    MANY tiny buckets per Arrow batch is the expected regime (measured
    at sf10e: 327 k collision buckets of ~3.5 rows; per-GROUP pandas
    DataFrame construction in ``groupBy().applyInPandas()`` cost ~40 s
    at that scale): bucket boundaries are change-flag slices inside
    each batch and the (possibly batch-straddling) tail bucket carries
    into the next batch, so per-bucket overhead is O(1) numpy slicing.
    Used by both :func:`embed_cosine_pairs_fast` (key = (band_id, sig))
    and the projected-bucket local verify (key = bucket)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    id_np = "int64" if id_sql_type in ("bigint", "int", "smallint", "tinyint") else "object"
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
        {"id_a": id_np, "id_b": id_np, "cos": "float64"}
    )

    def _starts(chunk):
        # bucket boundaries via change flags OR-ed across the key
        # columns (needs only grouped-contiguous rows, which
        # sortWithinPartitions guarantees)
        flags = None
        for kc in key_cols:
            a = chunk[kc].to_numpy()
            f = a[1:] != a[:-1]
            flags = f if flags is None else (flags | f)
        return np.flatnonzero(flags) + 1

    def _group_pairs(ids, V):
        # one collision bucket, rows already id-sorted
        n = len(ids)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        out_a, out_b, out_c = [], [], []
        for j0 in range(0, n, block):
            j1 = min(j0 + block, n)
            G = np.round(Vn @ Vn[j0:j1].T, digits)
            ii, jj = np.nonzero(G >= thr)
            keep = ii < (jj + j0)  # strict upper triangle in global index
            out_a.append(ids[ii[keep]])
            out_b.append(ids[jj[keep] + j0])
            out_c.append(G[ii[keep], jj[keep]])
        return out_a, out_b, out_c

    def _emit(chunk):
        ids_all = chunk[id_col].to_numpy()
        V_all = np.stack(chunk["_v32"].to_numpy()).astype(np.float64)
        bounds = np.concatenate([[0], _starts(chunk), [len(chunk)]])
        out_a, out_b, out_c = [], [], []
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s < 2:
                continue
            a, b, cc = _group_pairs(ids_all[s:e], V_all[s:e])
            out_a += a
            out_b += b
            out_c += cc
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    def _stream(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            starts = _starts(pdf)
            # hold back the trailing bucket — it may continue in the
            # next Arrow batch of this partition
            tail_start = int(starts[-1]) if len(starts) else 0
            if tail_start > 0:
                chunk, carry = pdf.iloc[:tail_start], pdf.iloc[tail_start:]
            else:
                chunk, carry = None, pdf
            if chunk is None or not len(chunk):
                continue
            yield _emit(chunk)
        if carry is not None and len(carry):
            yield _emit(carry)

    # explicit partition COUNT on the bucket-key repartition (r16, the
    # r15 t_hook fix applied here): AQE's byte-based coalescing would
    # collapse the small (id, key, float32-vec) rows to a handful of
    # post-shuffle partitions, and this stage's cost is per-bucket
    # Python/Gram work, not bytes — a user-specified count is exempt
    return (
        rows.repartition(python_stage_partitions(rows), *[F.col(k) for k in key_cols])
        .sortWithinPartitions(*key_cols, id_col)
        .mapInPandas(
            _stream, f"id_a {id_sql_type}, id_b {id_sql_type}, cos double"
        )
    )


def embed_cosine_pairs_fast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.98,
    bands: int | None = None,
    rows_per_band: int = 24,
    dim: int = 64,
    seed: int = 7,
    target_recall: float = 0.999,
    max_bucket: int | None = 20_000,
    digits: int = 4,
    block: int = 2048,
    vectorized_signatures: bool = True,
) -> DataFrame:
    """LSH-banded near-dup pairs with BUCKET-LOCAL verification — the
    scale twin of the exact candidate-join + cosine-verify chain
    (``dd_embed_cosine``'s shape).

    The exact chain shuffles |candidates| pair rows and then joins the
    full vector onto BOTH sides — 2·|candidates| vector copies.  On a
    clustered corpus candidates grow ~p_c·n_cluster² (see
    :func:`lsh_banded_pairs`), so at the sf100e audit (2.4 M vectors,
    ~285 M candidates) that join wants ~300 GB of shuffle — more
    scratch than a node has.  Here only SIGNATURES ride the banding
    shuffle (n·bands 20-byte rows); a count aggregate screens out
    singleton / over-``max_bucket`` buckets, ONE float32 vector copy
    joins onto the surviving (colliding) rows, and each (band, sig)
    bucket verifies its own pairs with a strip-blocked numpy Gram;
    only pairs ≥ threshold ever leave a bucket.  Cross-bucket
    duplicates collapse with one groupBy on the (tiny) surviving
    pairs.  Shuffle volume is therefore bounded by corpus size — never
    candidate count — at every stage.

    The verify stage is ``repartition(band_id, sig) +
    sortWithinPartitions + mapInPandas`` rather than
    ``groupBy().applyInPandas``: collision buckets are TINY and MANY
    (sf10e: 327 k buckets of ~3.5 rows, Σ|bucket|² = 7.9 M — trivial
    Gram flops), and per-GROUP pandas DataFrame construction cost
    ~40 s at that scale; the streamed variant walks bucket boundaries
    inside each Arrow batch with change-flag indices and carries the
    (possibly batch-straddling) tail bucket into the next batch, so
    per-bucket overhead is O(1) numpy slicing.

    float32 transport + BLAS summation make this deterministic but not
    bit-parity with the HOF-expression oracle — same contract as
    :func:`semantic_dedup_fast`: the exact path carries the oracle;
    ``tests/test_similarity_extra`` pins fast == exact on the planted
    corpus (cosines far from the threshold boundary).  ``max_bucket``
    skips saturated buckets (no discriminative signal) like
    ``simhash_hamming_pairs``.

    ``vectorized_signatures`` (default on) computes the sign-bit
    signatures as one ``X @ W.T`` per Arrow batch instead of the
    Catalyst HOF fold — the fold evaluates bands·rows interpreted
    64-dim dot products PER ROW and dominated the sf100e audit (621 s
    cold ≈ 636 s warm: pure compute, no shuffle/cache effect).  A sign
    bit can only differ from the fold's where a projection sits within
    summation-order ulps of 0 (measure-zero on real embeddings, and a
    flip merely perturbs CANDIDATE generation — verification decides
    membership); the fold path is retained for bit-parity contexts.
    """
    import numpy as np
    import pandas as pd

    from scdataset_spark.plans.seeds import mix_py

    # id transport type follows the input schema (string doc ids work
    # the same as bigints: numpy object arrays repeat/concatenate fine)
    id_sql_type = df.schema[id_col].dataType.simpleString()
    if bands is None:
        bands = lsh_bands_for_recall(rows_per_band, threshold, target_recall)
    weights = [
        [float(2 * (mix_py(g * dim + d, seed) % 2) - 1) for d in range(dim)]
        for g in range(bands * rows_per_band)
    ]
    if vectorized_signatures:
        W = np.asarray(weights, dtype=np.float64)  # (bands*rows, dim)
        n_bands, n_rows = int(bands), int(rows_per_band)

        def _band(batches):
            # SIG-ONLY rows: the vector does NOT ride the banding
            # explode — 8x fewer Arrow bytes through the first shuffle;
            # vectors join on AFTER the collision screen, onto the
            # (typically small) surviving-row set only.
            Wt = W.T
            pows = 1 << np.arange(n_rows, dtype=np.int64)
            bids = np.arange(n_bands, dtype=np.int32)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                bits = (X @ Wt) > 0
                sigs = bits.reshape(len(X), n_bands, n_rows).astype(np.int64) @ pows
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                        "band_id": np.tile(bids, len(X)),
                        "sig": sigs.reshape(-1),
                    }
                )

        sigs_df = df.select(F.col(id_col), F.col(vec).alias("_v")).mapInPandas(
            _band, f"{id_col} {id_sql_type}, band_id int, sig bigint"
        )
        counts = sigs_df.groupBy("band_id", "sig").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        ok = counts.where(F.col("_bn") >= 2)
        if max_bucket is not None:
            ok = ok.where(F.col("_bn") <= max_bucket)
        surviving = sigs_df.join(
            ok.select("band_id", "sig"), ["band_id", "sig"], "left_semi"
        )
        banded = surviving.join(
            df.select(
                F.col(id_col), F.col(vec).cast("array<float>").alias("_v32")
            ),
            id_col,
        )
    else:
        sig = (
            f"aggregate(sequence(0, {rows_per_band - 1}), 0L, (acc, p) -> acc + "
            f"CASE WHEN aggregate(zip_with({vec}, element_at(_W, {{base}} + p + 1), "
            "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), (a, v) -> a + v) > 0 "
            "THEN shiftleft(1L, p) ELSE 0L END)"
        )
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.expr(sig.format(base=b * rows_per_band)).alias("sig"),
                )
                for b in range(bands)
            ]
        )
        banded = (
            df.withColumn("_W", F.lit(weights))
            .select(
                F.col(id_col),
                F.col(vec).cast("array<float>").alias("_v32"),
                F.explode(band_structs).alias("_b"),
            )
            .select(
                id_col,
                F.col("_b.band_id").alias("band_id"),
                F.col("_b.sig").alias("sig"),
                "_v32",
            )
        )
        # Drop SINGLETON buckets before the grouped verify: a
        # one-member (band, sig) bucket cannot produce a pair, and on
        # a 24-bit band space most buckets are singletons — without
        # this the grouped Pandas stage pays per-group DataFrame
        # overhead for ~n·bands groups (measured at sf10e: 186 s with
        # singletons → 51 s with the filter; the signature arithmetic
        # itself was ruled out by a BLAS-vs-HOF A/B at equal cost).
        # The count aggregate doubles as the max_bucket screen.
        counts = banded.groupBy("band_id", "sig").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        ok = counts.where(F.col("_bn") >= 2)
        if max_bucket is not None:
            ok = ok.where(F.col("_bn") <= max_bucket)
        banded = banded.join(
            ok.select("band_id", "sig"), ["band_id", "sig"], "left_semi"
        )
    pairs = _streamed_bucket_gram(
        banded.select(id_col, "band_id", "sig", "_v32"),
        ["band_id", "sig"],
        id_col,
        id_sql_type,
        threshold,
        digits,
        block,
    )
    # a pair colliding in SEVERAL bands appears once per band — collapse
    return pairs.groupBy("id_a", "id_b").agg(F.first("cos").alias("cos"))


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_clusters: int | None = None,
    n_probe: int = 2,
    seed: int = 7,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-style ANN: KMeans-partition the candidates into coarse cells,
    probe the ``n_probe`` nearest cells per query, exact cosine re-rank
    inside the probed cells.

    The scale shape: candidates are assigned once (one KMeans fit on a
    sample + one transform pass) and can be *stored bucketed by cell*;
    a query then touches ~n_probe/n_clusters of the data.  Centroids
    are tiny and broadcast.  (KMeans is seeded but engine-specific, so
    this operator is verified by recall-vs-brute-force tests rather
    than a SQL oracle — the oracle-checked ANN path is the LSH one.)

    ``n_clusters=None`` (the default) auto-resolves to
    ``max(8, n // IVF_CELL_BUDGET)`` under the ``AUTO_SCALE_ROWS``
    contract — pass ``n_rows`` to skip the one count, or an explicit
    ``n_clusters`` to pin the index shape."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    n_clusters, n_rows = _resolve_ivf_cells(n_clusters, candidates, n_rows)
    c_vec = candidates.withColumn("_v", array_to_vector(F.col(vec)))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_v", predictionCol="_cell")
    model = km.fit(c_vec)
    c_assigned = model.transform(c_vec).select(
        F.col(cand_id), F.col(vec).alias("_cv"), "_cell"
    )
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark = candidates.sparkSession
    cent_df = spark.createDataFrame(centroids, "cell int, centroid array<double>")
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn(
            "_dist",
            F.expr(
                "aggregate(zip_with(_qv, centroid, (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
                "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
            ),
        )
        .withColumn(
            "_rk", F.row_number().over(Window.partitionBy(query_id).orderBy("_dist", "cell"))
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    scored = (
        c_assigned.join(F.broadcast(q_cells), "_cell")
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("cosine", cosine_expr("_qv", "_cv"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cosine", "rank")
    )


_DIST_SQL = (
    "round(aggregate(zip_with({a}, {b}, (x, c) -> "
    "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
)


def seeded_centroids(
    candidates: DataFrame,
    n_clusters: int,
    seed: int,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ENGINE-PORTABLE coarse centroids: the ``n_clusters`` candidates
    with the smallest ``mix(id, seed)`` keys ARE the centroids (the
    classic "seed with data points" init, minus the Lloyd iterations),
    so a SQL oracle can replay the index build.  Centroid pick is a
    top-k (TakeOrderedAndProject) — never a full sort.  Returns
    ``(cell, centroid)``, ``n_clusters`` rows — broadcast everywhere."""
    base = (
        candidates.select(F.col(id_col).alias("_src"), F.col(vec).alias("centroid"))
        .withColumn("_mk", F.expr(mix_sql("_src", seed, "spark")))
        .orderBy("_mk", "_src")
        .limit(n_clusters)
    )
    return base.withColumn(
        "cell", F.row_number().over(Window.orderBy("_mk", "_src")) - 1
    ).select("cell", "centroid")


def assign_nearest_cell(
    df: DataFrame, cent: DataFrame, id_col: str, vec_alias: str
) -> DataFrame:
    """Assign each row its nearest centroid cell: argmin of squared
    distance, rounded to 6 digits with cell-id tiebreak so the argmin
    is engine-deterministic.

    ZERO-SHUFFLE on the big side: the centroid frame is collapsed to a
    ONE-ROW array (collect_list of (cell, centroid) structs), broadcast,
    and the argmin folds over that array inside each row with HOFs —
    one distance evaluation per centroid, no row multiplication.  The
    previous crossJoin + per-id window form materialized n·cells rows
    and shuffled them all (including the vector payload) just to pick
    one per id — fine at the 8-cell oracle scale, catastrophic at the
    n/500-cell audit scale (240 k vectors × 480 cells = 115 M wide rows
    through an exchange).  ``df`` must carry ``(id_col, vec_alias)``;
    returns the same plus ``_cell``."""
    cent_arr = cent.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("_cents")
    )
    dist = _DIST_SQL.format(a=vec_alias, b="c.centroid")
    pick = (
        f"aggregate(transform(_cents, c -> named_struct("
        f"'d', {dist}, 'cell', c.cell)), "
        "named_struct('d', CAST('Infinity' AS DOUBLE), 'cell', -1), "
        "(acc, s) -> IF(s.d < acc.d OR (s.d = acc.d AND s.cell < acc.cell), s, acc)"
        ").cell"
    )
    return (
        df.crossJoin(F.broadcast(cent_arr))
        .withColumn("_cell", F.expr(pick))
        .select(id_col, vec_alias, "_cell")
    )


def assign_nearest_cell_blas(
    df: DataFrame, cent: DataFrame, id_col: str, vec_alias: str
) -> DataFrame:
    """BLAS twin of :func:`assign_nearest_cell` (auto past
    ``AUTO_SCALE_ROWS``): the HOF argmin evaluates n_clusters·dim
    multiply-adds PER ROW inside Catalyst — the measured fold wall past
    a few hundred centroids (k=4800 stuck-in-GC precedent) — so past
    the auto threshold the assignment runs as one ``X @ C.T`` per Arrow
    batch over the once-collected centroid matrix.  Rounded distances
    (6 digits) + lowest-cell argmin are preserved, so a cell can differ
    from the HOF path only on a 1e-6 rounding-boundary tie.  Same
    contract as the HOF form: ``df`` carries ``(id_col, vec_alias)``,
    returns the same plus ``_cell``."""
    import numpy as np
    import pandas as pd

    cent_rows = sorted(cent.collect(), key=lambda r: r["cell"])
    C = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    cells_np = np.asarray([int(r["cell"]) for r in cent_rows], dtype=np.int64)
    idt = df.schema[id_col].dataType.simpleString()
    cv_type = df.schema[vec_alias].dataType.simpleString()

    c2 = (C * C).sum(axis=1)

    def _assign_blas(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_alias].to_numpy()).astype(np.float64)
            # x²+c²−2xc matmul form: (b, k) scratch, BLAS flops — the
            # (b, k, dim) difference form would allocate ~260 MB per
            # batch at k=512
            d = np.round(
                np.maximum(
                    (X * X).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (X @ C.T),
                    0.0,
                ),
                6,
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_alias: pdf[vec_alias],
                    "_cell": cells_np[d.argmin(axis=1)].astype("int32"),
                }
            )

    return df.mapInPandas(
        _assign_blas, f"{id_col} {idt}, {vec_alias} {cv_type}, _cell int"
    )


def assign_cells_routed(
    df: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_alias: str,
    coarse_route_k: int = 512,
    out_col: str = "cell",
) -> DataFrame:
    """Two-level EXACT BLAS cell assignment — semantic_dedup_fast's
    bound-pruned routed search (r8/r10), extracted so the IVF index
    builds share it.  At or below ``coarse_route_k`` centroids it is
    the plain flat ``X @ C.T`` argmin (unrounded, lowest-index ties);
    past it, ~sqrt(k) coarse probes + triangle-inequality pruning cut
    the expected flops to O(n·sqrt(k)).  This is the build-side scale
    fix: with the cell-budget rule k ~ n/4500 the FLAT assignment is
    O(n²) per corpus decade (measured r11: 15×/decade one-time
    IVF-PQ build at 24 M vectors — 2.4 Tflop-scale X@C.T), while the
    routed search restores ~O(n^1.5) and returns the flat argmin
    EXACTLY up to BLAS summation ulps (the routing_agreement audit
    probe measures 100% agreement).  Vs the 6-digit-rounded
    :func:`assign_nearest_cell_blas`/HOF pair it can differ only on a
    1e-6 rounding-boundary tie — the same caveat class as BLAS-vs-HOF.

    ``df`` must carry ``(id_col, vec_alias)``; returns the same plus
    ``out_col`` (int cell id)."""
    import numpy as np
    import pandas as pd

    cent_rows = cent.collect()
    C = np.array(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["cell"])],
        dtype=np.float64,
    )
    cell_ids = np.array(
        [int(r["cell"]) for r in sorted(cent_rows, key=lambda r: r["cell"])],
        dtype=np.int64,
    )
    idt = df.schema[id_col].dataType.simpleString()
    cvt = df.schema[vec_alias].dataType.simpleString()
    k = len(cell_ids)
    two_level = k > coarse_route_k

    def _assign(batches):
        c2 = (C * C).sum(axis=1)
        if two_level:
            # Flat argmin is O(n·k) flops AND an n×k distance matrix per
            # batch; with the budget rule k ~ n/c that is QUADRATIC in n
            # (measured: 36x time for 10x vectors at the sf100e audit).
            # Two-level EXACT search instead: group the k centroids
            # under ~sqrt(k) coarse probes (a few driver-side Lloyd
            # rounds on the centroids, g×k distances), then per row
            # visit probe groups in nearest-probe order and PRUNE with
            # the triangle inequality — a group whose probe satisfies
            # d(row, probe) - radius(group) >= best-so-far cannot hold a
            # nearer centroid (radius = max member-to-probe distance).
            # Expected O(n·sqrt(k)) flops on clustered data, and the
            # result is the flat argmin EXACTLY (up to BLAS summation
            # ulps), not an approximation — the r7 advisor found the
            # earlier top-p heuristic misassigned ~19% of rows at cell
            # boundaries (k=40 planted corpus); the bound-based search
            # agrees 100% there (tests/test_span_semantic_dedup.py).
            g = int(np.ceil(np.sqrt(k)))
            sel = np.linspace(0, k - 1, g).astype(np.int64)
            S = C[sel]
            for _ in range(5):
                s2 = (S * S).sum(axis=1)
                cmem = (c2[:, None] + s2[None, :] - 2.0 * (C @ S.T)).argmin(axis=1)
                for s in range(g):
                    m = cmem == s
                    if m.any():
                        S[s] = C[m].mean(axis=0)
            # groups/radii must come from the FINAL Lloyd-updated S
            # (routing uses post-update S; stale pre-update membership
            # breaks the radius bound's correctness contract)
            s2 = (S * S).sum(axis=1)
            D2 = c2[:, None] + s2[None, :] - 2.0 * (C @ S.T)
            cmem = D2.argmin(axis=1)
            groups = [np.where(cmem == s)[0] for s in range(g)]
            radius = np.zeros(g)
            for s in range(g):
                if len(groups[s]):
                    radius[s] = np.sqrt(np.maximum(D2[groups[s], s], 0.0).max())
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_alias].to_numpy()).astype(np.float64)
            x2 = (X * X).sum(axis=1, keepdims=True)
            if not two_level:
                d2 = x2 + c2[None, :] - 2.0 * (X @ C.T)
                idx = d2.argmin(axis=1)  # first min -> lowest cell on ties
            else:
                droute = np.sqrt(
                    np.maximum(x2 + s2[None, :] - 2.0 * (X @ S.T), 0.0)
                )
                # visit groups in increasing LOWER-BOUND order (not
                # nearest-probe order: lb = d(row,probe) - radius is not
                # monotone in probe distance, so probe order would let a
                # row early-exit past a fat group it still needs) — in
                # lb order, the first group with lb >= best-so-far
                # proves all remaining groups can't improve.
                LB = droute - radius[None, :]
                order = np.argsort(LB, kind="stable", axis=1)
                best_d = np.full(len(X), np.inf)
                idx = np.zeros(len(X), dtype=np.int64)
                alive = np.arange(len(X))
                for col in range(g):
                    route = order[alive, col]
                    lb = LB[alive, route]
                    # <= not <: a group whose lower bound EQUALS the
                    # best distance can still hold an equidistant
                    # centroid with a lower index (exact duplicates →
                    # coincident centroids), and the flat argmin's tie
                    # rule is lowest-index-wins — prune only strictly
                    # worse groups so ties resolve identically.
                    keep = lb <= best_d[alive]
                    alive = alive[keep]
                    if not len(alive):
                        break
                    route = route[keep]
                    for s in np.unique(route):
                        rows = alive[route == s]
                        mem = groups[s]
                        if len(mem) == 0:
                            continue  # empty group holds no centroid
                        sub = (
                            x2[rows]
                            + c2[mem][None, :]
                            - 2.0 * (X[rows] @ C[mem].T)
                        )
                        j = sub.argmin(axis=1)
                        d = np.sqrt(
                            np.maximum(sub[np.arange(len(rows)), j], 0.0)
                        )
                        cand = mem[j]
                        # match the flat path's argmin tie rule exactly:
                        # on equal distance keep the LOWER centroid index
                        upd = (d < best_d[rows]) | (
                            (d == best_d[rows]) & (cand < idx[rows])
                        )
                        rr = rows[upd]
                        best_d[rr] = d[upd]
                        idx[rr] = cand[upd]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_alias: pdf[vec_alias],
                    out_col: cell_ids[idx].astype("int32"),
                }
            )

    return df.mapInPandas(
        _assign, f"{id_col} {idt}, {vec_alias} {cvt}, {out_col} int"
    )



def ivf_seeded_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    n_clusters: int | None = None,
    n_probe: int = 2,
    seed: int = 11,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF ANN with engine-portable coarse centroids
    (:func:`seeded_centroids`).  Same storage shape as :func:`ivf_topk`:
    every candidate is assigned its nearest cell
    (:func:`assign_nearest_cell`), queries probe the ``n_probe``
    nearest cells, exact cosine re-ranks inside the probed cells —
    one shuffle-free pass to assign, one broadcast join to probe.

    Two auto-resolved scale knobs (the ``AUTO_SCALE_ROWS`` contract;
    the registered oracle query pins both, staying lazy + value-exact):
    ``n_clusters=None`` resolves ``max(8, n // IVF_CELL_BUDGET)`` —
    probed-list size per query stays ~n_probe·4500 across corpus
    decades instead of growing linearly with n — and
    ``vectorized_assign=None`` flips the cell assignment to the BLAS
    ``mapInPandas`` twin past ``AUTO_SCALE_ROWS`` (the HOF argmin is
    the fold wall that makes a large cell count unaffordable).  One
    count serves both; pass ``n_rows`` to skip it."""
    dist = _DIST_SQL
    n_clusters, n_rows = _resolve_ivf_cells(n_clusters, candidates, n_rows)
    if vectorized_assign is None:
        n = int(n_rows) if n_rows is not None else candidates.count()
        vectorized_assign = n >= AUTO_SCALE_ROWS
    cent = seeded_centroids(candidates, n_clusters, seed, cand_id, vec)
    c = candidates.select(F.col(cand_id), F.col(vec).alias("_cv"))
    c_assigned = _assign_cells(c, cent, cand_id, "_cv", vectorized_assign, n_clusters)
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_dist", F.expr(dist.format(a="_qv", b="centroid")))
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy(query_id).orderBy("_dist", "cell")),
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    scored = (
        c_assigned.join(F.broadcast(q_cells), "_cell")
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("cosine", cosine_expr("_qv", "_cv"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, F.col("_cell").alias("cell"), cand_id, "cosine", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.98,
    seed: int = 11,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space coarsely, then mark as duplicates the
    vectors that have a HIGHER-PRIORITY near-twin (cosine ≥
    ``threshold``) in the SAME cell.  Priority is ascending id — a
    vector is dropped iff some smaller-id vector in its cell clears the
    threshold (a deterministic dominance rule, engine-portable, unlike
    the paper's arbitrary-order greedy scan).

    Scale shape: centroids are tiny and broadcast
    (:func:`seeded_centroids` — the portable index build); cell
    assignment is one shuffle-free broadcast-join pass; the pair search
    is an equi-self-join ON THE CELL ID — SemDeDup's defining trick, the
    within-cell quadratic replaces the corpus-wide one.  Cost is
    Σ|cell|², so ``n_clusters`` must scale ~n/c for a target per-cell
    budget c (the paper uses ~100k clusters at web scale); for fat
    cells, pre-filter candidates with :func:`lsh_banded_pairs`
    restricted to a cell before exact verification.

    Output: ``(id, cell, kept)`` for every input row."""
    cent = seeded_centroids(df, n_clusters, seed, id_col, vec)
    a = assign_nearest_cell(
        df.select(F.col(id_col), F.col(vec).alias("_cv")), cent, id_col, "_cv"
    ).withColumn("_n", norm_col("_cv"))
    a = persist_bounded(a)
    x = a.alias("x")
    y = a.alias("y")
    dropped = (
        x.join(y, "_cell")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .where(cosine_norm_expr("x._cv", "y._cv", "x._n", "y._n") >= threshold)
        .select(F.col(f"y.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return a.join(dropped, id_col, "left").select(
        id_col,
        F.col("_cell").alias("cell"),
        F.col("_dropped").isNull().alias("kept"),
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """ANN: equi-join queries to candidates sharing the LSH bucket, then
    exact cosine re-rank within the bucket.  The bucket join replaces
    the cross product — this is the piece that scales."""
    q = queries.select(
        F.col(query_id), F.col(vec).alias("_qv"),
        hyperplane_bucket_expr(vec, planes, dim, seed).alias("bucket"),
    )
    c = candidates.select(
        F.col(cand_id), F.col(vec).alias("_cv"),
        hyperplane_bucket_expr(vec, planes, dim, seed).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("cosine", cosine_expr("_qv", "_cv"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, "bucket", cand_id, "cosine", "rank")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale ``amax = max(|x|)`` and ``q_i = trunc(x_i / amax * 127)`` in
    ``[-127, 127]`` — the standard memory/IO shrink (4x over float32)
    before ANN index build or embedding shipping.  Truncation toward
    zero (Spark ``CAST AS INT``, DuckDB ``trunc``) is used instead of
    rounding because the two engines disagree on round-half rules but
    agree exactly on truncation of identical IEEE doubles.  Linear
    narrow map — no shuffle, no Python."""
    return (
        df.withColumn(
            "amax",
            F.expr(
                f"greatest(array_max(transform({vec_col}, "
                "x -> abs(CAST(x AS DOUBLE)))), 1e-30d)"
            ),
        )
        .withColumn(
            "qvec",
            F.expr(
                f"transform({vec_col}, "
                "x -> CAST(CAST(x AS DOUBLE) / amax * 127 AS INT))"
            ),
        )
        .select(id_col, "amax", "qvec")
    )


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 5,
) -> DataFrame:
    """Seeded ±1 random projection (Achlioptas 2003): output dimension
    ``j`` is ``Σ_i v_i · sign(mix((i−1)·out_dim + j, seed))`` — the
    in-plan dimensionality reduction before a cheap ANN pass or a
    disk-size shrink, with the projection matrix derived from the
    engine-portable ``mix`` hash so no matrix is stored or shipped.

    Emitted NARROW as ``(id, dim_id, value)`` rather than an array
    column so every element is value-checkable.  Each ±v_i term is
    exact (sign flip of a widened float); terms round to 8 and sum as
    DECIMAL(24,8), making the result independent of summation order —
    the same parity discipline as the unigram-LM scorer.

    Scale shape: a pure per-row projection (dim·out_dim multiply-adds
    inside one whole-stage-codegen expression), no shuffle, no Python;
    the explode multiplies rows by ``out_dim`` but each output row is
    16 bytes of payload."""
    from scdataset_spark.plans.seeds import mix_sql

    sign = (
        f"IF(({mix_sql(f'((i - 1) * {out_dim} + j)', seed, 'spark')}) % 2 = 0, "
        "1.0D, -1.0D)"
    )
    # the merge re-casts to the accumulator's exact type: decimal
    # addition widens to DECIMAL(25,8) and Spark's HOF fold requires
    # merge-result type == accumulator type (exactness is unaffected —
    # 64 terms of |round(±v,8)| ≤ 1e8 stay far inside 16 integer digits)
    proj = (
        f"transform(sequence(0, {out_dim - 1}), j -> "
        f"CAST(aggregate(sequence(1, {dim}), CAST(0 AS DECIMAL(24,8)), "
        f"(acc, i) -> CAST(acc + CAST(round({sign} * CAST(element_at({vec_col}, i) "
        "AS DOUBLE), 8) AS DECIMAL(24,8)) AS DECIMAL(24,8))) AS DOUBLE))"
    )
    return df.select(
        id_col, F.posexplode(F.expr(proj)).alias("dim_id", "value")
    )


# corpus size at which the scale-safe posture becomes the default:
# past this many rows the r8/r9 audits measured the exact decimal-HOF
# projection (Catalyst fold wall) and the candidate-proportional join
# verify going scratch-bound (BENCH_SCALE.md sf10e: 288 k clustered
# vectors DNF in 10 min with the oracle-shape defaults)
AUTO_SCALE_ROWS = 100_000

# IVF coarse-cell budget: target per-cell occupancy ~IVF_CELL_BUDGET
# rows, so the probed-list size per query stays ~n_probe·IVF_CELL_BUDGET
# regardless of corpus size.  A FIXED cell count is the measured ANN
# anti-pattern (BENCH_SCALE.md: 8 cells cost 9.3× warm per corpus
# decade; cells scaled ~n/4500 with the BLAS assignment held
# ~3.7×/decade) — per-query latency only stays flat across decades if
# the cell count grows with n.
IVF_CELL_BUDGET = 4_500


def _resolve_ivf_cells(
    n_clusters: int | None, candidates: DataFrame, n_rows: int | None
) -> tuple[int, int | None]:
    """``AUTO_SCALE_ROWS``-contract resolution of the IVF cell count:
    an explicit ``n_clusters`` is honored untouched (the registered
    oracle queries pin 8 so their plans stay lazy and value-exact);
    ``None`` — the default — resolves ``max(8, n // IVF_CELL_BUDGET)``
    from ``n_rows`` or one count.  Returns ``(n_clusters, n_rows)`` so
    callers reuse the count for their other auto knobs."""
    if n_clusters is not None:
        return int(n_clusters), n_rows
    n = int(n_rows) if n_rows is not None else candidates.count()
    return max(8, n // IVF_CELL_BUDGET), n


# centroid count past which the vectorized assignment routes through
# ~sqrt(k) coarse probes instead of the flat X@C.T: the flat matmul is
# O(n·k) flops, and with cells ~ n/4500 that makes every index BUILD
# O(n²) per corpus decade (measured r11: 134 s -> 2017 s one-time
# IVF-PQ build for 2.4 M -> 24 M vectors); the bound-pruned routed
# search (assign_cells_routed) is exact and ~O(n·sqrt(k))
ROUTE_CELLS = 512


def _assign_cells(
    df: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_alias: str,
    vectorized: bool,
    n_clusters: int,
) -> DataFrame:
    """Pick the cell-assignment engine: the HOF fold (oracle shape)
    when not vectorized; flat BLAS up to ``ROUTE_CELLS`` centroids;
    the bound-pruned routed search past it."""
    if not vectorized:
        return assign_nearest_cell(df, cent, id_col, vec_alias)
    if n_clusters <= ROUTE_CELLS:
        return assign_nearest_cell_blas(df, cent, id_col, vec_alias)
    return assign_cells_routed(
        df, cent, id_col, vec_alias, ROUTE_CELLS, out_col="_cell"
    )


def _jl_out_dim(n: int, lo: int = 8, hi: int = 62) -> int:
    """Sign-bit bucket width from the documented sizing rule
    ``out_dim >= log2(n) + 4`` (expected bucket occupancy ~ n / 2^out_dim
    <= 1/16), clamped to [lo, hi] — hi 62 keeps the bucket key a BIGINT."""
    import math

    return min(hi, max(lo, math.ceil(math.log2(max(n, 2))) + 4))


def projected_bucket_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int | None = None,
    seed: int = 5,
    threshold: float = 0.98,
    verify_local: bool | None = None,
    max_bucket: int | None | str = "auto",
    digits: int = 4,
    block: int = 2048,
    vectorized_projection: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """ANN near-dup pairs THROUGH the random projection: project
    ``dim → out_dim`` (:func:`random_projection`), bucket each vector by
    the ``out_dim`` sign bits of its projection (a single-band
    hyperplane LSH whose hyperplanes ARE the projection rows — the
    projection is computed once and reused as the index), equi-self-join
    on the bucket, then verify every candidate with the exact cosine on
    the ORIGINAL vectors.  Only pairs ≥ ``threshold`` survive.

    The projection's decimal-sum exactness makes the bucket assignment
    engine-portable (a sign can only differ where a projection lands on
    exactly 0.0), so the full pair set is oracle-checkable — unlike
    float-transport LSH variants.  Recall vs the unprojected exact pair
    set is probabilistic (each near-dup pair flips any of the
    ``out_dim`` sign bits with probability ~angle/pi) and is pinned by
    a recall-band test rather than the oracle.

    Scale shape: one narrow projection pass (no shuffle), one groupBy
    on id (re-packs the narrow rows into one bucket key per vector),
    one equi-self-join on a short integer key, and a vector-fetch join
    onto the candidates only — no cross product anywhere.  BUT on a
    CLUSTERED corpus the default join-verify is candidate-proportional:
    a cluster's vectors mostly agree on all ``out_dim`` sign bits, so
    candidates grow ~Σ|cluster|² and the pair join goes scratch-bound
    exactly like the exact embedding chain (measured: the 288 k-vector
    sf10e audit did not finish inside 10 minutes at out_dim=16).  Past
    ~10^5 clustered vectors set ``verify_local=True``: vectors ride ONE
    float32 copy to their bucket (``repartition(bucket) +
    sortWithinPartitions + mapInPandas``) and each bucket verifies its
    own pairs with a strip-blocked BLAS Gram, so shuffle volume stays
    corpus-bounded and only >= ``threshold`` pairs ever leave a bucket
    (the ``embed_cosine_pairs_fast`` posture; float64 Gram, same
    ``digits`` rounding — pinned equal to the join path on the planted
    corpus).  Size ``out_dim`` ≳ log2(n_vectors) + 4 regardless, and
    cap degenerate boilerplate buckets with ``max_bucket``.

    ``vectorized_projection=True`` is the second half of the scale
    posture: the decimal HOF projection evaluates out_dim·dim mix()
    expressions + DECIMAL boxing PER ROW (the exact-parity discipline
    the ORACLE needs — and the same Catalyst-fold wall the embedding
    signatures hit at 2.4 M rows), while buckets only need SIGNS — one
    ``X @ W.T`` per Arrow batch with the identical mix-derived ±1
    matrix produces the same sign bits except where a projection sits
    within ulps of exactly 0 (pinned bucket-for-bucket on the planted
    corpus).

    **The scale posture is AUTOMATIC** (r9 VERDICT #2; the reference
    auto-configures exactly these locality/size knobs,
    ``src/scdataset/experimental/auto_config.py:278-525``): any knob left at its
    ``None``/``"auto"`` default is resolved from the corpus size — one
    cheap ``count()`` at call time, skipped when the caller passes
    ``n_rows`` (or pins every knob explicitly, which keeps the plan
    fully lazy; the registered oracle query does exactly that).  At
    ``n >= AUTO_SCALE_ROWS``: ``out_dim`` from the ``log2(n) + 4``
    rule, ``verify_local=True``, ``vectorized_projection=True``, and
    ``max_bucket=20_000`` (degenerate boilerplate buckets carry no
    discriminative signal and would otherwise accumulate one O(b²)
    Gram in a single task).  Below the threshold: the oracle-exact
    small shape (rule-derived ``out_dim``, join verify, decimal
    projection, no cap)."""
    import numpy as np

    if (
        out_dim is None
        or verify_local is None
        or vectorized_projection is None
        or max_bucket == "auto"
    ):
        n = int(n_rows) if n_rows is not None else df.count()
        big = n >= AUTO_SCALE_ROWS
        if out_dim is None:
            out_dim = _jl_out_dim(n)
        if verify_local is None:
            verify_local = big
        if vectorized_projection is None:
            vectorized_projection = big
        if max_bucket == "auto":
            max_bucket = 20_000 if big else None

    if vectorized_projection:
        import pandas as pd

        from scdataset_spark.plans.seeds import mix_py

        W = np.asarray(
            [
                [
                    float(1 - 2 * (mix_py((i - 1) * out_dim + j, seed) % 2 != 0))
                    for i in range(1, dim + 1)
                ]
                for j in range(out_dim)
            ]
        )  # (out_dim, dim); sign convention identical to random_projection
        pows = (1 << np.arange(out_dim, dtype=np.int64))
        idt = df.schema[id_col].dataType.simpleString()

        def _bucket(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                bits = (X @ W.T) > 0
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "bucket": bits.astype(np.int64) @ pows,
                    }
                )

        buckets = df.select(
            F.col(id_col), F.col(vec_col).alias("_v")
        ).mapInPandas(_bucket, f"{id_col} {idt}, bucket bigint")
    else:
        proj = random_projection(df, id_col, vec_col, dim, out_dim, seed)
        buckets = proj.groupBy(id_col).agg(
            F.sum(F.expr("IF(value > 0, shiftleft(1L, dim_id), 0L)"))
            .cast("bigint")
            .alias("bucket")
        )
    counts = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
    ok = counts.where(F.col("_bn") >= 2)
    if max_bucket is not None:
        ok = ok.where(F.col("_bn") <= max_bucket)
    buckets = buckets.join(ok.select("bucket"), "bucket", "left_semi")
    if verify_local:
        return _bucket_local_cosine_pairs(
            df, buckets, id_col, vec_col, threshold, digits, block
        )
    cand = (
        buckets.select(F.col(id_col).alias("id_a"), "bucket")
        .join(
            buckets.select(F.col(id_col).alias("id_b"), "bucket"), "bucket"
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm_col(vec_col).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm_col(vec_col).alias("_nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine", cosine_norm_expr("_va", "_vb", "_na", "_nb", digits=digits)
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _bucket_local_cosine_pairs(
    df: DataFrame,
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    digits: int,
    block: int,
) -> DataFrame:
    """Verify every same-bucket pair INSIDE its bucket via the shared
    :func:`_streamed_bucket_gram` machinery (one float32 vector copy
    per row through the shuffle, blocked Gram per bucket, only
    >= threshold pairs leave)."""
    id_sql_type = df.schema[id_col].dataType.simpleString()
    rows = assigned.join(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<float>").alias("_v32")
        ),
        id_col,
    )
    pairs = _streamed_bucket_gram(
        rows.select(id_col, "bucket", "_v32"),
        ["bucket"],
        id_col,
        id_sql_type,
        threshold,
        digits,
        block,
    )
    # cross-bucket duplicates impossible (one bucket per vector), but
    # keep the output contract identical to the join path
    return pairs.select("id_a", "id_b", F.col("cos").alias("cosine"))


def semantic_dedup_fast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int | None = None,
    threshold: float = 0.98,
    seed: int = 11,
    block: int = 1024,
    coarse_route_k: int = 512,
    probes: int = 3,  # retained for signature compat; unused since the
    # r8 bound-pruned search (exact, needs no probe-count knob)
    max_cell: int | None = 100_000,
    n_rows: int | None = None,
) -> DataFrame:
    """:func:`semantic_dedup` at production cell counts — same
    cluster-then-dominance semantics, with the two stages that go
    allocation-bound at large ``n_clusters`` vectorized through
    Arrow/numpy (the SemDeDup paper's actual computation: per-cluster
    Gram matmuls):

    - **centroid argmin**: one ``X @ C.T`` per Arrow batch inside
      ``mapInPandas`` — O(n·k) flops at BLAS speed.  The exact HOF fold
      of :func:`assign_nearest_cell` allocates ``k`` structs + ``k``
      zip_with arrays PER ROW, measured stuck-in-GC at k=4800 on 2.4 M
      rows; a matmul allocates two scratch matrices per batch.
      Centroids are COLLECTED once (k×dim doubles) at call time — an
      eager index-build job, the same posture as ``ivf_topk``'s KMeans
      fit (and why the registered oracle query uses the lazy exact
      path instead).  Past ``coarse_route_k`` cells the argmin goes
      two-level — and stays EXACT via a triangle-inequality radius
      bound (see the inline comment in ``_assign``), so the routed
      and flat paths agree row-for-row.
    - **within-cell dominance**: ``applyInPandas`` per cell; the Gram
      matrix is built in ``block``-column strips so memory stays
      O(cell·block) even for fat cells.

    BLAS summation order is engine-specific, so this path is
    deterministic but not bit-parity with the SQL oracle — the exact
    twin carries the oracle; ``tests/test_span_semantic_dedup`` pins
    fast == exact on the planted corpus (whose cosines sit far from
    the threshold boundary; cosines here are rounded to 4 digits like
    the exact path, so only boundary-straddling pairs could differ).

    Scale shape: one scan + one shuffle (groupBy cell); Σ|cell|² work
    bounded by ``n_clusters ~ n/c``; no n×k row explosion anywhere.

    **Hot-cell guard** (``max_cell``, r9 VERDICT #8): the ``n/c``
    sizing is a heuristic — a degenerate corpus (boilerplate
    embeddings, all-identical vectors) routes arbitrarily many rows
    into ONE cell, whose dominance pass then holds the whole cell in a
    single task (OOM at tens of millions of rows).  Cells larger than
    ``max_cell`` are hash-split into ``ceil(|cell| / max_cell)``
    sub-cells (a seeded xxhash of the id — no window, no extra big
    shuffle; the split rides the same groupBy) and each sub-cell
    dedups independently with the same smaller-id-dominates rule.  The
    documented approximation: cross-sub-cell dominance pairs are not
    compared, so a saturated cell keeps at most one extra survivor per
    sub-cell instead of exactly one — bounded, and exactly the rows a
    saturated bucket screen would have skipped entirely.  ``None``
    disables the guard (the exact-parity posture for small corpora).

    ``n_clusters=None`` (the default) resolves from the corpus size by
    the documented cell-budget rule ``max(8, n // 500)`` — the sizing
    the scale audit uses, which keeps the exact within-cell pair
    volume Σ|cell|² ≈ 500·n linear in n (a fixed cell count goes
    quadratic; the registered oracle query pins its 8 cells
    explicitly through the exact :func:`semantic_dedup` instead).
    One cheap ``count()`` at call time, skipped via ``n_rows``."""
    import numpy as np
    import pandas as pd

    if n_clusters is None:
        n = int(n_rows) if n_rows is not None else df.count()
        n_clusters = max(8, n // 500)
    cent = seeded_centroids(df, n_clusters, seed, id_col, vec)
    thr = float(threshold)

    src = df.select(F.col(id_col), F.col(vec).alias("_v"))
    out_schema = f"{id_col} bigint, cell int, kept boolean"

    def _dominate(pdf):
        pdf = pdf.sort_values(pdf.columns[0]).reset_index(drop=True)
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        n = len(pdf)
        kept = np.ones(n, dtype=bool)
        for j0 in range(0, n, block):
            j1 = min(j0 + block, n)
            G = np.round(Vn[: j1] @ Vn[j0:j1].T, 4)
            for j in range(j0, j1):
                kept[j] = not (G[:j, j - j0] >= thr).any()
        return pd.DataFrame(
            {
                pdf.columns[0]: pdf.iloc[:, 0].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "kept": kept,
            }
        )

    # assignment delegates to the shared routed helper (extracted
    # r11 so the IVF index builds reuse the bound-pruned search)
    assigned = assign_cells_routed(src, cent, id_col, "_v", coarse_route_k)
    # explicit partition count ahead of the per-cell dominance stage
    # (r16): its cost is per-cell Python/Gram work, so AQE's byte-based
    # coalescing of the grouping exchange would idle most cores; the
    # matching-count keyed repartition satisfies the groupBy's
    # distribution requirement, so no second exchange is added
    n_parts = python_stage_partitions(assigned)
    if max_cell is None:
        return (
            assigned.repartition(n_parts, "cell")
            .groupBy("cell")
            .applyInPandas(_dominate, out_schema)
            .select(id_col, "cell", "kept")
        )
    # hot-cell guard: broadcast the (<= n_clusters)-row cell counts back
    # and hash-split any over-max_cell cell into bounded sub-cells; the
    # dominance pass groups on (cell, _sub) so no single task ever holds
    # more than ~max_cell rows.  The counts aggregation would otherwise
    # re-execute the whole mapInPandas assignment pass (including the
    # bound-pruned BLAS routing over the full corpus) a second time for
    # the join below — persist the narrow (id, _v, cell) frame so the
    # assignment runs once
    assigned = persist_bounded(assigned)
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
    sub = F.when(
        F.col("_cn") > max_cell,
        F.pmod(
            F.xxhash64(F.col(id_col), F.lit(int(seed))),
            F.ceil(F.col("_cn") / max_cell).cast("bigint"),
        ).cast("int"),
    ).otherwise(F.lit(0))
    split = assigned.join(F.broadcast(counts), "cell").withColumn("_sub", sub)
    return (
        split.select(id_col, "_v", "cell", "_sub")
        .repartition(n_parts, "cell", "_sub")
        .groupBy("cell", "_sub")
        .applyInPandas(_dominate, out_schema)
        .select(id_col, "cell", "kept")
    )


def pq_codebook(
    candidates: DataFrame,
    n_codes: int = 16,
    seed: int = 13,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ENGINE-PORTABLE product-quantization codebook: the ``n_codes``
    candidates with the smallest ``mix(id, seed)`` keys are the code
    vectors (same seed-with-data-points discipline as
    :func:`seeded_centroids`, so a SQL oracle replays the index build);
    subspace ``s``'s codeword for code ``j`` is the ``s``-th slice of
    code vector ``j``.  Returns ``(code, codevec)``, ``n_codes`` rows —
    broadcast everywhere, never shuffled."""
    base = (
        candidates.select(F.col(id_col).alias("_src"), F.col(vec).alias("codevec"))
        .withColumn("_mk", F.expr(mix_sql("_src", seed, "spark")))
        .orderBy("_mk", "_src")
        .limit(n_codes)
    )
    return base.withColumn(
        "code", F.row_number().over(Window.orderBy("_mk", "_src")) - 1
    ).select("code", "codevec")


def _pq_subdist(vec_expr: str, code_expr: str, s: str, sub_dim: int) -> str:
    """Rounded squared distance between subspace ``s`` (0-based) of a
    vector and the same slice of a code vector — the engine-portable
    PQ assignment metric (round 6 + lowest-code tiebreak, the
    assign_nearest_cell discipline)."""
    return (
        f"round(aggregate(zip_with("
        f"slice({vec_expr}, {s} * {sub_dim} + 1, {sub_dim}), "
        f"slice({code_expr}, {s} * {sub_dim} + 1, {sub_dim}), "
        "(x, c) -> (CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
    )


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 13,
    codebook: DataFrame | None = None,
    vectorized: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, the standard
    memory trick behind every billion-scale ANN index): split each
    vector into ``m`` subspaces of ``dim/m`` dims and store, per
    subspace, the index of the nearest codeword — ``dim`` floats become
    ``m`` small ints (64x compression at the defaults).

    Engine-portable end to end: the codebook is mixer-seeded
    (:func:`pq_codebook`), every subspace assignment is an argmin over
    rounded squared distances with a lowest-code tiebreak, so the full
    code table is value-checkable by a SQL oracle — same discipline as
    :func:`seeded_centroids` + :func:`assign_nearest_cell`.

    Scale shape: the codebook collapses to a ONE-ROW array broadcast
    onto the scan; each row evaluates m·n_codes·(dim/m) = n_codes·dim
    multiply-adds inside one whole-stage-codegen expression and emits
    ``m`` narrow ``(id, subspace, code)`` rows — no shuffle anywhere.
    The per-row HOF fold is the same Catalyst expression budget as
    :func:`random_projection` (n_codes·dim terms) — the recurring
    Catalyst-fold wall — so ``vectorized`` resolves automatically from
    the corpus size (the auto-posture contract of
    ``projected_bucket_pairs``): past ``AUTO_SCALE_ROWS`` the codes
    come from one batched BLAS distance matrix per Arrow batch with
    the identical rounded-distance + lowest-code argmin (a code can
    only differ where two subspace distances tie at the 1e-6 rounding
    boundary; pinned equal on the test corpus), and the codebook is
    collected once (n_codes×dim doubles — the eager index-build
    posture of ``semantic_dedup_fast``).  The exact HOF path stays the
    lazy oracle shape; pass ``n_rows`` to skip the resolution count."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    cb = codebook if codebook is not None else pq_codebook(
        df, n_codes, seed, id_col, vec
    )
    if vectorized is None:
        n = int(n_rows) if n_rows is not None else df.count()
        vectorized = n >= AUTO_SCALE_ROWS
    if vectorized:
        import numpy as np
        import pandas as pd

        cb_rows = sorted(cb.collect(), key=lambda r: r["code"])
        CB = np.asarray([r["codevec"] for r in cb_rows], dtype=np.float64)
        codes_np = np.asarray([int(r["code"]) for r in cb_rows], dtype=np.int64)
        idt = df.schema[id_col].dataType.simpleString()
        n_sub = m

        def _encode(batches):
            subs = np.arange(n_sub, dtype=np.int32)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                out = np.empty((len(X), n_sub), dtype=np.int64)
                for s in range(n_sub):
                    Xs = X[:, s * sub_dim:(s + 1) * sub_dim]
                    Cs = CB[:, s * sub_dim:(s + 1) * sub_dim]
                    # difference form (not x²+c²−2xc): with only n_codes
                    # codewords the (b, n_codes, sub_dim) scratch is tiny
                    # and it avoids the cancellation corner near rounding
                    # boundaries
                    d = np.round(
                        ((Xs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=2), 6
                    )
                    # first-occurrence argmin == lowest code on ties
                    # (codes_np is ascending by construction)
                    out[:, s] = codes_np[d.argmin(axis=1)]
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), n_sub),
                        "subspace": np.tile(subs, len(X)),
                        "code": out.reshape(-1),
                    }
                )

        return df.select(F.col(id_col), F.col(vec).alias("_v")).mapInPandas(
            _encode, f"{id_col} {idt}, subspace int, code int"
        )
    cb_arr = cb.agg(F.collect_list(F.struct("code", "codevec")).alias("_cb"))
    sdist = _pq_subdist(vec, "c.codevec", "s", sub_dim)
    codes = (
        "transform(sequence(0, {m} - 1), s -> "
        "aggregate(transform(_cb, c -> named_struct('d', {sdist}, 'code', c.code)), "
        "named_struct('d', CAST('Infinity' AS DOUBLE), 'code', -1), "
        "(acc, t) -> IF(t.d < acc.d OR (t.d = acc.d AND t.code < acc.code), t, acc)"
        ").code)"
    ).format(m=m, sdist=sdist)
    return (
        df.crossJoin(F.broadcast(cb_arr))
        .select(id_col, F.posexplode(F.expr(codes)).alias("subspace", "code"))
    )


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    refine: int = 3,
    n_clusters: int | None = None,
    n_probe: int = 2,
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 11,
    pq_seed: int = 13,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_encode: bool | None = None,
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ (IVF-ADC) top-k: the coarse IVF routing of
    :func:`ivf_seeded_topk` with the candidate payload QUANTIZED —
    inside the probed cells, candidates are scored against the query by
    the distance to their PQ RECONSTRUCTION (asymmetric distance
    computation), the top ``refine``·``k`` per query by ADC survive,
    and only those fetch their full vector for the exact-cosine
    re-rank.  At production scale the inverted lists store ``m`` bytes
    per vector instead of ``dim`` floats, ADC folds into per-subspace
    lookup tables, and the exact re-rank touches ``refine``·``k`` rows
    per query — the same plan shape measured here.

    Every stage is engine-portable (mixer-seeded centroids + codebook,
    rounded distances, id tiebreaks) so the whole IVF-PQ path is
    value-checked by a SQL oracle.  Output per query: the top ``k`` by
    exact cosine among the ADC-refined set, with both the ADC and the
    exact cosine.

    Three auto-resolved scale knobs (the ``AUTO_SCALE_ROWS`` contract;
    pass explicit values to pin any of them, as the oracle query does):
    ``n_clusters=None`` resolves ``max(8, n // IVF_CELL_BUDGET)`` so the
    probed-list size per query stays ~n_probe·4500 across corpus
    decades, ``vectorized_encode`` is :func:`pq_encode`'s BLAS twin,
    and ``vectorized_assign`` replaces the HOF argmin of
    :func:`assign_nearest_cell` with :func:`assign_nearest_cell_blas`
    — one ``X @ C.T`` per Arrow batch over the once-collected centroid
    matrix (rounded distances + lowest-cell argmin preserved, so cells
    can differ only on a 1e-6 rounding-boundary tie).  Keeping
    per-query latency flat across corpus decades requires BOTH: scale
    ``n_clusters`` with n (probed-list size ~ n·n_probe/n_clusters) and
    the BLAS assignment that makes a large ``n_clusters`` affordable.
    One count serves all three; pass ``n_rows`` to skip it."""
    n_clusters, n_rows = _resolve_ivf_cells(n_clusters, candidates, n_rows)
    cent = seeded_centroids(candidates, n_clusters, seed, cand_id, vec)
    c = candidates.select(F.col(cand_id), F.col(vec).alias("_cv"))
    if vectorized_assign is None or vectorized_encode is None:
        n = int(n_rows) if n_rows is not None else candidates.count()
        n_rows = n  # reuse for pq_encode's resolution below
        if vectorized_assign is None:
            vectorized_assign = n >= AUTO_SCALE_ROWS
        if vectorized_encode is None:
            vectorized_encode = n >= AUTO_SCALE_ROWS
    c_assigned = _assign_cells(c, cent, cand_id, "_cv", vectorized_assign, n_clusters)
    cb = pq_codebook(candidates, n_codes, pq_seed, cand_id, vec)
    codes = pq_encode(
        candidates, cand_id, vec, dim, m, n_codes, pq_seed, codebook=cb,
        vectorized=vectorized_encode, n_rows=n_rows,
    )
    sub_dim = dim // m
    # reconstruction: concat the m codewords back into a dim-vector —
    # computed ONCE per candidate from the broadcast codebook (narrow
    # map; production keeps only the codes and uses per-query LUTs, the
    # identical plan shape with 8 bytes instead of 64 floats per row)
    cb_arr = cb.agg(F.collect_list(F.struct("code", "codevec")).alias("_cb"))
    codes_per_id = codes.groupBy(cand_id).agg(
        F.expr("transform(array_sort(collect_list(struct(subspace, code))), s -> s.code)")
        .alias("_codes")
    )
    recon = (
        "flatten(transform(_codes, (cd, s) -> "
        f"slice(filter(_cb, c -> c.code = cd)[0].codevec, s * {sub_dim} + 1, {sub_dim})))"
    )
    c_recon = (
        c_assigned.join(codes_per_id, cand_id)
        .crossJoin(F.broadcast(cb_arr))
        .withColumn("_rv", F.expr(recon))
        .select(cand_id, "_cv", "_rv", "_cell")
    )
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_dist", F.expr(_DIST_SQL.format(a="_qv", b="centroid")))
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy(query_id).orderBy("_dist", "cell")),
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    adc = (
        c_recon.join(F.broadcast(q_cells), "_cell")
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("adc", F.expr(_DIST_SQL.format(a="_qv", b="_rv")))
    )
    w_adc = Window.partitionBy(query_id).orderBy(F.col("adc"), F.col(cand_id))
    refined = adc.withColumn("_ark", F.row_number().over(w_adc)).where(
        F.col("_ark") <= refine * k
    )
    rescored = refined.withColumn("cosine", cosine_expr("_qv", "_cv"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "adc", "cosine", "rank")
    )


# column names the persisted index layouts claim for themselves: the
# probes recover the id column by EXCLUDING these from the stored
# schema, so an id named like one of them would silently make the
# probe pick the wrong column (or IndexError) with no diagnosis at
# build time (round-11 ADVICE).
_RESERVED_INDEX_COLS = ("cell", "cell_group", "_v", "_codes")


def _check_index_id(cand_id: str) -> None:
    """Reject ids that collide with the persisted layouts' own column
    names — fail at BUILD/APPEND time with the real cause instead of a
    misread layout at probe time."""
    if cand_id in _RESERVED_INDEX_COLS:
        raise ValueError(
            f"cand_id {cand_id!r} collides with a reserved index column "
            f"{_RESERVED_INDEX_COLS}; rename the id column before building"
        )


def _cell_group_size(n_clusters: int, max_dirs: int = 1024) -> int:
    """Cells per partition DIRECTORY in the persisted index layouts:
    one-dir-per-cell stops scaling past a few thousand cells (the
    sf1000e probe's cold 166 s was mostly first-touch listing of 5,333
    dirs; the n/4500 rule at 4.5 B vectors would mean ~1 M dirs), so
    cells are grouped into at most ``max_dirs`` directories and the
    per-cell cut moves to parquet row-group stats (files are written
    sorted by cell within each group).  Derived deterministically from
    the centroid count, so probes recompute it from the stored
    centroids — no side-channel metadata."""
    import math

    return max(1, math.ceil(n_clusters / max_dirs))


def _check_no_precompact(path: str) -> None:
    """Refuse to touch an index whose last :func:`compact_ann_index`
    swap died between its renames: the ``__precompact`` backup is then
    the only authoritative copy, and probing the (missing or
    half-written) index path would silently serve wrong neighbors.
    Recovery is one rename of the backup over the index component."""
    import glob as _glob
    import os as _os

    left = [
        p
        for p in _glob.glob(_os.path.join(path, "*__precompact"))
        if _os.path.isdir(p)
    ]
    if left:
        raise RuntimeError(
            f"index at {path} has leftover __precompact backup(s) from an "
            f"interrupted compaction: {sorted(left)}; restore them (rename "
            "each backup over its component dir) before probing"
        )


def build_ann_index(
    candidates: DataFrame,
    path: str,
    n_clusters: int | None = None,
    seed: int = 11,
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> None:
    """Persist an IVF index: every candidate assigned its seeded coarse
    cell (same portable build as :func:`ivf_seeded_topk` —
    :func:`seeded_centroids` + nearest-cell argmin) and written
    PARTITIONED BY cell, centroids alongside.  This makes the
    "inverted lists stored bucketed by cell" posture the IVF
    docstrings describe REAL: a probe reads only the probed cells'
    partition directories (parquet partition pruning), so the
    n_probe/n_clusters data-touch fraction is actual I/O skipped, not
    just rows filtered after a full scan.  Build once, probe many —
    the index lifecycle a 100 TB serving deployment runs (reference
    analogue: the one-time AnnData→disk fetch-ordered ingest,
    ``src/scdataset/scdataset.py``; here the layout key is the
    routing cell instead of the row order).

    Layout under ``path``: ``cells/`` (``cand_id``, ``v``,
    partition col ``cell``) and ``centroids/`` (``cell, centroid``).
    All knobs resolve under the ``AUTO_SCALE_ROWS`` contract exactly
    as in :func:`ivf_seeded_topk`."""
    _check_index_id(cand_id)
    n_clusters, n_rows = _resolve_ivf_cells(n_clusters, candidates, n_rows)
    if vectorized_assign is None:
        n = int(n_rows) if n_rows is not None else candidates.count()
        vectorized_assign = n >= AUTO_SCALE_ROWS
    cent = seeded_centroids(candidates, n_clusters, seed, cand_id, vec)
    c = candidates.select(F.col(cand_id), F.col(vec).alias("_v"))
    assigned = _assign_cells(
        c, cent, cand_id, "_v", vectorized_assign, n_clusters
    ).withColumnRenamed("_cell", "cell")
    # group on the ACTUAL centroid count: seeded_centroids caps at the
    # corpus size, so a requested n_clusters above n would desync the
    # probe's recomputation (it derives g from the stored centroids)
    g = _cell_group_size(cent.count())
    (
        assigned.withColumn("cell_group", (F.col("cell") / g).cast("int"))
        .repartition("cell_group")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_group")
        .parquet(f"{path}/cells")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")


def ann_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    query_id: str = "q_id",
    vec: str = "embedding",
    n_queries: int | None = None,
    exclude_ids: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a persisted :func:`build_ann_index` index: route each
    query to its ``n_probe`` nearest centroids (broadcast, same
    rounded-distance/low-cell tiebreak as :func:`ivf_seeded_topk`),
    read ONLY those cells' partitions, exact cosine re-rank inside.
    Results are row-identical to :func:`ivf_seeded_topk` at the same
    build parameters (pinned by test + the shared SQL oracle).

    ``n_probe`` sizing is measured, not guessed: under the n/4500 cell
    budget, recall@10 at fixed ``n_probe`` is scale-invariant across a
    corpus decade (0.95 at ``n_probe=4``, 1.0 at 16, at BOTH 533 and
    5,333 cells — BENCH_SCALE.md r12, `scale_audit.py recall`), and
    probe latency is flat in ``n_probe``, so a fixed small value holds
    as the corpus grows and over-probing is cheap insurance.  Monitor
    with :func:`ann_recall` on a sampled query set; falling recall at
    constant ``n_probe`` is the :func:`rebuild_ann_index` signal.

    The probed-cell set is collected before the scan — it is at most
    ``n_clusters`` ints no matter how many queries probe (distinct of
    a queries×n_probe routing frame) — and lands in the scan as a
    PartitionFilters entry: the 100 TB win is unread partition
    directories, not a post-scan filter.  That collect-and-push is the
    ONLINE posture (a serving batch of queries); hand the whole corpus
    as ``queries`` and the routing frame must not broadcast and the
    probed set must not become a driver list — past ``AUTO_SCALE_ROWS``
    queries (``n_queries`` skips the resolution count) the probe flips
    to a plain distributed join: a corpus-sized batch probes
    essentially every cell anyway, so pruning is moot and the right
    plan is a shuffle join on the cell key.  Output:
    ``(query_id, cell, cand_id, cosine, rank)``.

    ``exclude_ids`` (a one-column frame of stored ids) removes those
    candidates BEFORE scoring — :func:`semantic_ingest_batches` uses it
    to screen a replayed delivery against everything EXCEPT its own
    earlier committed append (a post-hoc filter on the top-k would be
    wrong: an excluded row at rank 1 must not mask a real candidate).
    ``exclude_self`` (default True — the serving posture, where queries
    drawn from the corpus must not match themselves) drops id-equal
    candidates; the ingest screen passes False so an id-identical
    redelivery from a PREVIOUS run scores cosine 1.0 against its stored
    self and is correctly judged a duplicate."""
    _check_no_precompact(path)
    cent = spark.read.parquet(f"{path}/centroids")
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_dist", F.expr(_DIST_SQL.format(a="_qv", b="centroid")))
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy(query_id).orderBy("_dist", "cell")),
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    n_q = int(n_queries) if n_queries is not None else queries.count()
    if n_q < AUTO_SCALE_ROWS:
        q_cells = persist_bounded(q_cells)
        probed = [int(r[0]) for r in q_cells.select("_cell").distinct().collect()]
        g = _cell_group_size(cent.count())
        groups = sorted({c // g for c in probed})
        cells = (
            spark.read.parquet(f"{path}/cells")
            .where(F.col("cell_group").isin(groups) & F.col("cell").isin(probed))
            .drop("cell_group")
        )
        q_side = F.broadcast(q_cells)
    else:
        cells = spark.read.parquet(f"{path}/cells").drop("cell_group")
        q_side = q_cells
    cand_id = [c for c in cells.columns if c not in ("_v", "cell")][0]
    if exclude_ids is not None:
        ex = exclude_ids.withColumnRenamed(exclude_ids.columns[0], cand_id)
        cells = cells.join(ex, cand_id, "left_anti")
    scored = (
        cells.join(q_side, cells["cell"] == q_cells["_cell"])
        .where(
            F.col(query_id) != F.col(cand_id) if exclude_self else F.lit(True)
        )
        .withColumn("cosine", cosine_expr("_qv", "_v"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, "cell", cand_id, "cosine", "rank")
    )


def append_to_ann_index(
    increment: DataFrame,
    path: str,
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> None:
    """Append an increment to a persisted :func:`build_ann_index`
    index: new vectors are assigned with the EXISTING centroids (read
    back from the index — the routing geometry is frozen at build
    time, the standard IVF maintenance posture: appends grow the
    inverted lists, they never move the space partition) and appended
    to the cell-partitioned layout.  Cost is one assignment pass over
    the increment plus a partitioned append — O(increment), never
    O(corpus) — the same append-only economics as
    ``novel_documents``' static band index.  Rebuild when routing
    drift accumulates (monitor with cell-occupancy counts — one
    partition-pruned aggregate).

    The increment must carry the same id/vector column names the index
    was built with.  ``vectorized_assign`` auto-resolves from the
    INCREMENT size — or, regardless of how small the increment is,
    from the STORED centroid count: assignment cost is O(increment·k),
    so a 1 k-row increment appended to a 24 M-vector/5 333-cell index
    still evaluates millions of HOF distance terms per row on the
    Catalyst-fold path this file documents as the measured GC wall
    past a few hundred centroids — the index's k, not the increment's
    n, is what makes the fold explode (round-11 ADVICE)."""
    _check_index_id(cand_id)
    spark = increment.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    k = cent.count()
    if vectorized_assign is None:
        n = int(n_rows) if n_rows is not None else increment.count()
        vectorized_assign = n >= AUTO_SCALE_ROWS or k > ROUTE_CELLS
    c = increment.select(F.col(cand_id), F.col(vec).alias("_v"))
    assigned = _assign_cells(
        c, cent, cand_id, "_v", vectorized_assign, k
    ).withColumnRenamed("_cell", "cell")
    g = _cell_group_size(k)
    (
        assigned.withColumn("cell_group", (F.col("cell") / g).cast("int"))
        .repartition("cell_group")
        .sortWithinPartitions("cell")
        .write.mode("append")
        .partitionBy("cell_group")
        .parquet(f"{path}/cells")
    )


def ann_index_stats(spark, path: str) -> DataFrame:
    """Cell-occupancy report over a persisted index — works on both
    layouts (:func:`build_ann_index` raw-vector lists and
    :func:`build_pq_index` code lists; both store one row per vector
    with a ``cell`` column): per stored centroid the vector count,
    empty cells included at 0.  THE rebuild monitor the append
    lifecycle needs: appends grow lists under FROZEN centroids, so a
    drifting corpus shows up here first — appended mass routing into
    few hot cells (max/avg occupancy climbing), or cells the original
    build populated going relatively cold.  Cost: one column-pruned
    aggregate — the scan reads only the ``cell`` column of the lists,
    never vectors or codes, and the centroid side is
    centroid-count-sized.  Output: ``(cell, n_vectors)``."""
    cent = spark.read.parquet(f"{path}/centroids").select("cell")
    occ = (
        spark.read.parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return cent.join(occ, "cell", "left").select(
        "cell", F.coalesce("n_vectors", F.lit(0)).alias("n_vectors")
    )


def build_pq_index(
    candidates: DataFrame,
    path: str,
    n_clusters: int | None = None,
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 11,
    pq_seed: int = 13,
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_encode: bool | None = None,
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> None:
    """Persist the full IVF-PQ serving layout — the standard
    billion-scale ANN storage shape: the inverted lists under
    ``cells/`` hold ``(id, m codes)`` PARTITIONED BY routing cell (m
    small ints per vector instead of ``dim`` floats — the 64× payload
    reduction IVF-ADC exists for), ``centroids/`` and ``codebook/``
    are the tiny broadcastable index sides, and the raw vectors stay
    in ``archive/`` (in production, the source table itself) to be
    fetched ONLY for the refine·k exact re-rank.  Same engine-portable
    build as :func:`pq_topk` (mixer-seeded centroids + codebook), so a
    probe of this layout is value-checked by the same SQL oracle.  All
    knobs resolve under the ``AUTO_SCALE_ROWS`` contract."""
    _check_index_id(cand_id)
    n_clusters, n_rows = _resolve_ivf_cells(n_clusters, candidates, n_rows)
    if vectorized_assign is None or vectorized_encode is None:
        n = int(n_rows) if n_rows is not None else candidates.count()
        n_rows = n
        if vectorized_assign is None:
            vectorized_assign = n >= AUTO_SCALE_ROWS
        if vectorized_encode is None:
            vectorized_encode = n >= AUTO_SCALE_ROWS
    cent = seeded_centroids(candidates, n_clusters, seed, cand_id, vec)
    c = candidates.select(F.col(cand_id), F.col(vec).alias("_v"))
    assigned = _assign_cells(
        c, cent, cand_id, "_v", vectorized_assign, n_clusters
    ).withColumnRenamed("_cell", "cell")
    cb = pq_codebook(candidates, n_codes, pq_seed, cand_id, vec)
    codes = pq_encode(
        candidates, cand_id, vec, dim, m, n_codes, pq_seed, codebook=cb,
        vectorized=vectorized_encode, n_rows=n_rows,
    )
    codes_per_id = codes.groupBy(cand_id).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(subspace, code))), s -> s.code)"
        ).alias("_codes")
    )
    lists = assigned.select(cand_id, "cell").join(codes_per_id, cand_id)
    # group on the ACTUAL centroid count: seeded_centroids caps at the
    # corpus size, so a requested n_clusters above n would desync the
    # probe's recomputation (it derives g from the stored centroids)
    g = _cell_group_size(cent.count())
    (
        lists.withColumn("cell_group", (F.col("cell") / g).cast("int"))
        .repartition("cell_group")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_group")
        .parquet(f"{path}/cells")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    cb.write.mode("overwrite").parquet(f"{path}/codebook")
    # archive is range-laid-out and sorted on the id so the probe's
    # refine·k id fetch prunes row groups via parquet min/max stats
    # (an unsorted archive would stream fully under the same filter)
    (
        c.repartitionByRange(32, F.col(cand_id))
        .sortWithinPartitions(cand_id)
        .write.mode("overwrite")
        .parquet(f"{path}/archive")
    )


def append_to_pq_index(
    increment: DataFrame,
    path: str,
    dim: int = 64,
    m: int = 8,
    cand_id: str = "c_id",
    vec: str = "embedding",
    vectorized_encode: bool | None = None,
    vectorized_assign: bool | None = None,
    n_rows: int | None = None,
) -> None:
    """Append an increment to a persisted :func:`build_pq_index`
    layout — the PQ sibling of :func:`append_to_ann_index` (round-11
    shipped the IVF append but left the PQ build overwrite-only, so a
    growing corpus had to re-encode EVERYTHING to add an increment,
    contradicting the build-once lifecycle): new vectors are encoded
    with the STORED codebook and assigned with the STORED centroids
    (routing geometry and quantizer both frozen at build time — the
    standard IVF-PQ maintenance posture), their ``(id, m codes)`` rows
    appended to the grouped cell directories and their raw vectors
    appended to ``archive/``.  Cost is one encode+assign pass over the
    increment plus two partitioned appends — O(increment), never
    O(corpus).

    ``dim``/``m`` must match the build (the stored codes are
    ``m``-long; a mismatched slice width would encode against the
    wrong codeword slices).  Appended archive files are each sorted on
    the id, so the probe's refine-fetch still prunes row groups via
    per-file min/max stats.  Codebook drift caveat: a quantizer
    trained on the original corpus degrades (ADC error grows) as the
    appended distribution drifts — monitor per-cell occupancy and the
    ADC-vs-exact rank agreement on a sample, and rebuild when the
    increment history outweighs the original build.  Engine choice for
    encode/assign resolves from the increment size OR the stored cell
    count (``ROUTE_CELLS``), exactly as :func:`append_to_ann_index`."""
    _check_index_id(cand_id)
    spark = increment.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    k = cent.count()
    n_codes = cb.count()
    if vectorized_assign is None or vectorized_encode is None:
        n = int(n_rows) if n_rows is not None else increment.count()
        n_rows = n
        if vectorized_assign is None:
            vectorized_assign = n >= AUTO_SCALE_ROWS or k > ROUTE_CELLS
        if vectorized_encode is None:
            vectorized_encode = n >= AUTO_SCALE_ROWS
    c = increment.select(F.col(cand_id), F.col(vec).alias("_v"))
    assigned = _assign_cells(
        c, cent, cand_id, "_v", vectorized_assign, k
    ).withColumnRenamed("_cell", "cell")
    codes = pq_encode(
        increment, cand_id, vec, dim, m, n_codes, codebook=cb,
        vectorized=vectorized_encode, n_rows=n_rows,
    )
    codes_per_id = codes.groupBy(cand_id).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(subspace, code))), s -> s.code)"
        ).alias("_codes")
    )
    lists = assigned.select(cand_id, "cell").join(codes_per_id, cand_id)
    g = _cell_group_size(k)
    (
        lists.withColumn("cell_group", (F.col("cell") / g).cast("int"))
        .repartition("cell_group")
        .sortWithinPartitions("cell")
        .write.mode("append")
        .partitionBy("cell_group")
        .parquet(f"{path}/cells")
    )
    (
        c.repartitionByRange(8, F.col(cand_id))
        .sortWithinPartitions(cand_id)
        .write.mode("append")
        .parquet(f"{path}/archive")
    )


ANN_INGEST_ID_BUCKETS = 64


def ann_ingest_batches(
    path: str,
    cand_id: str = "c_id",
    vec: str = "embedding",
    dim: int = 64,
    m: int = 8,
    on_report=None,
):
    """STREAMING twin of :func:`append_to_ann_index` /
    :func:`append_to_pq_index` — the index-maintenance verb as a
    ``foreachBatch`` callback, closing the lifecycle into Structured
    Streaming the same way ``novel_documents``' foreachBatch twin does
    for incremental dedup: embeddings arrive as micro-batch deliveries
    and each delivery is appended under the index's FROZEN stored
    geometry, O(delivery) per batch.  Layout auto-detected (``codebook/``
    marks the PQ shape; ``dim``/``m`` are ignored for the raw-vector
    layout and validated against storage by the append itself for PQ).

    Cross-delivery idempotence: an ``_ingested_ids/`` sidecar
    (key-hash-partitioned and key-sorted exactly like
    ``unique_gate_batches``' index, so the per-delivery anti-join is
    partition-pruned and row-group-skippable) records every ingested
    id; a delivery's ids already present — from earlier deliveries OR
    from a completed earlier attempt of the SAME batch — are skipped,
    so overlapping deliveries and replays of fully-committed batches
    append nothing twice.  The one non-atomic window: a crash BETWEEN
    the cells append and the sidecar append replays that delivery's
    vectors into the lists twice (plain parquet has no cross-directory
    transaction; on Delta/Iceberg make the two appends one commit).
    :func:`ann_ingest_consistency` detects exactly that window —
    cells ids exceeding sidecar ids — and :func:`rebuild_ann_index`
    clears it.

    ``on_report(batch_id, n_batch, n_new)`` observes each delivery.

    Sidecar batch ids are BIGINT since r14; a sidecar written by an
    older build stores INT32 — run :func:`compact_ann_index` once
    before resuming ingest on such an index (the sidecar rewrite
    normalizes the column)."""
    import os

    def _ingest(batch_df, batch_id):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )

        # held for the WHOLE delivery: the __precompact check below only
        # covers a compaction that already swapped something — this lock
        # excludes one that would START mid-delivery (and a second
        # concurrent delivery stream)
        lock = acquire_maintenance_lock(path, "delivery")
        try:
            _ingest_locked(batch_df, batch_id)
        finally:
            release_maintenance_lock(lock)

    def _ingest_locked(batch_df, batch_id):
        _ann_delivery_unlocked(
            batch_df, int(batch_id), path, cand_id, vec, dim, m, on_report
        )

    return _ingest


def _ann_delivery_unlocked(
    batch_df, batch_tag: int, path: str, cand_id: str, vec: str,
    dim: int | None, m: int | None, on_report,
) -> int:
    """One exactly-once index delivery (the body of
    :func:`ann_ingest_batches`, factored out so
    :func:`semantic_ingest_batches` can run it under its OWN
    maintenance lock — the lock is not re-entrant).  The caller must
    hold the index's maintenance lock.  ``batch_tag`` is the stored
    sidecar batch id (possibly run-id-namespaced).  ``dim``/``m`` feed
    only the PQ append path; callers that have already refused the PQ
    layout pass None for both.  Returns the number of newly appended
    ids."""
    import os

    batch_id = batch_tag  # stored verbatim in the sidecar
    spark = batch_df.sparkSession
    _check_no_precompact(path)
    is_pq = os.path.isdir(os.path.join(path, "codebook"))
    ids = (
        batch_df.select(F.col(cand_id))
        .where(F.col(cand_id).isNotNull())
        .distinct()
        .withColumn(
            "_kb", F.pmod(F.hash(cand_id), F.lit(ANN_INGEST_ID_BUCKETS))
        )
    )
    stats = ids.agg(
        F.count(cand_id).alias("_n"),
        F.min(cand_id).alias("_lo"),
        F.max(cand_id).alias("_hi"),
    ).first()
    n_batch = int(stats["_n"])
    side = f"{path}/_ingested_ids"
    if os.path.exists(side) and n_batch:
        buckets = [int(r[0]) for r in ids.select("_kb").distinct().collect()]
        side_all = spark.read.parquet(side)
        from scdataset_spark.operators._maintenance import (
            check_batch_tag_dtype,
        )

        check_batch_tag_dtype(
            side_all,
            f"ANN ingest sidecar at {side}",
            "compact_ann_index",
        )
        # the delivery's id range is a sound pushed filter on the
        # key-sorted sidecar (ids outside it cannot be re-deliveries)
        seen = side_all.where(
            F.col("_kb").isin(buckets)
            & F.col("_k").between(stats["_lo"], stats["_hi"])
        )
        new_ids = ids.join(
            seen, ids[cand_id] == seen["_k"], "left_anti"
        )
    else:
        new_ids = ids
    # plain persist, NOT persist_bounded: the registry dedupes by
    # canonicalized plan, which compares parquet relations by ROOT
    # PATH — a later delivery (or a rerun against a recreated index
    # at the same path) would be handed a frame whose resolved file
    # listing predates this append and read deleted files
    new_ids = new_ids.select(cand_id, "_kb").persist()
    n_new = new_ids.count()
    if n_new:
        new_vecs = batch_df.select(cand_id, vec).join(
            new_ids.select(cand_id), cand_id, "left_semi"
        )
        if is_pq:
            append_to_pq_index(
                new_vecs, path, dim=dim, m=m, cand_id=cand_id, vec=vec,
                n_rows=n_new,
            )
        else:
            append_to_ann_index(
                new_vecs, path, cand_id=cand_id, vec=vec, n_rows=n_new
            )
        # sidecar LAST: its presence certifies the cells append
        # committed, so replays skip exactly the committed ids
        (
            new_ids.select(
                F.col(cand_id).alias("_k"),
                "_kb",
            )
            .withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
            .repartition("_kb")
            .sortWithinPartitions("_kb", "_k")
            .write.mode("append")
            .partitionBy("_kb")
            .parquet(side)
        )
    new_ids.unpersist()
    if on_report is not None:
        on_report(int(batch_id), int(n_batch), int(n_new))
    return int(n_new)


def semantic_ingest_batches(
    path: str,
    sink,
    threshold: float = 0.98,
    n_probe: int = 2,
    cand_id: str = "c_id",
    vec: str = "embedding",
    run_id: str | None = None,
    on_report=None,
):
    """Streaming SEMANTIC dedup-on-ingest — the embedding-cosine
    sibling of :func:`dedup.novel_ingest_batches`' Jaccard screen,
    composing the two r13 ingest verbs (VERDICT r13 task 4): each
    ``foreachBatch`` delivery is screened for novelty against the
    PERSISTED ANN index under its FROZEN routing geometry, the novel
    ids are handed to ``sink``, and only the novel vectors are then
    appended (via the shared :func:`ann_ingest_batches` delivery body,
    so the ``_ingested_ids`` sidecar keeps appends exactly-once) — a
    SemDeDup-style screen for a corpus that grows daily, O(delivery
    routing + probed-cells scan + novel append) per batch, never
    O(corpus).

    Screen semantics: a delivery vector is a DUPLICATE iff some stored
    vector in its ``n_probe`` probed cells has exact cosine >=
    ``threshold`` (the probe is :func:`ann_index_topk` with k=1 —
    max-cosine — so the screen inherits IVF's recall contract: a
    near-dup routed entirely outside the probed cells is missed, the
    same bounded-recall trade the batch :func:`semantic_dedup` makes
    with cluster-local pairs).  Because every delivery's novels are
    appended, delivery 2 dedups against delivery 1's kept vectors —
    the cumulative semantics a static index cannot give a stream.

    Replay safety: the screen excludes stored rows whose sidecar
    ``batch_id`` equals this delivery's tag (``exclude_ids`` reaches
    the cells scan BEFORE scoring), so a replay of a fully-committed
    delivery re-emits the identical novel set instead of colliding
    with its own earlier append; the append side is already id-
    idempotent via the sidecar.  Stored id-EQUAL rows from other
    deliveries are NOT excluded (``exclude_self=False``): an
    id-identical redelivery from a previous run scores cosine 1.0
    against its stored self and is correctly judged a duplicate.  The one non-atomic window is
    :func:`ann_ingest_batches`' documented crash-between-appends
    (cells committed, sidecar not): a replay then sees its own vectors
    as stored history and emits zero novels — detect with
    :func:`ann_ingest_consistency`, repair with
    :func:`rebuild_ann_index`.  ``run_id`` namespaces the tag across
    checkpoint lineages exactly as in ``novel_ingest_batches`` (pass
    the streaming query's stable id; None = single-checkpoint-lifetime
    semantics).

    Raw-vector layout only: the screen is an EXACT-cosine verify over
    stored vectors; the PQ layout stores m-byte codes, and an ADC
    approximation of the screen would silently change novelty verdicts
    — refuse loudly instead."""
    import os

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

        lock = acquire_maintenance_lock(path, "delivery")
        try:
            _ingest_locked(batch_df, batch_id)
        finally:
            release_maintenance_lock(lock)

    def _ingest_locked(batch_df, batch_id):
        spark = batch_df.sparkSession
        _check_no_precompact(path)
        if os.path.isdir(os.path.join(path, "codebook")):
            raise ValueError(
                f"index at {path} is a PQ layout: the semantic ingest "
                "screen needs exact cosine over raw stored vectors — "
                "build the raw build_ann_index layout for semantic "
                "dedup-on-ingest"
            )
        tag = _tag(batch_id)
        side = os.path.join(path, "_ingested_ids")
        exclude = None
        if os.path.exists(side):
            side_df = spark.read.parquet(side)
            if not _legacy_checked[0]:
                _legacy_checked[0] = True
                from scdataset_spark.operators._maintenance import (
                    warn_if_legacy_tag_collision,
                )

                warn_if_legacy_tag_collision(
                    side_df, tag, f"ANN ingest sidecar at {side}"
                )
            exclude = side_df.where(F.col("batch_id") == tag).select("_k")
        q = batch_df.select(F.col(cand_id), F.col(vec)).where(
            F.col(cand_id).isNotNull()
        )
        n_batch = q.select(cand_id).distinct().count()
        hits = ann_index_topk(
            spark,
            path,
            q.withColumnRenamed(cand_id, "_sq"),
            k=1,
            n_probe=n_probe,
            query_id="_sq",
            vec=vec,
            n_queries=n_batch,
            exclude_ids=exclude,
            exclude_self=False,
        )
        collided = (
            hits.where(F.col("cosine") >= threshold)
            .select(F.col("_sq").alias(cand_id))
            .distinct()
        )
        # localCheckpoint, NOT persist: the screen's lineage reads
        # {path}/cells, and the novel append below triggers Spark's
        # recacheByPath on that location, which RE-materializes any
        # cached plan referencing it — a persisted novel_ids would be
        # recomputed against the post-append cells, where the delivery's
        # own vectors now live, so every within-delivery near-pair would
        # suddenly "collide" and the sidecar write (evaluated after the
        # append) would see an empty frame.  Checkpointing truncates the
        # lineage to materialized blocks with no path reference.  Cost
        # is one delivery-sized id column in executor storage; an
        # executor loss fails the batch and the stream retries the
        # delivery — the replay contract already covers that.
        novel_ids = (
            q.select(cand_id)
            .distinct()
            .join(collided, cand_id, "left_anti")
            .localCheckpoint(eager=True)
        )
        n_novel = novel_ids.count()
        sink(
            novel_ids.withColumn(
                "batch_id", F.lit(tag).cast("bigint")
            )
        )
        if n_novel:
            # append AFTER the sink, novels only (same no-phantom rule
            # as novel_ingest_batches), under the lock we already hold.
            # dim/m are None ON PURPOSE: the raw-vector layout ignores
            # them, and this callback refused the PQ layout above — a
            # future PQ extension of the screen must plumb the real
            # geometry rather than inherit fabricated values (ADVICE r14)
            _ann_delivery_unlocked(
                q.join(novel_ids, cand_id, "left_semi"),
                tag, path, cand_id, vec, None, None, None,
            )
        if on_report is not None:
            on_report(int(batch_id), int(n_batch), int(n_novel))

    return _ingest


def ann_ingest_consistency(spark, path: str) -> DataFrame:
    """One-row health report for a stream-ingested index: distinct ids
    in the inverted lists vs ids in the ``_ingested_ids`` sidecar.
    ``duplicate_ids > 0`` is the signature of the documented
    crash-between-appends window (a delivery's vectors landed twice);
    ``unrecorded_ids > 0`` means rows reached the lists outside the
    streaming path (direct ``append_to_ann_index`` calls — fine, just
    invisible to ingest dedup).  Repair for duplicates is
    :func:`rebuild_ann_index`, which deduplicates by id when it
    reconstructs the corpus from the index's own storage."""
    cells = spark.read.parquet(f"{path}/cells")
    cid = [c for c in cells.columns if c not in ("_v", "_codes", "cell", "cell_group")][0]
    n_rows = cells.count()
    n_ids = cells.select(cid).distinct().count()
    from pyspark.errors import AnalysisException

    try:
        side = spark.read.parquet(f"{path}/_ingested_ids")
        n_side = side.select("_k").distinct().count()
    except AnalysisException:  # no sidecar: never stream-ingested
        n_side = 0
    return spark.createDataFrame(
        [(n_rows, n_ids, n_side, n_rows - n_ids, max(0, n_ids - n_side))],
        "list_rows bigint, distinct_ids bigint, sidecar_ids bigint, "
        "duplicate_ids bigint, unrecorded_ids bigint",
    )


def compact_ann_index(spark, path: str) -> DataFrame:
    """Layout-preserving small-file compaction for a persisted ANN or
    PQ index — the cheap maintenance verb between appends and a full
    :func:`rebuild_ann_index`: every :func:`append_to_ann_index` /
    :func:`append_to_pq_index` call writes one file per touched
    ``cell_group`` (plus, for PQ, per-append archive range files), so a
    frequently-appended index accumulates files linearly in append
    count, and the file LISTING becomes the measured cold-probe driver
    (the same write-side wall ``compact_unique_index`` closes for the
    gate's key index).  This rewrites ``cells/`` to one file per
    ``cell_group`` (sorted by ``cell``, so per-cell row-group pruning
    via min/max stats is preserved) and, on the PQ layout, rewrites
    ``archive/`` to the build's global range layout sorted by id
    (restoring whole-file id pruning that per-append range files only
    approximate).  Centroids and codebook are untouched: routing
    geometry, probe semantics, and results are identical before and
    after (pinned by test on both layouts).

    MUST run quiescent (no concurrent append/probe) — and quiescence
    over WRITERS is now enforced, not just stated: compaction and the
    streaming delivery callback take the same per-index
    ``_maintenance_lock`` for their whole duration, so a compaction can
    no longer start between a delivery's precompact check and its
    appends (concurrent PROBES remain the caller's contract).  Crash
    safety mirrors :func:`compact_unique_index`: each component is rewritten
    to a sibling temp dir and lands via two renames; the pre-swap
    component is kept at ``<component>__precompact`` until the swapped
    copy has been read back and row-count-verified, probes refuse to
    run while such a backup exists (:func:`_check_no_precompact`), and
    recovery is one rename.

    Returns one report row per rewritten component:
    ``(component, n_rows, files_before, files_after)``."""
    from scdataset_spark.operators._maintenance import (
        acquire_maintenance_lock,
        release_maintenance_lock,
    )

    lock = acquire_maintenance_lock(path, "compaction")
    try:
        return _compact_ann_index_locked(spark, path)
    finally:
        release_maintenance_lock(lock)


def _compact_ann_index_locked(spark, path: str) -> DataFrame:
    import os
    import shutil

    _check_no_precompact(path)  # before the layout check: a half-swapped
    # index has no cells/ but DOES have the backup, and that diagnosis wins
    if not os.path.isdir(os.path.join(path, "cells")):
        raise ValueError(
            f"no persisted index at {path}: expected a cells/ directory "
            "(build_ann_index / build_pq_index layout)"
        )
    is_pq = os.path.isdir(os.path.join(path, "codebook"))

    def _swap(component: str, rewrite) -> tuple[str, int, int, int]:
        cpath = os.path.join(path, component)
        df = spark.read.parquet(cpath)
        before = df.select(F.input_file_name()).distinct().count()
        n_rows = df.count()
        tmp = f"{cpath}__compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        rewrite(df, tmp)
        old = f"{cpath}__precompact"
        os.rename(cpath, old)
        os.rename(tmp, cpath)
        # verify BEFORE dropping the only backup
        re = spark.read.parquet(cpath)
        after = re.select(F.input_file_name()).distinct().count()
        n_after = re.count()
        if n_after != n_rows:
            raise RuntimeError(
                f"compacted {cpath} has {n_after} rows, expected {n_rows}; "
                f"pre-compaction component preserved at {old}"
            )
        shutil.rmtree(old)
        return component, n_rows, before, after

    def _rewrite_cells(df, out):
        (
            df.repartition("cell_group")
            .sortWithinPartitions("cell")
            .write.mode("overwrite")
            .partitionBy("cell_group")
            .parquet(out)
        )

    rows = [_swap("cells", _rewrite_cells)]
    if is_pq:
        id_col = [
            c
            for c in spark.read.parquet(f"{path}/archive").columns
            if c != "_v"
        ][0]

        def _rewrite_archive(df, out):
            (
                df.repartitionByRange(32, F.col(id_col))
                .sortWithinPartitions(id_col)
                .write.mode("overwrite")
                .parquet(out)
            )

        rows.append(_swap("archive", _rewrite_archive))
    if os.path.isdir(os.path.join(path, "_ingested_ids")):
        # stream-ingested indexes also accumulate one sidecar file per
        # touched bucket per delivery — same rewrite as the gate index
        def _rewrite_side(df, out):
            (
                # normalize legacy INT32 batch ids (see compact_band_index)
                df.withColumn("batch_id", F.col("batch_id").cast("bigint"))
                .repartition("_kb")
                .sortWithinPartitions("_kb", "_k")
                .write.mode("overwrite")
                .partitionBy("_kb")
                .parquet(out)
            )

        rows.append(_swap("_ingested_ids", _rewrite_side))
    return spark.createDataFrame(
        rows,
        "component string, n_rows bigint, files_before bigint, "
        "files_after bigint",
    )


def pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    refine: int = 3,
    n_probe: int = 2,
    dim: int = 64,
    m: int = 8,
    query_id: str = "q_id",
    vec: str = "embedding",
    n_queries: int | None = None,
) -> DataFrame:
    """Probe a persisted :func:`build_pq_index` layout: route queries
    to their ``n_probe`` nearest stored centroids, read ONLY the probed
    cells' code lists (PartitionFilters pruning), score by asymmetric
    distance against the PQ reconstruction (broadcast codebook — the
    lists never carry vectors), keep the top ``refine``·``k`` per query
    by ADC, fetch ONLY those rows' raw vectors from ``archive/`` by id
    (one |refine·k·queries|-row equi-join against the archive — at
    100 TB this is the point: the full-precision payload is touched
    for a few dozen rows per query, everything else moves as m-byte
    codes), exact cosine re-rank to the final top-k.

    Row-identical to the inline :func:`pq_topk` at the same build
    parameters (pinned by test + the shared SQL oracle).

    Driver-side id pushdown (probed-cell list, refine-id list) is the
    ONLINE posture — bounded by n_clusters and refine·k·|queries|.
    Past ``AUTO_SCALE_ROWS`` queries (``n_queries`` skips the
    resolution count) both flips to plain distributed joins: no
    driver lists, no broadcast of the corpus-sized routing frame, the
    archive fetch becomes a shuffle equi-join on the id.  Output:
    ``(query_id, cand_id, adc, cosine, rank)``."""
    _check_no_precompact(path)
    cent = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_dist", F.expr(_DIST_SQL.format(a="_qv", b="centroid")))
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy(query_id).orderBy("_dist", "cell")),
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    n_q = int(n_queries) if n_queries is not None else queries.count()
    online = n_q < AUTO_SCALE_ROWS
    if online:
        q_cells = persist_bounded(q_cells)
        probed = [int(r[0]) for r in q_cells.select("_cell").distinct().collect()]
        g = _cell_group_size(cent.count())
        groups = sorted({c // g for c in probed})
        lists = (
            spark.read.parquet(f"{path}/cells")
            .where(F.col("cell_group").isin(groups) & F.col("cell").isin(probed))
            .drop("cell_group")
        )
    else:
        lists = spark.read.parquet(f"{path}/cells").drop("cell_group")
    cand_id = [c for c in lists.columns if c not in ("_codes", "cell")][0]
    sub_dim = dim // m
    cb_arr = cb.agg(F.collect_list(F.struct("code", "codevec")).alias("_cb"))
    recon = (
        "flatten(transform(_codes, (cd, s) -> "
        f"slice(filter(_cb, c -> c.code = cd)[0].codevec, s * {sub_dim} + 1, {sub_dim})))"
    )
    c_recon = (
        lists.crossJoin(F.broadcast(cb_arr))
        .withColumn("_rv", F.expr(recon))
        .select(cand_id, "_rv", "cell")
    )
    adc = (
        c_recon.join(
            F.broadcast(q_cells) if online else q_cells,
            c_recon["cell"] == q_cells["_cell"],
        )
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("adc", F.expr(_DIST_SQL.format(a="_qv", b="_rv")))
    )
    w_adc = Window.partitionBy(query_id).orderBy(F.col("adc"), F.col(cand_id))
    refined = adc.withColumn("_ark", F.row_number().over(w_adc)).where(
        F.col("_ark") <= refine * k
    )
    if online:
        # the exact-rerank fetch touches <= refine·k·|queries| ids by
        # construction (bounded — an online query batch), so collect
        # them and push an In() filter into the range-sorted archive
        # scan: parquet min/max stats skip every row group outside the
        # id set, and the filtered side broadcasts
        refined = persist_bounded(refined)
        ids = [r[0] for r in refined.select(cand_id).distinct().collect()]
        archive = spark.read.parquet(f"{path}/archive").where(
            F.col(cand_id).isin(ids)
        )
        rescored = refined.join(F.broadcast(archive), cand_id).withColumn(
            "cosine", cosine_expr("_qv", "_v")
        )
    else:
        # corpus-sized batch: refine·k·|queries| is itself corpus-sized,
        # so the fetch is a distributed equi-join against the archive —
        # same answers, no driver list, no broadcast
        archive = spark.read.parquet(f"{path}/archive")
        rescored = refined.join(archive, cand_id).withColumn(
            "cosine", cosine_expr("_qv", "_v")
        )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "adc", "cosine", "rank")
    )


def rebuild_ann_index(
    spark,
    path: str,
    out_path: str,
    n_clusters: int | None = None,
    seed: int = 11,
    vectorized_assign: bool | None = None,
    dim: int | None = None,
    m: int | None = None,
    n_codes: int | None = None,
    pq_seed: int = 13,
    vectorized_encode: bool | None = None,
) -> None:
    """Rebuild a persisted index FROM ITS OWN STORAGE with fresh,
    corpus-right-sized geometry — the third verb of the lifecycle the
    monitor exists for: :func:`build_ann_index`/:func:`build_pq_index`
    freeze centroids (and codebook), :func:`append_to_ann_index`/
    :func:`append_to_pq_index` grow lists under that frozen geometry,
    :func:`ann_index_stats` shows the drift (hot cells, stale cells),
    and THIS is the documented "rebuild when the increment history
    outweighs the original build" — previously a sentence, now code.

    Layout is auto-detected (a ``codebook/`` directory marks the
    IVF-PQ shape).  The raw-vector source is the index itself — the
    ANN layout's inverted lists carry full vectors, the PQ layout
    keeps them in ``archive/`` — so no access to the original build
    frame is needed.  ``n_clusters=None`` re-resolves the cell budget
    from the CURRENT corpus size (original + every append) under the
    ``AUTO_SCALE_ROWS`` contract: that re-resolution is the point,
    appends that doubled the corpus get a doubled cell count instead
    of 2× hotter cells.  For the PQ shape the codebook is RETRAINED on
    the current corpus (``n_codes`` defaults to the stored codebook's
    size), clearing accumulated ADC quantization drift.

    Writes a complete fresh index at ``out_path`` (must differ from
    ``path`` — the build streams FROM the old index, and Spark's lazy
    reads forbid overwrite-what-you-read); swap paths when it lands.
    Cost is one full build over the current corpus — identical, by
    construction, to :func:`build_ann_index`/:func:`build_pq_index` on
    the reconstructed corpus frame (pinned row-equal by test), so the
    decade-measured linear build curve in BENCH_SCALE.md is this
    operator's cost curve too.

    PQ geometry (``dim``/``m``/``n_codes``) defaults to what the STORED
    layout actually uses — ``m`` from the length of a stored code list,
    ``dim`` from a stored archive vector, ``n_codes`` from the codebook
    — and an explicitly passed value that contradicts the storage
    raises instead of silently re-encoding with different quantization
    geometry (a valid-looking index whose ADC behavior no longer
    matches the build contract)."""
    import os as _os

    if _os.path.realpath(out_path) == _os.path.realpath(path):
        raise ValueError(
            "rebuild_ann_index must write to a fresh out_path: the build "
            "reads lazily from the old index, so in-place overwrite would "
            "corrupt it mid-scan"
        )
    _check_no_precompact(path)
    if not _os.path.isdir(_os.path.join(path, "cells")):
        raise ValueError(
            f"no persisted index at {path}: expected a cells/ directory "
            "(build_ann_index / build_pq_index layout)"
        )
    is_pq = _os.path.isdir(_os.path.join(path, "codebook"))
    if is_pq:
        cb = spark.read.parquet(f"{path}/codebook")
        # dropDuplicates: a crash between ann_ingest_batches' two appends
        # can land a delivery's rows twice (ann_ingest_consistency is the
        # detector); the rebuild is the documented repair, so it must
        # read each id ONCE.  Duplicate rows carry identical vectors (a
        # re-appended delivery), so the arbitrary pick is value-stable.
        corpus = spark.read.parquet(f"{path}/archive")
        cand_id = [c for c in corpus.columns if c != "_v"][0]
        corpus = corpus.dropDuplicates([cand_id])
        stored_m = int(
            spark.read.parquet(f"{path}/cells")
            .select(F.size("_codes").alias("_m"))
            .first()["_m"]
        )
        stored_dim = int(corpus.select(F.size("_v").alias("_d")).first()["_d"])
        if m is not None and int(m) != stored_m:
            raise ValueError(
                f"m={m} contradicts the stored layout (code lists are "
                f"{stored_m} long); rebuild with m=None to inherit it"
            )
        if dim is not None and int(dim) != stored_dim:
            raise ValueError(
                f"dim={dim} contradicts the stored layout (archive vectors "
                f"are {stored_dim}-dimensional); rebuild with dim=None"
            )
        build_pq_index(
            corpus, out_path, n_clusters=n_clusters, dim=stored_dim,
            m=stored_m,
            n_codes=int(n_codes) if n_codes is not None else cb.count(),
            seed=seed, pq_seed=pq_seed, cand_id=cand_id, vec="_v",
            vectorized_encode=vectorized_encode,
            vectorized_assign=vectorized_assign,
        )
    else:
        corpus = spark.read.parquet(f"{path}/cells").drop("cell", "cell_group")
        cand_id = [c for c in corpus.columns if c != "_v"][0]
        # same crash-window dedup as the PQ branch
        corpus = corpus.dropDuplicates([cand_id])
        build_ann_index(
            corpus, out_path, n_clusters=n_clusters, seed=seed,
            cand_id=cand_id, vec="_v",
            vectorized_assign=vectorized_assign,
        )


def ann_recall(
    ann: DataFrame,
    exact: DataFrame,
    query_id: str = "q_id",
    cand_id: str = "c_id",
) -> DataFrame:
    """Recall report of an ANN result against the exact top-k — the
    "measure, don't guess" verb for every approximate path in this
    module (IVF, LSH buckets, projections, PQ): per query, how many of
    the exact neighbors the approximate index actually returned.  The
    denominator is the per-query EXACT result size (== k when the
    corpus has at least k eligible candidates), so truncated tails
    near tiny corpora don't inflate recall.  Both inputs are top-k
    frames — k·|queries| rows, serving-batch-sized by construction —
    so the joins here are trivially broadcastable; cost lives in
    producing the inputs, not in the report.  Output:
    ``(query_id, hits, n_exact, recall)``."""
    a = ann.select(query_id, cand_id)
    e = exact.select(query_id, cand_id)
    inter = (
        e.join(a, [query_id, cand_id], "left_semi")
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    base = e.groupBy(query_id).agg(F.count(F.lit(1)).alias("_n"))
    return base.join(inter, query_id, "left").select(
        query_id,
        F.coalesce("_hits", F.lit(0)).cast("bigint").alias("hits"),
        F.col("_n").cast("bigint").alias("n_exact"),
        F.round(F.coalesce("_hits", F.lit(0)) / F.col("_n"), 4).alias("recall"),
    )


def pq_adc_agreement(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    refine: int = 3,
    n_probe: int = 2,
    query_id: str = "q_id",
    vec: str = "embedding",
) -> DataFrame:
    """Quantization-drift monitor for a persisted :func:`build_pq_index`
    layout: per query, does the ADC (PQ-reconstruction) ranking still
    surface the TRUE nearest neighbors of the cells it probes?
    :func:`ann_recall` measures END-TO-END recall, which conflates
    routing error (wrong cells probed — an :func:`ann_index_stats` /
    geometry problem) with quantization error (right cells, wrong
    order — a codebook problem).  This isolates the latter by comparing
    ADC's top ``refine·k`` against the EXACT cosine top-k computed on
    the SAME probed cells: agreement 1.0 means every true neighbor the
    probe could have returned survived the ADC cut, so falling
    agreement at stable occupancy is specifically the "codebook
    trained on a distribution the appends have drifted away from"
    signal — the rebuild trigger :func:`append_to_pq_index`'s drift
    caveat prescribes.

    Run it on a SAMPLED query set: the exact side fetches raw vectors
    for every candidate in the probed cells (that is the point — it
    must see neighbors ADC dropped), so cost is
    |queries|·n_probe·avg-cell-occupancy archive rows, fine for a
    monitoring sample, not for a corpus-sized batch.  Output:
    ``(query_id, adc_hits, n_exact, agreement)``."""
    _check_no_precompact(path)
    cent = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    q = queries.select(F.col(query_id), F.col(vec).alias("_qv"))
    q_cells = persist_bounded(
        q.crossJoin(F.broadcast(cent))
        .withColumn("_dist", F.expr(_DIST_SQL.format(a="_qv", b="centroid")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy("_dist", "cell")
            ),
        )
        .where(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", F.col("cell").alias("_cell"))
    )
    probed = [int(r[0]) for r in q_cells.select("_cell").distinct().collect()]
    g = _cell_group_size(cent.count())
    groups = sorted({c // g for c in probed})
    lists = (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("cell_group").isin(groups) & F.col("cell").isin(probed))
        .drop("cell_group")
    )
    cand_id = [c for c in lists.columns if c not in ("_codes", "cell")][0]
    dim_row = (
        spark.read.parquet(f"{path}/archive")
        .select(F.size("_v").alias("_d"))
        .first()
    )
    m_row = lists.select(F.size("_codes").alias("_m")).first()
    if dim_row is None or m_row is None:
        raise ValueError(f"index at {path} is empty")
    sub_dim = int(dim_row["_d"]) // int(m_row["_m"])
    cb_arr = cb.agg(F.collect_list(F.struct("code", "codevec")).alias("_cb"))
    recon = (
        "flatten(transform(_codes, (cd, s) -> "
        f"slice(filter(_cb, c -> c.code = cd)[0].codevec, s * {sub_dim} + 1, {sub_dim})))"
    )
    archive = spark.read.parquet(f"{path}/archive")
    scored = (
        lists.crossJoin(F.broadcast(cb_arr))
        .withColumn("_rv", F.expr(recon))
        .join(archive, cand_id)  # true vectors for the SAME candidates
        .join(F.broadcast(q_cells), F.col("cell") == F.col("_cell"))
        .where(F.col(query_id) != F.col(cand_id))
        .withColumn("adc", F.expr(_DIST_SQL.format(a="_qv", b="_rv")))
        .withColumn("cosine", cosine_expr("_qv", "_v"))
    )
    w_adc = Window.partitionBy(query_id).orderBy(F.col("adc"), F.col(cand_id))
    w_cos = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(cand_id)
    )
    # two downstream branches (ADC cut, exact cut) — persist the shared
    # sample-sized ranking or each branch re-runs the scoring subplan
    # (the multi-branch persist rule, textanalysis.py:387)
    ranked = persist_bounded(
        scored.select(
            query_id,
            cand_id,
            F.row_number().over(w_adc).alias("_ark"),
            F.row_number().over(w_cos).alias("_xrk"),
        )
    )
    adc_top = ranked.where(F.col("_ark") <= refine * k).select(query_id, cand_id)
    exact_top = ranked.where(F.col("_xrk") <= k).select(query_id, cand_id)
    rep = ann_recall(adc_top, exact_top, query_id=query_id, cand_id=cand_id)
    return rep.select(
        query_id,
        F.col("hits").alias("adc_hits"),
        "n_exact",
        F.col("recall").alias("agreement"),
    )


def mmr_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): per query, greedily pick ``k`` results maximizing
    ``lam·rel(q, d) − (1−lam)·max_{s∈S} sim(d, s)`` — relevance traded
    against redundancy with what is already selected.  The
    eval-set/few-shot-pool builder: plain top-k returns ``k``
    near-duplicates of the best hit; MMR returns ``k`` DIFFERENT
    relevant results.

    Two stages.  (1) CORPUS-SCALE: the relevance pool is
    :func:`brute_force_topk` (broadcast queries, salted exact top-``pool``
    — the only pass that touches the full candidate set), persisted via
    the bounded cache.  (2) POOL-SCALE: ``k`` greedy rounds on the
    ≤ ``pool``-rows-per-query frame; each round collects exactly ONE
    row per query to the driver (the bounded-collect pattern the
    centroid/codebook builds use — ``k × n_queries`` rows total, never
    corpus-scaled) and re-joins the literal pick ids against the cached
    pool, keeping every plan flat instead of growing a 2^k lineage.
    (Measured at sf0.1: a fully-lazy unrolled variant of the rounds —
    broadcast anti/sim joins against the growing selected-set lineage —
    re-materializes the shared selected subplans inside every broadcast
    build and degrades from seconds to minutes; the collect-loop's cost
    is fixed per-round scheduling, independent of corpus size.)

    Engine-portable determinism: relevance and pairwise similarity are
    the rounded-to-4 cosine; the MMR score rounds to 6 with ``cand_id``
    tie-break; the first pick's score is ``round(lam·rel, 6)`` (empty
    selected set — the max-sim term is 0 by convention).  The pool
    windows partition by ``query_id`` over ≤ ``pool`` rows, so no
    hot-group hazard exists at any corpus size."""
    if k < 1 or pool < k:
        raise ValueError(f"need 1 <= k <= pool, got k={k}, pool={pool}")
    from scdataset_spark.operators._cache import persist_bounded

    spark = queries.sparkSession
    topk = brute_force_topk(
        queries, candidates, k=pool, query_id=query_id, cand_id=cand_id, vec=vec
    )
    cvec = candidates.select(
        F.col(cand_id), F.col(vec).alias("_cv"), norm_col(vec).alias("_cn")
    )
    p = persist_bounded(
        topk.select(query_id, cand_id, F.col("cosine").alias("rel")).join(
            cvec, cand_id
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("mmr_score").desc(), F.col(cand_id)
    )
    mu = 1.0 - lam
    first = (
        p.withColumn("mmr_score", F.expr(f"round({lam!r} * rel, 6)"))
        .withColumn("_prk", F.row_number().over(w))
        .where(F.col("_prk") == 1)
        .select(query_id, cand_id, "rel", "mmr_score")
    )
    out_schema = f"{query_id} long, {cand_id} long, rel double, mmr_score double, pick_rank int"
    sel_rows = [tuple(r) + (1,) for r in first.collect()]
    for i in range(2, k + 1):
        sel_lit = spark.createDataFrame(sel_rows, out_schema)
        sel_vecs = sel_lit.select(query_id, cand_id).join(
            p, [query_id, cand_id]
        ).select(
            query_id, F.col("_cv").alias("_sv"), F.col("_cn").alias("_sn")
        )
        rem = p.join(
            F.broadcast(sel_lit.select(query_id, cand_id)),
            [query_id, cand_id],
            "left_anti",
        )
        maxsim = (
            rem.join(F.broadcast(sel_vecs), query_id)
            .withColumn("_ps", cosine_norm_expr("_cv", "_sv", "_cn", "_sn"))
            .groupBy(query_id, cand_id)
            .agg(F.max("_ps").alias("_maxsim"))
        )
        pick = (
            rem.join(F.broadcast(maxsim), [query_id, cand_id])
            .withColumn(
                "mmr_score",
                F.expr(f"round({lam!r} * rel - {mu!r} * _maxsim, 6)"),
            )
            .withColumn("_prk", F.row_number().over(w))
            .where(F.col("_prk") == 1)
            .select(query_id, cand_id, "rel", "mmr_score")
        )
        sel_rows.extend(tuple(r) + (i,) for r in pick.collect())
    return spark.createDataFrame(sel_rows, out_schema)
