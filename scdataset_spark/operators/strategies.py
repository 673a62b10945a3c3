"""Sampling strategies: ordered index streams as DataFrame plans.

Each strategy re-expresses one reference strategy
(``src/scdataset/strategy.py``) as a deterministic DataFrame transform:

    plan(df, seed, epoch) -> DataFrame[..., pos]

where ``pos`` is the 0-based yield position.  All randomness comes from
``mix(k, seed_eff)`` (see ``plans/seeds.py``) with
``seed_eff = seed + epoch * 1000`` — the reference's epoch-reseeding rule
(``src/scdataset/scdataset.py:471-478``), so every epoch is a fresh but
reproducible permutation and every engine (Spark executor, DuckDB
oracle) derives the identical stream.

Scale design: none of these strategies materializes an index array on
the driver (the reference builds a full ``np.ndarray`` of indices; at
100 TB that is ~100 G rows), and — critically — **no strategy ever puts
the full table through a single-partition global window**:

- ``pos0`` (rank of row_id) comes from the bucketed ``with_pos`` path:
  per-bucket counts + broadcast offsets + partition-local numbering.
- block/buffer permutations compute the final ``pos`` arithmetically:
  a tiny *block metadata* frame (n/block_size rows) is ordered by its
  mix keys, cumulative block starts are broadcast-joined back, and
  ``pos = block_start + offset_in_block``.  The big table is only ever
  hash-partitioned and locally sorted.
- cumulative weights for inverse-CDF sampling are the running-sum
  mode of ``plans.plan._bucketed_prefix``, the one bucket-offset
  prefix: per-bucket weight totals become broadcast offsets and the
  running sum stays bucket-local (``_weighted_draws`` buckets on
  ``row_id div chunk`` when the input bytes are known, min/max range
  buckets otherwise).  The intervals do not depend on the seed, so
  they are persisted (``persist_bounded``, coalesced to the cluster's
  width) and built once per input: every later epoch only draws,
  probes the cached intervals and permutes.  A one-shot weighted query
  pays that cache build once.

Counts needed by the math (n, total weight) are scalar aggregates
broadcast back via crossJoin — Catalyst plans them as a broadcast
nested-loop over a 1-row relation, never a driver collect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scdataset_spark.plans.seeds import MIX_MOD, mix_sql
from scdataset_spark.plans.plan import _bucketed_prefix, with_pos
from scdataset_spark.session import input_probe, python_stage_partitions

POS_BUCKETS = 64  # buckets for distributed row numbering / running sums

# Target rows per bucket for the single-scan weighted-CDF path: the
# bucket count scales ~est_rows/CDF_BUCKET_ROWS (clamped to
# [POS_BUCKETS, 65536]) so the per-bucket running-sum sort stays
# task-sized at any SF while the offsets frame stays broadcast-tiny.
CDF_BUCKET_ROWS = 8_000_000


def _seed_eff(seed: int, epoch: int) -> int:
    """Reference epoch rule: current_seed = base_seed + epoch*1000."""
    return seed + epoch * 1000


@dataclass
class SamplingStrategy:
    """Base: optional subset restriction (S2).

    ``where`` is a SQL predicate string restricting the collection (the
    Spark analogue of the reference's ``indices=`` array — reference
    sorts user-provided subsets, ``strategy.py:65-116``; here the subset
    is declarative so Catalyst pushes it into the scan).
    """

    where: str | None = None
    assume_dense: bool = False

    def _subset(self, df: DataFrame) -> DataFrame:
        return df.where(self.where) if self.where else df

    def _pos0(self, df: DataFrame) -> DataFrame:
        """0-based rank of row_id.  With ``assume_dense`` (row_id is
        already 0..n-1, the ingest contract) and no subset, pos0 IS
        row_id — zero extra jobs; otherwise the bucketed distributed
        numbering."""
        if self.assume_dense and self.where is None:
            return df.withColumn("pos0", F.col("row_id"))
        return with_pos(df, "row_id", "pos0", buckets=POS_BUCKETS)

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        raise NotImplementedError


@dataclass
class Streaming(SamplingStrategy):
    """S1/O2 — sequential scan in ``row_id`` order; optional buffer-level
    shuffle (reference ``Streaming(shuffle=True)``,
    ``strategy.py:183-345``): rows are fetched sequentially in buffers of
    ``batch_size*fetch_factor`` and permuted *within* each buffer
    (Ray/WebDataset-style), preserving I/O locality.
    """

    shuffle: bool = False
    buffer_size: int = 1024  # batch_size * fetch_factor at execution time

    def __post_init__(self):
        if self.buffer_size <= 0:
            raise ValueError(f"buffer_size must be positive, got {self.buffer_size}")

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        s = _seed_eff(seed, epoch)
        out = self._pos0(self._subset(df))
        if not self.shuffle:
            return out.withColumnRenamed("pos0", "pos")
        # buffers are contiguous runs of buffer_size positions, so the
        # permutation is buffer-local: partition-parallel window, and
        # pos = buffer_id*size + local rank (pos0 is dense).
        out = out.withColumn("buffer_id", F.expr(f"pos0 div {self.buffer_size}"))
        out = out.withColumn("shuffle_key", F.expr(mix_sql("pos0", s, "spark")))
        w = Window.partitionBy("buffer_id").orderBy("shuffle_key", "pos0")
        return out.withColumn(
            "pos",
            F.col("buffer_id") * self.buffer_size + F.row_number().over(w) - F.lit(1),
        ).drop("pos0")


@dataclass
class BlockShuffling(SamplingStrategy):
    """O1/O15 — block shuffle (reference ``strategy.py:348-554``).

    Sorted indices are cut into runs of ``block_size``; run order is
    permuted, intra-run order preserved (disk locality ↔ randomness
    dial — the paper's headline trick).  The trailing partial block is
    inserted at a random boundary — here it simply receives a mix key
    from the same distribution as full blocks, which is the same
    semantics.  ``drop_last=True`` removes ``n % block_size`` *random*
    rows (reference drops random indices, not the tail,
    ``strategy.py:536-540``): we drop the rows with the largest
    ``mix(pos0, s+1)``, a seeded uniform choice.
    """

    block_size: int = 8
    drop_last: bool = False

    def __post_init__(self):
        if self.block_size <= 0:
            raise ValueError(f"block_size must be positive, got {self.block_size}")

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        s = _seed_eff(seed, epoch)
        out = self._pos0(self._subset(df))
        if self.drop_last:
            # The k = n % block_size rows with the largest drop keys are
            # removed ENTIRELY in-plan.  k < block_size by construction,
            # so the drop set is the top-(block_size-1) rows by
            # (drop_key DESC, pos0 ASC) — a sort-LIMIT
            # (TakeOrderedAndProject: per-partition top-k, no full-data
            # shuffle) — ranked in a ≤(block_size-1)-row window and
            # trimmed to k with n riding in as a broadcast scalar agg
            # (ties included, same order as the oracle's row_number).
            # The kept rows' dense 0..m-1 positions are then ARITHMETIC —
            # pos0 minus the count of dropped positions below it, from
            # the sorted ≤(block_size-1)-element drop-set array on a
            # 1-row broadcast — instead of a second full bucketed
            # re-rank: both full-data shuffles of the pre-r16 shape
            # disappear (A/B: 4x warm at sf0.1, 3.8x at sf1,
            # artifacts/r16/ab_o15_droptopk_*.jsonl).  plan() stays
            # lazy — no Spark job runs until the caller acts (asserted
            # in tests).
            cand = (
                out.select(
                    F.col("pos0").alias("_dp"),
                    F.expr(mix_sql("pos0", s + 1, "spark")).alias("_dk"),
                )
                .orderBy(F.col("_dk").desc(), F.col("_dp").asc())
                .limit(max(self.block_size - 1, 0))
            )
            w_c = Window.orderBy(F.col("_dk").desc(), F.col("_dp").asc())
            ranked = cand.withColumn("_drnk", F.row_number().over(w_c))
            n_agg = out.agg(F.count(F.lit(1)).alias("_n"))
            drop_arr = (
                ranked.crossJoin(F.broadcast(n_agg))
                .where(F.col("_drnk") <= F.col("_n") % self.block_size)
                .agg(F.sort_array(F.collect_list("_dp")).alias("_darr"))
            )
            out = (
                out.crossJoin(F.broadcast(drop_arr))
                .where(~F.expr("array_contains(_darr, pos0)"))
                .withColumn(
                    "pos0",
                    F.col("pos0") - F.expr("size(filter(_darr, x -> x < pos0))"),
                )
                .drop("_darr")
            )
        # drop the internal block_id for schema consistency with the
        # other strategies (BlockWeightedSampling already drops it)
        return _block_permute_pos(out, self.block_size, s).drop("block_id")


# Block-metadata generation/offsets sizing for _block_permute_pos.  At
# 100 TB with block=256 the blocks frame is billions of rows: neither
# its GENERATION (explode over a 1-row count) nor its running-sum
# ordering may run through a single task.  Each explode task emits at
# most BLOCK_META_CHUNK block rows; the exclusive running sum range-
# buckets on the mix key (uniform in [0, MIX_MOD) — static bounds, no
# stats agg) so per-bucket sorts stay ~n_blocks/BLOCK_OFFSET_BUCKETS.
# Both are PHYSICAL knobs only: the computed offsets are bit-identical
# at any chunk/bucket count.
BLOCK_META_CHUNK = 1 << 20
BLOCK_OFFSET_BUCKETS = 1024

# Largest estimated BLOCK COUNT for which the blocks frame keeps the
# single-window shape (one explode task + one global running-sum
# window): a 4M-row metadata sort in one task is ~100 MB — comfortable
# — while the distributed shape costs 3 extra exchanges + their AQE
# stages, measured 2-4x the whole o1 warm time at sf0.1/sf1
# (artifacts/r16/ab_blockpermute_*.jsonl).  Past the threshold the
# chunked-generation + bucketed-running-sum shape takes over.  The
# estimate is driver-side (input file bytes over a deliberately LOW
# bytes/row so the scale shape kicks in early); frames with no file
# information use the scale shape — the safe posture.  This is a
# plan-time physical choice: both shapes are value-identical (pinned in
# tests/test_strategies_stats.py).
BLOCK_META_WINDOW_MAX = 4_000_000
_EST_MIN_BYTES_PER_ROW = 16


def _block_permute_pos(out: DataFrame, block_size: int, s: int) -> DataFrame:
    """Final position of a block permutation WITHOUT a global window on
    the data: order only the block *metadata* (n/block_size rows) by its
    mix keys, turn that into cumulative output offsets, and join back —
    ``pos = block_start + (pos0 - block_id*B)``.

    Equivalent to ``row_number() OVER (ORDER BY mix(block_id), pos0)``
    because blocks are contiguous, dense runs of pos0.  The only sorts
    are over the blocks frame; the join is a plain equi-join on
    block_id (AQE broadcasts it while it fits).

    pos0 is dense 0..n-1 at every call site (``_pos0``/``with_pos``/
    ``row_number()-1`` all produce 0-based ranks), so the block sizes
    need no groupBy over the data (r15, guide §2.3 — shuffle metadata,
    not payloads): every block holds exactly ``block_size`` rows except
    the last, so the blocks frame is generated from ONE count-star
    scalar (a column-less scan) + ``explode(sequence(...))`` — the
    per-block-count aggregation shuffle of the full table disappears
    from the plan.

    r16 (VERDICT r15 task 6): past ``BLOCK_META_WINDOW_MAX`` estimated
    blocks the frame itself goes scale-safe — generation becomes a
    TWO-LEVEL explode (chunk ids spread over the cluster with an
    explicit partition count, then ≤ ``BLOCK_META_CHUNK`` blocks per
    chunk task), and the exclusive block start is
    :func:`~scdataset_spark.plans.plan._bucketed_prefix`'s running sum
    of the block sizes in (mix key, block_id) order, bucketed on the
    static mix-key range ``_bkey * BLOCK_OFFSET_BUCKETS div MIX_MOD``,
    minus the block's own size.  Below the threshold the single-window
    shape stays — the distributed shape's 3 extra exchanges measured
    2-4x the whole query's warm time at sf0.1/sf1 (see
    BLOCK_META_WINDOW_MAX).  Values are identical either way — buckets
    are ranges of the leading sort key, so every tiebreak stays
    bucket-local (pinned by value-equality tests vs the global-window
    shape in tests/test_strategies_stats.py)."""
    out = out.withColumn("block_id", F.expr(f"pos0 div {block_size}"))
    n_agg = out.agg(F.count(F.lit(1)).alias("_n"))
    nbytes = input_probe(out)[1]
    small = (
        nbytes is not None
        and nbytes // _EST_MIN_BYTES_PER_ROW // block_size <= BLOCK_META_WINDOW_MAX
    )
    last_block = f"(_n - 1) div {block_size}"
    if small:
        blocks = n_agg.select(
            "_n",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.expr(last_block))).alias(
                "block_id"
            ),
        )
    else:
        # level 1: one row per BLOCK_META_CHUNK-sized chunk of block ids,
        # spread with an explicit partition count (the chunk rows are a
        # few bytes each, so AQE's byte-based coalescing would
        # re-serialize the generation onto one task)
        chunks = n_agg.select(
            "_n",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.expr(f"({last_block}) div {BLOCK_META_CHUNK}"),
                )
            ).alias("_chunk"),
        ).repartition(python_stage_partitions(out), "_chunk")
        # level 2: the chunk's block ids
        blocks = chunks.select(
            "_n",
            F.explode(
                F.sequence(
                    F.col("_chunk") * BLOCK_META_CHUNK,
                    F.least(
                        F.expr(last_block),
                        (F.col("_chunk") + 1) * BLOCK_META_CHUNK - 1,
                    ),
                )
            ).alias("block_id"),
        )
    # each block's exact size (closed form) and its mix key
    blocks = blocks.withColumn(
        "_bn",
        F.least(
            F.lit(block_size).cast("bigint"),
            F.col("_n") - F.col("block_id") * block_size,
        ),
    ).drop("_n")
    blocks = blocks.withColumn("_bkey", F.expr(mix_sql("block_id", s, "spark")))
    if small:
        w = Window.orderBy("_bkey", "block_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        blocks = blocks.withColumn(
            "_bstart", F.coalesce(F.sum("_bn").over(w), F.lit(0))
        )
    else:
        # _bkey < MIX_MOD, so the static bucket stays below
        # BLOCK_OFFSET_BUCKETS and the product ~2^41 (no overflow)
        nb = BLOCK_OFFSET_BUCKETS
        blocks, _ = _bucketed_prefix(
            blocks, [], "_bkey", [("_bkey", "asc"), ("block_id", "asc")],
            "_bstart", nb, "_bn", bucket=F.expr(f"_bkey * {nb} div {MIX_MOD}"),
        )
        blocks = blocks.withColumn("_bstart", F.col("_bstart") - F.col("_bn"))
    return (
        out.join(blocks.select("block_id", "_bstart"), "block_id")
        .withColumn(
            "pos", F.col("_bstart") + F.col("pos0") - F.col("block_id") * block_size
        )
        .drop("pos0", "_bstart")
    )


# Above this many draws the draws side stops being broadcast in the
# inverse-CDF interval join (``_weighted_draws``): a draw row is three
# BIGINTs (~24 B payload, ~3x that with row overhead), so 2M draws is a
# ~50-150 MB broadcast — the upper edge of executor-safe.  Beyond it the
# shuffled hash join is the right plan anyway (both sides are genuinely
# large).
BROADCAST_DRAWS_MAX = 2_000_000

@dataclass
class BlockWeightedSampling(SamplingStrategy):
    """O3/O4 — weighted sampling, then sort + block shuffle
    (reference ``strategy.py:557-867``).

    ``replace=True``: draw ``total_size`` indices ∝ weights by exact
    integer inverse-CDF — targets ``t_i = mix(i, s) % total_w`` against
    the running-sum intervals of an integer weight column.  Integer
    weights make the whole computation exact (no FP cumsum divergence
    between engines).  Float weights are supported by pre-scaling to
    integers (``weight_scale``).

    ``replace=False``: repeated no-replacement rounds of
    ``sampling_size`` via A-Res weighted reservoir (key = -ln(u)/w,
    u = (mix+1)/MOD; take the k smallest keys per round) until
    ``total_size`` rows are drawn — duplicates across rounds allowed,
    as in the reference (``strategy.py:832-844``).

    The drawn multiset is then sorted by row_id and block-shuffled
    (reference re-sorts + reshuffles, ``strategy.py:846-867``).
    """

    block_size: int = 8
    weight_col: str = "w"
    total_size: int = 1000
    replace: bool = True
    sampling_size: int | None = None
    weight_scale: int = 1_000_000

    def __post_init__(self):
        if self.block_size <= 0:
            raise ValueError(f"block_size must be positive, got {self.block_size}")
        if self.total_size <= 0:
            raise ValueError(f"total_size must be positive, got {self.total_size}")
        if self.sampling_size is not None and self.sampling_size <= 0:
            raise ValueError(f"sampling_size must be positive, got {self.sampling_size}")
        if not self.replace and self.sampling_size is None:
            # mirror the reference's constructor check (strategy.py:680-690):
            # without-replacement draws need an explicit per-round size
            raise ValueError("sampling_size is required when replace=False")

    def _weighted_draws(self, df: DataFrame, s: int) -> DataFrame:
        spark = df.sparkSession
        # Exact-integer weights: ceil(w * scale).  For integer weight
        # columns this is exact; for float weights the quantization error
        # is 1/weight_scale.  Integer cumsums are what keep the inverse
        # CDF bit-identical between Spark and the DuckDB oracle.
        # negative weights are a caller error (reference raises ValueError,
        # strategy.py:680-690) — fail at execution time via raise_error,
        # JVM-side, without an extra validation job; zero-weight rows are
        # legitimately undrawable and leave the CDF.
        wint = F.when(
            F.col(self.weight_col) < 0,
            F.raise_error(
                F.concat(
                    F.lit(f"negative weight in column {self.weight_col!r}: "),
                    F.col(self.weight_col).cast("string"),
                )
            ).cast("bigint"),
        ).otherwise(
            F.ceil(F.col(self.weight_col).cast("double") * self.weight_scale).cast("bigint")
        )
        base = df.withColumn("_wi", wint).where(F.col("_wi") > 0).select("row_id", "_wi")
        # The CDF is _bucketed_prefix's running sum of _wi in row_id
        # order.  With the input bytes known, buckets are
        # ``row_id div chunk`` with ``chunk`` from the driver-side
        # estimate: no min/max stats scan and no crossJoin of it onto
        # every data row (r16, VERDICT r15 task 5: 1.35->0.58 s at sf0.1,
        # 2.10->0.68 s at sf1, artifacts/r16/ab_o3_singlescan_*.jsonl),
        # and a bucket holds at most ``chunk`` rows even for a clustered
        # row_id subset.  Otherwise min/max range buckets.  Bucketing is
        # a PHYSICAL knob: any monotone map of row_id gives the identical
        # running sum.  The total is the sum of the bucket totals on the
        # persisted 64-to-65k-row offsets frame.  The interval frame is
        # persisted too (below): r14 measured such a persist slower on
        # one-shot runs, where it only costs; across epochs it is built
        # once (epoch_balanced_files 65k -> 81k samples/s, 11 -> 6 jobs
        # per epoch on 4 cores), and a one-shot query pays the build.
        from scdataset_spark.operators._cache import persist_bounded

        nbytes = input_probe(df)[1]
        nb, bucket, parts = POS_BUCKETS, None, None
        if nbytes is not None:
            est = nbytes // _EST_MIN_BYTES_PER_ROW  # ≈ row-count upper bound
            nb = min(65536, max(POS_BUCKETS, est // CDF_BUCKET_ROWS))
            bucket = F.expr(f"row_id div {max(1, est // nb)}")
            # cached-interval partitions: cluster width, raised so no
            # partition holds more than CDF_BUCKET_ROWS estimated rows
            parts = max(python_stage_partitions(df), -(-est // CDF_BUCKET_ROWS))
        cum, offsets = _bucketed_prefix(
            base, [], "row_id", [("row_id", "asc")], "hi", nb, "_wi", bucket=bucket
        )
        total = persist_bounded(offsets).agg(F.sum("_btot").alias("_total"))
        cum = cum.withColumn("lo", F.col("hi") - F.col("_wi")).select(
            "row_id", "lo", "hi"
        )
        draws = spark.range(self.total_size).withColumnRenamed("id", "draw_id")
        # 62-bit target: one mix() only covers [0, 2^31) — with scaled
        # integer weights the cumulative total easily exceeds that, and a
        # 31-bit target would only ever sample the low end of the CDF.
        t62 = (
            f"(({mix_sql('draw_id', s, 'spark')}) * 2147483648 "
            f"+ ({mix_sql('draw_id', s + 1, 'spark')}))"
        )
        draws = draws.crossJoin(F.broadcast(total)).withColumn(
            "t", F.expr(t62) % F.col("_total")
        )
        # Bucketed interval join against the SAME broadcast total (its
        # _total is the interval-bucket width input): each [lo, hi)
        # interval explodes to the integer buckets it overlaps (~1 per
        # row under near-uniform weights) and the range join becomes an
        # equi-join on ``bucket`` + a residual range filter — never a
        # nested loop.  All bucket math is integer `div`: cumulative
        # totals can exceed 2^53, where double division would
        # mis-bucket rows on one side and silently drop draws.
        # Join strategy (VERDICT r14 task 4): with draws ≪ rows
        # (total_size ≤ BROADCAST_DRAWS_MAX) the DRAWS side broadcasts
        # so the exploded interval side streams map-side (measured
        # ~2.3x on the join stage at sf0.1, BENCH_SCALE.md "r15 o3
        # stage breakdown"); past it the shuffled hash join is right
        # anyway (both sides genuinely large).
        nb2 = 1024
        wexpr = f"(_total + {nb2 - 1}) div {nb2}"
        cum_b = (
            cum.crossJoin(F.broadcast(total))
            .withColumn("_w", F.expr(wexpr))
            .withColumn(
                "bucket",
                F.explode(F.sequence(F.expr("lo div _w"), F.expr("(hi - 1) div _w"))),
            )
            .select("bucket", "row_id", "lo", "hi")
        )
        # Seed-independent, so built once: every epoch plans the same
        # cum_b and persist_bounded hands back the registered entry.  AQE
        # does not coalesce a cached plan, so the count is explicit (else
        # every epoch scans the _bucket exchange's initial partitions).
        if parts is not None:
            cum_b = cum_b.coalesce(parts)
        cum_b = persist_bounded(cum_b)
        draws_b = draws.withColumn("bucket", F.expr(f"t div ({wexpr})")).select(
            "draw_id", "t", "bucket"
        )
        if self.total_size <= BROADCAST_DRAWS_MAX:
            joined = cum_b.join(F.broadcast(draws_b), "bucket")
        else:
            joined = draws_b.join(cum_b, "bucket")
        return (
            joined.where((F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi")))
            .select("draw_id", "row_id")
        )

    def _reservoir_rounds(self, df: DataFrame, s: int) -> DataFrame:
        k = self.sampling_size or self.total_size
        n_rounds = (self.total_size + k - 1) // k
        # same weight validation as the with-replacement path: negative
        # weights raise in-plan (JVM-side, no extra job), zero-weight
        # rows are undrawable and leave the pool — otherwise -ln(u)/0
        # is a DIVIDE_BY_ZERO under ANSI mode (or a NULL key whose sort
        # position differs between engines with ANSI off)
        guarded = F.when(
            F.col(self.weight_col) < 0,
            F.raise_error(
                F.concat(
                    F.lit(f"negative weight in column {self.weight_col!r}: "),
                    F.col(self.weight_col).cast("string"),
                )
            ).cast("double"),
        ).otherwise(F.col(self.weight_col).cast("double"))
        pool = df.withColumn("_w", guarded).where(F.col("_w") > 0)
        # normalize by max weight: A-Res ordering is invariant under a
        # positive scaling of every key, and -ln(u)/(w/wmax) keeps the
        # coarsened keys in a healthy range for ANY weight magnitude —
        # raw integer mixture weights (1e6-1e10) would otherwise floor
        # every key to 0 and degrade the draw to lowest-row_id-first
        wmax = pool.agg(F.max("_w").alias("_wmax"))
        pool = pool.crossJoin(F.broadcast(wmax))
        rounds = []
        for r in range(n_rounds):
            take = min(k, self.total_size - r * k)
            u = f"(({mix_sql('row_id', s + r * 7919, 'spark')}) + 1) / {MIX_MOD + 1}.0"
            # A-Res key -ln(u)/(w/wmax), COARSENED to fixed 1e-6 precision
            # with a row_id tiebreak: raw double ordering would make
            # reservoir membership depend on bit-identical ln() between
            # Spark's JVM and the oracle's libm near the top-k boundary;
            # after the floor, a 1-ulp ln() difference can only matter
            # within ~1e-10 of a fixed-point boundary instead of anywhere.
            key = F.expr(
                f"CAST(floor((-ln({u}) * _wmax / _w) * 1000000.0) AS BIGINT)"
            )
            # top-k smallest keys: orderBy+limit plans as
            # TakeOrderedAndProject (per-partition heaps + driver merge
            # of k rows), not a global sort
            rounds.append(
                pool.withColumn("_key", key)
                .orderBy(F.col("_key").asc(), F.col("row_id"))
                .limit(take)
                .drop("_key", "_w", "_wmax")
                .withColumn("draw_id", F.lit(r))
            )
        out = rounds[0]
        for rdf in rounds[1:]:
            out = out.unionByName(rdf)
        return out.select("draw_id", "row_id")

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        s = _seed_eff(seed, epoch)
        base = self._subset(df)
        drawn = (
            self._weighted_draws(base, s)
            if self.replace
            else self._reservoir_rounds(base, s)
        )
        # sort drawn multiset by row_id (reference sorts before block
        # shuffle for locality), then block-shuffle with a second seed.
        # The drawn set is total_size rows (orders of magnitude smaller
        # than the table): a plain window on (row_id, draw_id) puts it in
        # ONE partition, and the block permutation is a second sort in
        # that partition — row_number() OVER (ORDER BY mix(block), pos0)
        # — with no new exchange.  Blocks are contiguous runs of pos0, so
        # ORDER BY (_bkey, pos0) == ORDER BY (_bkey, block_id, pos0), the
        # exact oracle ordering.  (The metadata-join permutation measured
        # no faster above 2M draws, artifacts/pr11/README.md.)
        w_pos = Window.orderBy("row_id", "draw_id")
        out = drawn.withColumn("pos0", F.row_number().over(w_pos) - F.lit(1))
        out = out.withColumn(
            "_bkey", F.expr(mix_sql(f"pos0 div {self.block_size}", s + 500, "spark"))
        )
        w_blk = Window.orderBy("_bkey", "pos0")
        return (
            out.withColumn("pos", (F.row_number().over(w_blk) - F.lit(1)).cast("bigint"))
            .drop("pos0", "_bkey")
        )


@dataclass
class MixtureSampling(SamplingStrategy):
    """Data mixing by SOURCE PROPORTIONS — the LLM-pretraining mixture
    draw ("40% web, 30% code, ..."): per-row weight for source s is
    ``floor(p_ppm[s] * weight_scale / count_s)``, so each listed source
    contributes ~its proportion of the drawn stream regardless of its
    corpus share; unlisted sources get weight 0 and are excluded.
    Pure integer arithmetic end-to-end (proportions given in parts per
    million) → engine-exact through the same inverse-CDF path as O3/O6.
    One groupBy-count + one broadcast join, then BlockWeightedSampling.
    """

    source_col: str = "source"
    proportions_ppm: dict[str, int] | None = None
    block_size: int = 16
    total_size: int = 1000
    replace: bool = True
    sampling_size: int | None = None
    weight_scale: int = 1_000_000

    def __post_init__(self):
        if not self.proportions_ppm:
            raise ValueError("proportions_ppm is required (source -> parts-per-million)")
        if any(p <= 0 for p in self.proportions_ppm.values()):
            raise ValueError("proportions must be positive")

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        spark = df.sparkSession
        base = self._subset(df)
        counts = base.groupBy(self.source_col).agg(F.count(F.lit(1)).alias("_cnt"))
        prop = spark.createDataFrame(
            list(self.proportions_ppm.items()),
            f"{self.source_col} string, _ppm bigint",
        )
        # a LISTED source whose integer weight floors to 0 would be
        # silently excluded — that is a configuration error (scale too
        # coarse for this source's count), surfaced in-plan via
        # raise_error rather than a distorted mixture
        weights = counts.join(F.broadcast(prop), self.source_col).withColumn(
            "_w_src",
            F.when(
                F.expr(f"(_ppm * {self.weight_scale}) div _cnt") <= 0,
                F.raise_error(
                    F.concat(
                        F.lit("mixture weight floors to 0 for source "),
                        F.col(self.source_col),
                        F.lit(
                            f" (count too large for weight_scale={self.weight_scale};"
                            " increase weight_scale)"
                        ),
                    )
                ).cast("bigint"),
            ).otherwise(
                F.expr(f"CAST((_ppm * {self.weight_scale}) div _cnt AS BIGINT)")
            ),
        )
        weighted = (
            base.join(F.broadcast(weights), self.source_col)
            .withColumn("w", F.col("_w_src"))
            .drop("_cnt", "_ppm", "_w_src")
        )
        # weight_scale=1: w is ALREADY an exact integer weight — the
        # inner default would rescale by another 1e6, burning 2^63
        # headroom for nothing (overflow at mixture scales >= ~1e8)
        inner = BlockWeightedSampling(
            block_size=self.block_size,
            weight_col="w",
            total_size=self.total_size,
            replace=self.replace,
            sampling_size=self.sampling_size,
            weight_scale=1,
        )
        return inner.plan(weighted, seed=seed, epoch=epoch)


def mixture_plan(
    df: DataFrame,
    proportions_ppm: dict[str, int],
    source_col: str = "source",
) -> DataFrame:
    """Feasibility plan for a WITHOUT-replacement mixture draw — the
    calculator a pretraining run does before committing to "40% web,
    30% code, …": given per-source relative weights (parts per
    million), how large can the mixed corpus be before the scarcest
    source runs dry, and how many rows does each source contribute?

    Exact integer arithmetic end-to-end (the :class:`MixtureSampling`
    convention): with ``W = Σ w_s``, source ``s`` caps the total at
    ``floor(n_s · W / w_s)``; the plan total ``T`` is the minimum cap;
    ``planned_rows_s = floor(T · w_s / W)`` and ``sample_ppm_s =
    floor(planned_rows_s · 1e6 / n_s)`` is the per-source thinning
    rate to feed a Bernoulli/hash sampler.  Headroom: at n ≈ 1e12 rows
    and W ≤ 1e6, ``n·W ≤ 1e18 < 2^63``.

    Scale shape: ONE groupBy-count on the big side (map-side partial
    agg → #sources rows, persisted so the caps/min/plan branches reuse
    it instead of re-scanning), the counts frame broadcast onto the
    weights literal, and a 1-row broadcast min — the corpus is scanned
    once and never re-shuffled.  Listed sources absent from the data
    are an in-plan ``raise_error`` (their cap would silently be 0 and
    zero out the whole plan); unlisted sources are excluded, mirroring
    :class:`MixtureSampling`.  (The preserved side of the left-outer
    join cannot be broadcast in Spark — the hint would be silently
    dropped and the tiny join would shuffle — so the COUNTS side is
    the broadcast one, which is also the side worth not recomputing.)
    """
    if not proportions_ppm:
        raise ValueError("proportions_ppm is required (source -> parts-per-million)")
    if any(p <= 0 for p in proportions_ppm.values()):
        raise ValueError("proportions must be positive")
    from scdataset_spark.operators._cache import persist_bounded

    spark = df.sparkSession
    prop = spark.createDataFrame(
        sorted(proportions_ppm.items()), f"{source_col} string, weight_ppm bigint"
    )
    counts = persist_bounded(
        df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_rows"))
    )
    joined = prop.join(F.broadcast(counts), source_col, "left").withColumn(
        "n_rows",
        F.when(
            F.col("n_rows").isNull() | (F.col("n_rows") == 0),
            F.raise_error(
                F.concat(
                    F.lit("mixture_plan: listed source has no rows: "),
                    F.col(source_col),
                )
            ).cast("bigint"),
        ).otherwise(F.col("n_rows")),
    )
    w_total = sum(proportions_ppm.values())
    caps = joined.withColumn(
        "_cap", F.expr(f"(n_rows * {w_total}) div weight_ppm")
    )
    t_min = caps.agg(F.min("_cap").alias("_t"))
    return (
        caps.crossJoin(F.broadcast(t_min))
        .select(
            source_col,
            "n_rows",
            "weight_ppm",
            F.expr(f"(_t * weight_ppm) div {w_total}").alias("planned_rows"),
            F.expr(
                f"((_t * weight_ppm) div {w_total}) * 1000000 div n_rows"
            ).alias("sample_ppm"),
        )
    )


def attach_weights(
    df: DataFrame,
    weights: DataFrame,
    scope: str = "global",
    weight_col: str = "w",
    out: str = "w",
) -> DataFrame:
    """O5 — dual weight-resolution semantics (reference
    ``strategy.py:791-815``): a weights table may cover the FULL
    collection (``scope='global'``: importance weights; any subset
    extracts its rows and the inverse-CDF renormalizes implicitly) or
    exactly the subset (``scope='subset'``: positional alignment via
    pos-join after subset numbering).  A subset-scoped table whose
    cardinality mismatches the subset is an error, mirroring the
    reference's validation — raised JVM-side at the first ACTION that
    evaluates the weight column (plan construction runs no Spark job;
    an action that never reads ``out``, e.g. a bare count, skips the
    check by design).
    """
    if scope == "global":
        return df.join(weights.select("row_id", F.col(weight_col).alias(out)), "row_id")
    if scope == "subset":
        # NO validation job at plan time ("plan() stays lazy", the rule
        # the drop_last path pins): cardinality is checked IN-PLAN by a
        # full-outer pos-join — positions are dense 0..n-1 on both
        # sides, so any size mismatch surfaces as an unmatched position
        # on one side, and the weight column's guard expression
        # raise_error's JVM-side on the first such row at action time
        # (same pattern as the negative-weight guard above).  Matched
        # runs pay nothing beyond the join they already needed.
        pos_df = with_pos(df, "row_id", "_wpos", buckets=POS_BUCKETS)
        pos_w = with_pos(weights, "pos", "_wpos", buckets=POS_BUCKETS).select(
            "_wpos", F.col(weight_col).alias("_wval"), F.lit(True).alias("_whit")
        )
        w_type = weights.schema[weight_col].dataType.simpleString()
        joined = pos_df.join(pos_w, "_wpos", "full_outer")
        guarded = F.when(
            F.col("_whit").isNull() | F.col("row_id").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("subset-scoped weights must match subset size: "),
                    F.lit("subset position "),
                    F.col("_wpos").cast("string"),
                    F.when(F.col("_whit").isNull(), F.lit(" has no weight row"))
                    .otherwise(F.lit(" has no subset row")),
                )
            ).cast(w_type),
        ).otherwise(F.col("_wval"))
        return joined.select(*df.columns, guarded.alias(out))
    raise ValueError(f"unknown weights scope: {scope!r}")


@dataclass
class ClassBalancedSampling(SamplingStrategy):
    """O6/O7 — inverse-class-frequency weighted sampling (reference
    ``strategy.py:870-1098``): w_c = 1/count_c so every class is drawn
    uniformly; then the BlockWeightedSampling path.

    Weights are computed as integer ``weight_scale // count_c`` —
    preserving exact engine parity — via a groupBy-count + broadcast
    join back on the label (G1 + J1).  ``smoothing`` adds the reference
    training-utils variant ``w = n/(k*(count+base))``
    (``training_experiments/utils/weights.py:13-110``) up to the integer
    scale factor.
    """

    label_col: str = "label"
    block_size: int = 8
    total_size: int = 1000
    replace: bool = True
    sampling_size: int | None = None
    smoothing: int = 0  # min_count_baseline; 0 = pure inverse frequency
    weight_scale: int = 1_000_000

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        base = self._subset(df)
        counts = base.groupBy(self.label_col).agg(F.count(F.lit(1)).alias("_cnt"))
        # floor(), not cast: Spark's double->bigint cast truncates while
        # DuckDB's rounds — floor() is identical in both engines.
        weights = counts.withColumn(
            "_w_cls",
            F.floor(F.lit(self.weight_scale) / (F.col("_cnt") + F.lit(self.smoothing))).cast("bigint"),
        )
        weighted = base.join(F.broadcast(weights), self.label_col).withColumn(
            "w", F.col("_w_cls")
        ).drop("_cnt", "_w_cls")
        inner = BlockWeightedSampling(
            block_size=self.block_size,
            weight_col="w",
            total_size=self.total_size,
            replace=self.replace,
            sampling_size=self.sampling_size,
        )
        return inner.plan(weighted, seed=seed, epoch=epoch)


@dataclass
class StratifiedSampling(SamplingStrategy):
    """O19 — exact per-stratum proportional sampling WITHOUT
    replacement: every stratum contributes exactly
    ``ceil(n_stratum * fraction_ppm / 1e6)`` rows, chosen by seeded
    mix-rank within the stratum.  The exact-count twin of Spark's own
    ``sampleBy`` (per-row Bernoulli, count only approximate) — the
    posture a curation pipeline needs when per-source token budgets
    must come out deterministic (cf. the reference's sorted computed
    subsets, ``strategy.py:65-116``).

    Quotas are INTEGER arithmetic (``(n*ppm + 999_999) div 1_000_000``)
    so both engines compute identical counts — no double rounding.
    Shape: one groupBy for stratum counts (broadcast back — stratum
    cardinality is label-sized), one per-stratum window rank (shuffle
    partitioned BY STRATUM; a pathologically hot stratum inherits the
    window's single-reducer cost — at that point rank via the bucketed
    ``plans.plan.grouped_bucketed_rank`` per stratum), then the kept
    rows are re-numbered
    to dense ``pos`` in row_id order (a computed subset is fetched
    sorted, like the reference's).
    """

    stratum_col: str = "label"
    fraction_ppm: int = 100_000

    def __post_init__(self):
        if not 0 < self.fraction_ppm <= 1_000_000:
            raise ValueError(
                f"fraction_ppm must be in (0, 1e6], got {self.fraction_ppm}"
            )

    def plan(self, df: DataFrame, seed: int = 42, epoch: int = 0) -> DataFrame:
        s = _seed_eff(seed, epoch)
        base = self._subset(df)
        quotas = (
            base.groupBy(self.stratum_col)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .withColumn(
                "_q",
                F.expr(f"(_cnt * {self.fraction_ppm} + 999999) div 1000000"),
            )
            .drop("_cnt")
        )
        w = Window.partitionBy(self.stratum_col).orderBy("_sk", "row_id")
        kept = (
            base.withColumn("_sk", F.expr(mix_sql("row_id", s, "spark")))
            .withColumn("_srnk", F.row_number().over(w))
            .join(F.broadcast(quotas), self.stratum_col)
            .where(F.col("_srnk") <= F.col("_q"))
            .drop("_sk", "_srnk", "_q")
        )
        return with_pos(kept, "row_id", "pos", buckets=POS_BUCKETS)
