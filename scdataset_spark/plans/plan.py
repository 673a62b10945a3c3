"""Batch/fetch planning columns and exact length metadata.

Mirrors the reference's fetch-then-batch execution loop (reference
``src/scdataset/scdataset.py:415-561``): an ordered index stream is
chunked into *fetches* of ``batch_size * fetch_factor`` rows (the I/O
unit) and each fetch is sliced into *batches* (the yield unit), with
``drop_last`` applied per fetch, not globally
(``src/scdataset/scdataset.py:538-548``).

On Spark the index stream is a DataFrame with a ``pos`` column (yield
order, 0-based) and the plan is three derived columns — ``fetch_id``,
``batch_id``, ``batch_pos`` — all pure integer arithmetic on ``pos``, so
Catalyst keeps everything in whole-stage codegen and the DuckDB oracle
can recompute the identical plan.

Scale note (100 TB): the only non-embarrassingly-parallel step is
assigning ``pos``.  ``with_pos`` offers two physical strategies:
a global-window path (fine up to ~10M rows per job: one total-order
sort) and a bucketed path that computes per-bucket offsets with a tiny
broadcast join, keeping the sort partition-local — the standard
distributed row-numbering pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scdataset_spark.session import _cluster_width, input_probe, python_stage_partitions


def adaptive_rank_buckets(
    df: DataFrame,
    floor: int = 64,
    target_bytes: int = 32 << 20,
    cap: int = 4096,
) -> int:
    """Pick a :func:`bucketed_rank` bucket count that keeps each
    per-bucket window sort bounded as the input grows — a PHYSICAL knob
    only: range bucketing keys equal values into one bucket at any
    count, so the computed ranks are bit-identical regardless.

    With a fixed count, bucket size grows linearly with the input and
    the per-bucket single-task sort eventually dominates (the sf100
    audit's ingest-numbering hazard).  File-backed frames size buckets
    at ~``target_bytes`` of parquet each (compressed bytes — the
    in-memory sort is a few x larger, still comfortably task-sized);
    non-file frames scale with cluster width so wave scheduling keeps
    buckets per core constant.  Clamped to [floor, cap]: the floor
    keeps small inputs at the measured-good 64, the cap bounds the
    broadcast-offsets frame (cap rows) and the stats agg."""
    nbytes = input_probe(df)[1]
    if nbytes is not None:
        return int(min(cap, max(floor, -(-nbytes // target_bytes))))
    return int(min(cap, max(floor, 4 * _cluster_width(df))))


def _bucketed_prefix(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    order: list[tuple[str, str]],
    out_col: str,
    buckets: int,
    value_col: str | None = None,
) -> DataFrame:
    """THE bucket-offset prefix: an exact per-group prefix in ``order``
    (list of ``(column, "asc"|"desc")``) WITHOUT a single-partition or
    per-group single-reducer window.  ``value_col=None`` counts rows and
    gives the 0-based rank; a value column gives its inclusive running
    sum.

    Rows range-bucket on ``bucket_col`` between its global min and max
    (bucket boundaries need not align with groups).  ``bucket_col``
    ascending must agree with the leading ``order`` key — that column
    ascending, or its negation descending — so equal keys share a
    bucket and every tiebreak stays bucket-local; a null key lands in
    the last bucket.  Per-(group, bucket) totals prefix-sum into offsets
    on a tiny ``|groups|·buckets``-row frame, broadcast back, and the
    window finishes within (group, bucket): one stats agg + one tiny
    window + one broadcast join, the O(n) data never globally sorted,
    and a hot group spreads over ``buckets`` tasks.
    """
    stats = df.agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
    b = df.crossJoin(F.broadcast(stats)).withColumn(
        "_bucket",
        F.least(
            F.lit(buckets - 1),
            (
                (F.col(bucket_col) - F.col("_lo"))
                * buckets
                / (F.col("_hi") - F.col("_lo") + 1)
            ).cast("bigint"),
        ),
    ).drop("_lo", "_hi")
    sort_cols = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in order
    ]
    w_in = Window.partitionBy(*group_cols, "_bucket").orderBy(*sort_cols)
    if value_col is None:
        tot, total = "count", F.count(F.lit(1))
        prefix = F.row_number().over(w_in) - F.lit(1)
    else:
        tot, total = "_bsum", F.sum(value_col)
        prefix = F.sum(value_col).over(
            w_in.rowsBetween(Window.unboundedPreceding, 0)
        )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        b.groupBy(*group_cols, "_bucket")
        .agg(total.alias(tot))
        .withColumn("_offset", F.coalesce(F.sum(tot).over(w_off), F.lit(0)))
        .drop(tot)
    )
    return (
        b.join(F.broadcast(offsets), [*group_cols, "_bucket"])
        .withColumn(out_col, prefix + F.col("_offset"))
        .drop("_bucket", "_offset")
    )


def bucketed_rank(
    df: DataFrame,
    bucket_col: str,
    order: list[tuple[str, str]],
    out_col: str = "pos",
    buckets: int = 64,
) -> DataFrame:
    """THE distributed exact-rank primitive: 0-based global rank by the
    composite ``order`` spec WITHOUT a single-partition global window —
    :func:`_bucketed_prefix`'s rank mode with no group columns.
    ``bucket_col`` MUST be the leading order column, ascending.

    Shared by ``with_pos``, the strategies' drop-key ranking, and the
    lineitem ingest numbering.
    """
    return _bucketed_prefix(df, [], bucket_col, order, out_col, buckets)


def grouped_bucketed_rank(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    order: list[tuple[str, str]],
    out_col: str = "pos",
    buckets: int = 64,
) -> DataFrame:
    """Per-GROUP 0-based exact rank by ``order`` — the grouped sibling of
    :func:`bucketed_rank`, same contract.  The plain ``row_number() OVER
    (PARTITION BY group ...)`` puts each group's WHOLE extent through
    one reducer — the hot-stratum hazard a viral source hits at corpus
    scale; :func:`_bucketed_prefix` spreads it over ``buckets`` tasks.
    """
    return _bucketed_prefix(df, group_cols, bucket_col, order, out_col, buckets)


def with_pos(
    df: DataFrame,
    order_col: str = "row_id",
    pos_col: str = "pos",
    buckets: int | None = None,
) -> DataFrame:
    """Add 0-based ``pos`` = rank of ``order_col`` ascending.

    ``buckets=None``: single global window (one total-order sort — exact
    semantics, acceptable below ~10M rows).

    ``buckets=k``: the scalable :func:`bucketed_rank` path — no global
    shuffle to one partition.
    """
    if buckets is None:
        w = Window.orderBy(F.col(order_col))
        return df.withColumn(pos_col, F.row_number().over(w) - F.lit(1))
    return bucketed_rank(
        df, order_col, [(order_col, "asc")], out_col=pos_col, buckets=buckets
    )


def with_running_sum(
    df: DataFrame,
    value_col: str,
    order_col: str = "row_id",
    out: str = "hi",
    buckets: int = 64,
) -> DataFrame:
    """Distributed exact running sum of ``value_col`` in ``order_col``
    order (inclusive): the inverse-CDF sampler's cumulative weights (W2)
    without a single-partition global window — :func:`_bucketed_prefix`'s
    running-sum mode with no group columns, bucketed on ``order_col``.
    """
    return _bucketed_prefix(
        df, [], order_col, [(order_col, "asc")], out, buckets, value_col
    )


def _fetch_ordered(df: DataFrame) -> DataFrame:
    """THE fetch-ordered exchange of an epoch: range on ``fetch_id``
    with the Python-stage partition count.  Every fetch lands in one
    partition and partition ``i`` holds only fetches below those of
    partition ``i + 1``, so the ``with_batches`` windows and the hook
    stage's ``groupBy(fetch_id)`` add no exchange of their own, and the
    hook output streams in fetch order.  The explicit count keeps AQE
    from coalescing the Python stage onto a few cores (see
    ``session.python_stage_partitions``); where AQE does merge range
    partitions it merges adjacent ones, in order."""
    return df.repartitionByRange(python_stage_partitions(df), "fetch_id")


def _is_fetch_ordered(df: DataFrame) -> bool:
    """True when Spark's planned output partitioning of ``df`` is the
    one :func:`_fetch_ordered` builds: range, ascending, on the very
    ``fetch_id`` attribute ``df`` outputs (not merely a column of that
    name), with the Python-stage count.  Planning ``df`` costs driver
    time (about 80 ms for the benchmark's epoch plan on 4 cores) and
    runs no job.  False under Spark Connect, which has no JVM plan to
    ask."""
    try:
        plan = df._jdf.queryExecution().sparkPlan()
    except AttributeError:  # Spark Connect
        return False
    part = plan.outputPartitioning()
    if (
        part.getClass().getSimpleName() != "RangePartitioning"
        or part.numPartitions() != python_stage_partitions(df)
        or part.ordering().length() != 1
    ):
        return False
    key = part.ordering().head()
    out = plan.output()
    attrs = [out.apply(i) for i in range(out.length())]
    fetch = [a for a in attrs if a.name() == "fetch_id"]
    return (
        len(fetch) == 1
        and key.direction().toString() == "Ascending"
        and key.child().semanticEquals(fetch[0])
    )


def with_batches(
    plan: DataFrame,
    batch_size: int,
    fetch_factor: int = 16,
    drop_last: bool = False,
    pos_col: str = "pos",
    shuffle_within_fetch: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Add ``fetch_id``, ``batch_id``, ``batch_pos`` to an ordered plan.

    - ``fetch_id``  = pos div (batch_size*fetch_factor)   (I/O unit, O10)
    - ``batch_id``  = pos div batch_size                  (yield unit, O11)
    - ``batch_pos`` = pos %  batch_size
    - ``shuffle_within_fetch`` mirrors the reference's
      ``_shuffle_before_yield`` (``strategy.py:434`` — always True for
      BlockShuffling; applied at ``scdataset.py:533-548``): the fetched
      buffer is permuted BEFORE batch slicing, so a batch mixes rows
      from every block in its fetch instead of being one contiguous
      block slice.  This is what keeps batch-level mixing high when
      ``block_size >= batch_size`` (measured: origin-entropy 0.0 → ~4
      bits at block 256-1024, scripts/entropy_sweep.py).  Implemented
      as a seeded rank within each fetch — a fetch-partitioned window,
      parallel across fetches, each at most ``batch_size*fetch_factor``
      rows, and ``pos`` is rewritten to the new yield order so the
      pos/batch arithmetic below is unchanged.
    - ``drop_last`` drops the trailing *partial* batch of each fetch
      (reference per-fetch semantics, ``scdataset.py:544-545``): a batch
      survives iff it is full OR it is not the last batch of its fetch.
      Implemented as a window count per (fetch_id, batch_id).

    Either window first partitions the frame once by
    :func:`_fetch_ordered` (range on ``fetch_id``); both windows and a
    following ``run_hook_pipeline`` reuse that one exchange.  Without a
    window the result adds no exchange at all.
    """
    from scdataset_spark.plans.seeds import mix_sql

    fetch_size = batch_size * fetch_factor
    out = plan.withColumn("fetch_id", F.expr(f"{pos_col} div {fetch_size}"))
    if shuffle_within_fetch or drop_last:
        out = _fetch_ordered(out)
    if shuffle_within_fetch:
        w = Window.partitionBy("fetch_id").orderBy(
            F.expr(mix_sql(pos_col, seed, "spark")), F.col(pos_col)
        )
        out = out.withColumn(
            pos_col,
            (
                F.col("fetch_id") * fetch_size + F.row_number().over(w) - 1
            ).cast("bigint"),
        )
    p = F.col(pos_col)
    out = (
        out.withColumn("batch_id", F.expr(f"{pos_col} div {batch_size}"))
        .withColumn("batch_pos", (p % batch_size).cast("bigint"))
    )
    if drop_last:
        w = Window.partitionBy("fetch_id", "batch_id")
        out = out.withColumn("_bsz", F.count(F.lit(1)).over(w)).where(
            F.col("_bsz") == batch_size
        ).drop("_bsz")
    return out


def ddp_filter(plan: DataFrame, world_size: int, rank: int) -> DataFrame:
    """DDP round-robin fetch assignment (O13): rank r keeps fetches
    r, r+W, r+2W, ... (reference ``scdataset.py:495-501``).  Round-robin
    (vs contiguous) keeps tail work balanced across ranks."""
    if not (0 <= rank < world_size):
        raise ValueError(f"rank {rank} out of range for world_size {world_size}")
    return plan.where(F.pmod(F.col("fetch_id"), F.lit(world_size)) == F.lit(rank))


def resolve_epoch_seed(seed: int | None) -> int:
    """Seed resolution for DDP consumers (reference
    ``src/scdataset/scdataset.py:241-294`` ``_init_seed``): the
    reference broadcasts a rank-0-generated random seed so all ranks
    shuffle identically when ``seed=None``.

    On Spark the driver IS rank 0 for planning: the resolved seed is
    baked into the (deterministic) plan before any executor runs, so
    every rank consuming ``ddp_filter(plan, W, r)`` shares it by
    construction — no collective needed for the Spark-side plan.  The
    ``torch.distributed`` broadcast is still performed when a consumer
    calls this INSIDE an initialized DDP process group (each trainer
    process building its own plan locally), which is the reference's
    exact scenario.
    """
    if seed is not None:
        return seed
    try:
        import torch
        import torch.distributed as dist

        if dist.is_available() and dist.is_initialized():
            t = torch.zeros(1, dtype=torch.int64)
            if dist.get_rank() == 0:
                t[0] = int.from_bytes(os.urandom(4), "big") % (2**31)
            dist.broadcast(t, src=0)
            return int(t.item())
    except ImportError:
        pass
    return int.from_bytes(os.urandom(4), "big") % (2**31)


def resume_from_batch(plan: DataFrame, start_batch: int) -> DataFrame:
    """Checkpoint-resume (reference tests/test_ddp_real.py resume
    coverage): because the whole plan is a deterministic function of
    (seed, epoch), resuming training after batch k is a FILTER, not a
    state restore — rebuild the identical plan and skip the consumed
    prefix.  Works under DDP (apply before or after ddp_filter) and
    costs one pushed-down predicate."""
    if start_batch < 0:
        raise ValueError(f"start_batch must be >= 0, got {start_batch}")
    return plan.where(F.col("batch_id") >= F.lit(start_batch))


def exact_num_batches(
    n: int,
    batch_size: int,
    fetch_factor: int = 16,
    drop_last: bool = False,
    world_size: int = 1,
    rank: int = 0,
) -> int:
    """Closed-form batch count for one rank — no Spark job (O12).

    Mirrors the reference's ``__len__`` contract
    (``src/scdataset/scdataset.py:333-413``): count batches produced by
    exactly the fetches this rank owns under round-robin assignment,
    applying per-fetch drop_last.  Must equal the executed plan's batch
    count for every edge config (empty ranks, partial trailing fetch).

    >>> exact_num_batches(100, batch_size=7, fetch_factor=3)   # 21-row fetches
    15
    >>> exact_num_batches(100, 7, 3, drop_last=True)           # partials dropped per fetch
    14
    >>> [exact_num_batches(100, 7, 3, False, world_size=4, rank=r) for r in range(4)]
    [6, 3, 3, 3]
    >>> exact_num_batches(0, 8, 2)                             # empty collection
    0
    """
    if batch_size <= 0 or fetch_factor <= 0:
        raise ValueError("batch_size and fetch_factor must be positive")
    fetch_size = batch_size * fetch_factor
    num_fetches = (n + fetch_size - 1) // fetch_size
    owned = max(0, (num_fetches - rank + world_size - 1) // world_size)
    if owned == 0 or (num_fetches - 1 - rank) % world_size != 0:
        return owned * fetch_factor  # the rank does not own the last fetch
    last = n - (num_fetches - 1) * fetch_size  # the last fetch, maybe partial
    tail = last // batch_size if drop_last else (last + batch_size - 1) // batch_size
    return (owned - 1) * fetch_factor + tail
