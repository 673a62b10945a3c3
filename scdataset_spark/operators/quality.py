"""Data-quality profiling and constraint-style checks.

A 100-TB training-data pipeline needs Deequ-style profiling *before*
training: null rates, distinct cardinalities, numeric ranges, and
outlier screens, each as ONE distributed aggregation (map-side partial
agg, single shuffle) rather than per-column driver loops.

Everything here is expressed against the reference's quality posture
— the reference validates inputs eagerly at dataset-construction time
(``src/scdataset/scdataset.py`` ctor checks) but has no corpus-level
profiling; these operators are the scale-out generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _qcol(name: str):
    """Column reference by EXACT name: backquote with doubled inner
    backticks so names containing dots, quotes, or backticks resolve as
    one attribute instead of being parsed as a multi-part path."""
    return F.col("`" + name.replace("`", "``") + "`")


def profile_columns(
    df: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str] | None = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-column profile as a narrow (column, metric, value) frame.

    Metrics: ``rows`` (once, under column ``_table``), and per column
    ``nulls``, ``distinct``, plus ``min``/``max``/``mean`` for numeric
    columns (mean rounded to 6 so summation order can't drift a
    comparison).  Everything is computed in ONE ``agg`` — a single
    scan with map-side partial aggregation.

    ``approx=True`` swaps exact ``count(distinct)`` for
    ``approx_count_distinct`` (HLL++, relative error ``rsd``): the
    100-TB posture, because N exact distinct aggregates make Catalyst
    plan an Expand (input amplified x(N+1) before the shuffle).  The
    exact default is what the oracle checks at test scale.
    """
    categorical_cols = categorical_cols or []
    cols = numeric_cols + categorical_cols
    dcount = (
        (lambda c: F.approx_count_distinct(c, rsd)) if approx else F.countDistinct  # takes a Column
    )
    # aggregates carry SYNTHETIC aliases (_m0, _m1, ...) and the
    # (col_name, metric) labels ride as struct literals — no user column
    # name is ever interpolated into SQL text, so names containing
    # quotes/backticks cannot break or inject into the expression
    labels: list[tuple[str, str]] = [("_table", "rows")]
    exprs = [F.count(F.lit(1)).cast("double")]
    for c in cols:
        labels.append((c, "nulls"))
        exprs.append(
            F.sum(F.when(_qcol(c).isNull(), 1).otherwise(0)).cast("double")
        )
        labels.append((c, "distinct"))
        exprs.append(dcount(_qcol(c)).cast("double"))
    for c in numeric_cols:
        labels.append((c, "min"))
        exprs.append(F.min(_qcol(c)).cast("double"))
        labels.append((c, "max"))
        exprs.append(F.max(_qcol(c)).cast("double"))
        labels.append((c, "mean"))
        exprs.append(F.round(F.avg(_qcol(c)), 6))
    row = df.agg(*[e.alias(f"_m{i}") for i, e in enumerate(exprs)])
    cells = F.array(
        *[
            F.struct(
                F.lit(col_name).alias("col_name"),
                F.lit(metric).alias("metric"),
                F.col(f"_m{i}").alias("value"),
            )
            for i, (col_name, metric) in enumerate(labels)
        ]
    )
    return row.select(F.explode(cells).alias("_s")).select(
        "_s.col_name", "_s.metric", "_s.value"
    )


def profile_drift(
    df_base: DataFrame,
    df_curr: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str] | None = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Metric-level drift between two deliveries: run
    :func:`profile_columns` on the baseline and the current snapshot
    and join the two narrow frames on ``(col_name, metric)`` — the
    "did the null rate / cardinality / value range of this column move"
    diff an ingest runs alongside the value-distribution PSI
    (:func:`distribution_drift`).  Output per (column, metric):
    ``base_value``, ``curr_value``, ``abs_delta``, and ``rel_delta``
    (delta over ``|base|``, NULL when the base is 0 — engines disagree
    on x/0.0).  Deltas are rounded to 6 so summation order cannot
    drift a comparison.

    Scale shape: each side is ONE full-outer-joinable aggregate scan
    (map-side partial agg) producing a metrics-sized frame —
    #columns·#metrics rows, independent of corpus size; everything
    after the two aggregations happens on that tiny frame.  At 100 TB
    this costs exactly two scans, like the PSI gate."""
    pb = profile_columns(df_base, numeric_cols, categorical_cols, approx, rsd)
    pc = profile_columns(df_curr, numeric_cols, categorical_cols, approx, rsd)
    joined = (
        pb.select("col_name", "metric", F.col("value").alias("base_value"))
        .join(
            pc.select("col_name", "metric", F.col("value").alias("curr_value")),
            ["col_name", "metric"],
            "full_outer",
        )
    )
    delta = F.col("curr_value") - F.col("base_value")
    return joined.select(
        "col_name",
        "metric",
        "base_value",
        "curr_value",
        F.round(delta, 6).alias("abs_delta"),
        F.when(
            F.abs(F.col("base_value")) > 0,
            F.round(delta / F.abs(F.col("base_value")), 6),
        ).alias("rel_delta"),
    )


def distribution_drift(
    df_base: DataFrame,
    df_curr: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index terms between a baseline and a
    current snapshot of ``value_col`` — the drift gate a pipeline runs
    when a new crawl/delivery lands, before it trains on it.

    Fixed-width histogram over explicit ``[lo, hi)`` bounds (explicit
    so both engines — and two runs over different data — bucket
    identically; out-of-range values clamp into the edge bins).  Per
    bin: ``p`` (baseline share), ``q`` (current share), and the PSI
    term ``(p − q)·ln(p/q)`` with ``eps``-floored shares so empty bins
    contribute a finite penalty (the standard PSI convention).  The
    caller sums ``psi`` for the scalar index; per-bin terms are
    returned because the *which bins moved* answer is what an operator
    actually acts on.

    Scale shape: each side is ONE scan + a ``n_buckets``-row groupBy
    (map-side partial agg); everything after the two tiny histograms —
    the full-outer bin join, totals, PSI arithmetic — happens on
    ≤ ``n_buckets`` rows.  The big sides are never joined or shuffled
    beyond their own aggregation; at 100 TB this costs exactly two
    column scans.
    """
    if hi <= lo:
        raise ValueError(f"hi must be > lo, got lo={lo}, hi={hi}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    width = (hi - lo) / n_buckets

    def hist(df: DataFrame, name: str) -> DataFrame:
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            ),
        )
        return (
            df.where(F.col(value_col).isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    hb = hist(df_base, "_nb")
    hc = hist(df_curr, "_nc")
    bins = hb.join(hc, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("_nb", F.lit(0)).alias("_nb"),
        F.coalesce("_nc", F.lit(0)).alias("_nc"),
    )
    totals = bins.agg(
        F.sum("_nb").alias("_tb"), F.sum("_nc").alias("_tc")
    )
    p = F.greatest(F.col("_nb") / F.col("_tb"), F.lit(eps))
    q = F.greatest(F.col("_nc") / F.col("_tc"), F.lit(eps))
    return (
        bins.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(p, 6).alias("p_base"),
            F.round(q, 6).alias("p_curr"),
            F.round((p - q) * F.log(p / q), 6).alias("psi"),
        )
    )


def volume_anomalies(
    df: DataFrame,
    ts_col: str,
    bucket: str = "day",
    k: float = 3.5,
) -> DataFrame:
    """Robust (median/MAD) volume-anomaly screen over time buckets —
    the "did yesterday's crawl delivery silently halve?" check a
    pipeline runs on every ingest.  Per bucket: event count, the
    corpus-wide median count, the median absolute deviation, and the
    robust z-score ``(n − med) / (1.4826·mad)`` (1.4826 makes MAD
    σ-consistent under normality); ``is_anomaly`` flags |z| > ``k``.

    Median/MAD instead of mean/stddev because volume anomalies are
    exactly the points that poison the moments they'd be screened by.

    Scale shape: ONE big-side aggregation (groupBy on the truncated
    timestamp, map-side partial agg) produces a buckets-sized frame —
    days/hours, thousands of rows at most, independent of corpus size —
    and the two exact-percentile passes + flag arithmetic run on that
    tiny frame with 1-row broadcasts back.  The raw events are scanned
    once.

    Degenerate spread (``mad`` = 0: more than half the buckets share
    one count) is defined as **no anomalies**, mirroring
    :func:`numeric_outliers`'s ``sigma > 0`` convention — and the
    engines' x/0.0 disagreement (Spark NULL, DuckDB ±inf) never
    reaches the comparison.

    A COMPLETELY missing bucket — the most extreme delivery anomaly —
    is visible: the observed [min, max] bucket range is gap-filled
    (``sequence`` over the truncated timestamps at the bucket's
    interval) and absent buckets count 0 before the median/MAD pass,
    so a skipped day flags instead of silently vanishing from the
    groupBy.  The gap-fill runs on the buckets-sized frame (persisted
    once), never on the raw events.
    """
    from scdataset_spark.operators._cache import persist_bounded

    # date_trunc accepts more unit spellings than INTERVAL does
    # ('quarter', 'dd', 'mon', ... are valid truncations but not valid
    # interval units) — map every supported bucket to its gap-fill
    # stride explicitly and reject the rest up front, instead of
    # letting the sequence() expression throw a parse error at the
    # first action.
    steps = {
        "minute": "interval 1 minute",
        "hour": "interval 1 hour",
        "day": "interval 1 day", "dd": "interval 1 day",
        "week": "interval 1 week",
        "month": "interval 1 month", "mon": "interval 1 month",
        "mm": "interval 1 month",
        "quarter": "interval 3 month",
        "year": "interval 1 year", "yyyy": "interval 1 year",
        "yy": "interval 1 year",
    }
    step = steps.get(bucket.lower())
    if step is None:
        raise ValueError(
            f"unsupported bucket {bucket!r}: one of {sorted(steps)}"
        )
    observed = persist_bounded(
        df.groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    span = observed.agg(
        F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi")
    )
    grid = span.where(F.col("_lo").isNotNull()).select(
        F.explode(F.expr(f"sequence(_lo, _hi, {step})")).alias("bucket_ts")
    )
    counts = grid.join(observed, "bucket_ts", "left").select(
        "bucket_ts",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
    )
    med = counts.agg(F.expr("percentile(n_events, 0.5)").alias("_med"))
    with_med = counts.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr("percentile(abs(n_events - _med), 0.5)").alias("_mad")
    )
    z = (F.col("n_events") - F.col("_med")) / (F.lit(1.4826) * F.col("_mad"))
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "bucket_ts",
            "n_events",
            F.round("_med", 6).alias("median_n"),
            F.round("_mad", 6).alias("mad_n"),
            F.when(F.col("_mad") > 0, F.round(z, 6)).alias("robust_z"),
            (
                (F.col("_mad") > 0) & (F.abs(z) > F.lit(k))
            ).alias("is_anomaly"),
        )
    )


def numeric_outliers(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    z_threshold: float = 3.0,
) -> DataFrame:
    """Rows whose ``value_col`` z-score (population stddev) exceeds the
    threshold: the screen a curation pipeline runs on numeric metadata
    (token counts, durations, scores) before training.

    Two-phase and fully distributed: one 1-row global aggregate
    (mean, stddev_pop) broadcast back over the scan, then a filter —
    no window, no shuffle of the big side.  The z-score is rounded to
    6 on output; the *filter* compares unrounded, so a value must sit
    within float ulps of the threshold to flip between engines.

    Degenerate spread (``stddev_pop`` = 0 on a constant column, or NULL
    on an all-NULL/empty input) is defined as **no outliers**: every
    value IS the mean, so nothing deviates.  Guarded explicitly because
    engines disagree on x/0.0 (Spark SQL → NULL, DuckDB → ±inf) — the
    oracle mirrors the same ``sigma > 0`` convention.
    """
    stats = df.agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sigma"),
    )
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sigma")
    return (
        df.select(*id_cols, value_col)
        .crossJoin(F.broadcast(stats))
        .where((F.col("_sigma") > 0) & (F.abs(z) > z_threshold))
        .select(*id_cols, value_col, F.round(z, 6).alias("z"))
    )


def check_constraints(
    df: DataFrame,
    constraints: list[dict],
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Deequ-style declarative constraint verification in ONE
    distributed aggregation: every constraint compiles to a counting
    expression over the same scan (map-side partial agg, single
    shuffle of one row), and the result is a narrow
    ``(constraint, violations, passed)`` frame — the go/no-go gate a
    pipeline runs on every ingest, generalizing the reference's eager
    per-dataset ctor validation (``src/scdataset/scdataset.py``) to
    corpus scale.

    Supported constraint dicts (``type`` + fields):

    - ``{"type": "not_null", "col": c}`` — violations = NULL rows
    - ``{"type": "unique", "col": c}`` — violations = non-NULL rows
      minus distinct values.  The exact ``count(DISTINCT)`` default is
      the oracle shape, but EACH exact distinct makes Catalyst plan an
      Expand of the full scan (input amplified x(N+1) before the
      shuffle).  ``approx=True`` swaps in ``approx_count_distinct``
      (HLL++, relative error ``rsd``) so a gate with several uniqueness
      constraints stays ONE Expand-free scan — the 100-TB posture, same
      switch as :func:`profile_columns`.  Approximate uniqueness can
      report small nonzero "violations" on a truly-unique column (or
      0 on a near-unique one) within the HLL error band; use it as a
      drift screen, not an exact gate.  Such rows carry
      ``approx = true`` in the report so downstream fail-fast
      consumers (``constraint_gate_batches``, curation gates) can —
      and by default do — exclude them from hard pass/fail.
    - ``{"type": "accepted_values", "col": c, "values": [...]}`` —
      violations = non-NULL rows outside the set
    - ``{"type": "min", "col": c, "bound": x}`` / ``{"type": "max",
      "col": c, "bound": x}`` — violations = non-NULL rows below/above
      the bound

    Rows are ``(check_name, violations, passed, approx)`` with
    ``passed = violations == 0`` and ``approx`` true only for
    HLL++-estimated unique checks.  Constraint names are
    deterministic (``type(col)``...) so the output is oracle-stable;
    the name column is ``check_name`` (``constraint`` is a reserved
    word in both engines).
    """
    if not constraints:
        raise ValueError("constraints list is required")
    aggs = []
    names = []
    for c in constraints:
        t = c["type"]
        col = c["col"]
        if t == "not_null":
            name = f"not_null({col})"
            expr = F.sum(F.when(_qcol(col).isNull(), 1).otherwise(0))
        elif t == "unique":
            name = f"unique({col})"
            dcount = (
                F.approx_count_distinct(_qcol(col), rsd)
                if approx
                else F.countDistinct(_qcol(col))
            )
            # HLL can overcount: clamp so approx never reports negative
            expr = F.greatest(F.count(_qcol(col)) - dcount, F.lit(0))
        elif t == "accepted_values":
            vals = list(c["values"])
            if not vals:
                raise ValueError(f"accepted_values({col}): empty value set")
            name = f"accepted_values({col})"
            expr = F.sum(
                F.when(
                    _qcol(col).isNotNull() & ~_qcol(col).isin(vals), 1
                ).otherwise(0)
            )
        elif t == "min":
            name = f"min({col})>={c['bound']}"
            expr = F.sum(
                F.when(_qcol(col) < F.lit(c["bound"]), 1).otherwise(0)
            )
        elif t == "max":
            name = f"max({col})<={c['bound']}"
            expr = F.sum(
                F.when(_qcol(col) > F.lit(c["bound"]), 1).otherwise(0)
            )
        else:
            raise ValueError(f"unknown constraint type: {t!r}")
        names.append((name, t == "unique" and approx))
        aggs.append(F.coalesce(expr, F.lit(0)).cast("bigint").alias(f"_c{len(names) - 1}"))
    row = df.agg(*aggs)
    # rows are built from struct literals, never string-interpolated SQL,
    # so a check name derived from an arbitrary column name (quotes,
    # backticks) cannot break or inject into the expression
    cells = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(f"_c{i}").alias("violations"),
                F.lit(is_approx).alias("approx"),
            )
            for i, (name, is_approx) in enumerate(names)
        ]
    )
    return (
        row.select(F.explode(cells).alias("_s"))
        .select("_s.check_name", "_s.violations", "_s.approx")
        .withColumn("passed", F.col("violations") == 0)
        .select("check_name", "violations", "passed", "approx")
    )


def check_foreign_key(
    df: DataFrame,
    col: str,
    ref: DataFrame,
    ref_col: str,
) -> DataFrame:
    """Referential-integrity companion to :func:`check_constraints`:
    violations = non-NULL ``df.{col}`` values with no match in
    ``ref.{ref_col}`` (SQL FK semantics: NULLs vacuously pass).  Same
    narrow ``(check_name, violations, passed)`` report so the two
    compose into one gate frame via ``unionByName``.

    Scale shape: one left-anti equi-join on the key (the ref side is
    deduplicated first, so a dimension table broadcast-joins; a
    fact-sized ref shuffles both sides on the key once) and a 1-row
    count — no row ever carries more than the key through the join.
    """
    viol = (
        df.select(F.col(col).alias("_k"))
        .where(F.col("_k").isNotNull())
        .join(
            ref.select(F.col(ref_col).alias("_k")).distinct(),
            "_k",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
    )
    return viol.select(
        F.lit(f"foreign_key({col}->{ref_col})").alias("check_name"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
        F.lit(False).alias("approx"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Row-level diff between two corpus snapshots — the row-level
    sibling of :func:`profile_drift` (which compares aggregate metrics):
    per id, is it ``added`` (only in ``new``), ``removed`` (only in
    ``old``), or ``modified`` (present in both, content hash changed)?
    Unchanged rows are NOT emitted — at 100 TB the diff output is the
    CHANGE set, not a copy of the corpus.  This is the "what actually
    changed between dataset v1 and v2" audit every training-data
    release wants next to the metric-level drift report.

    Content equality is an md5 over the ``content_cols`` concatenation
    (NULLs hashed distinctly from empty strings via a length prefix),
    so the join carries (id, 32-byte hash) — never the payload.  NULL
    semantics are therefore ``IS DISTINCT FROM``: a NULL→non-NULL (or
    reverse) content transition IS ``modified``, and NULL→NULL is
    unchanged — a raw ``old.text <> new.text`` replay NULL-propagates
    and silently drops those transitions, so any SQL mirror of this
    operator must compare with ``IS DISTINCT FROM``.

    Scale shape: two narrow (id, hash) projections, one full outer join
    on the id (a single co-partitioned shuffle; with both snapshots
    bucketed on the id it collapses to a zero-exchange merge — the
    documented layout for corpus version storage at 100 TB, pinned
    against the executed plan by
    ``tests/test_quality.py::TestSnapshotDiffBucketedShape``),
    and a three-way CASE.  Output: ``(id_col, status)``."""
    def _sig(df: DataFrame) -> DataFrame:
        parts = []
        for c in content_cols:
            parts.append(F.coalesce(F.length(F.col(c)).cast("string"), F.lit("-")))
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
        return df.select(
            F.col(id_col), F.md5(F.concat_ws("\x1f", *parts)).alias("_sig")
        )

    o = _sig(old).withColumnRenamed("_sig", "_old")
    n = _sig(new).withColumnRenamed("_sig", "_new")
    return (
        o.join(n, id_col, "full_outer")
        .withColumn(
            "status",
            F.when(F.col("_old").isNull(), F.lit("added"))
            .when(F.col("_new").isNull(), F.lit("removed"))
            .when(F.col("_old") != F.col("_new"), F.lit("modified"))
            .otherwise(F.lit(None)),
        )
        .where(F.col("status").isNotNull())
        .select(id_col, "status")
    )


def embedding_drift(
    base: DataFrame,
    curr: DataFrame,
    n_clusters: int = 8,
    seed: int = 11,
    id_col: str = "vec_id",
    vec: str = "embedding",
    eps: float = 1e-6,
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots — the
    vector-column sibling of :func:`distribution_drift`: partition the
    space by the BASE snapshot's seeded coarse centroids (the same
    engine-portable pick/assign the IVF index uses —
    ``similarity.seeded_centroids`` / ``assign_nearest_cell``), then
    report per-cell occupancy shares of both snapshots and the PSI term
    per cell.  A new delivery whose embeddings pile into different
    cells than the baseline (encoder change, domain shift, a scraped
    site flipping language) flags here before it poisons an ANN index
    or a semantic-dedup screen built on the old geometry.

    The centroid geometry comes from ``base`` ONLY (the monitored
    reference frame — drift must be measured in a frozen basis), so a
    shifted ``curr`` cannot re-center the histogram around itself.

    Scale shape: the centroid pick is a top-``n_clusters`` TakeOrdered;
    each snapshot is ONE scan through the broadcast-array argmin (no
    row multiplication, no shuffle beyond the ``n_clusters``-row
    occupancy aggs); everything after — the full-outer cell join,
    totals, PSI arithmetic — runs on ≤ ``n_clusters`` rows.  Identical
    cost to two IVF assignment passes at any corpus size."""
    from scdataset_spark.operators.similarity import (
        assign_nearest_cell,
        seeded_centroids,
    )

    cent = seeded_centroids(base, n_clusters, seed, id_col=id_col, vec=vec)
    hb = (
        assign_nearest_cell(base.select(id_col, vec), cent, id_col, vec)
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    hc = (
        assign_nearest_cell(curr.select(id_col, vec), cent, id_col, vec)
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("_nc"))
    )
    bins = hb.join(hc, "_cell", "full_outer").select(
        F.col("_cell").alias("cell"),
        F.coalesce("_nb", F.lit(0)).alias("n_base"),
        F.coalesce("_nc", F.lit(0)).alias("n_curr"),
    )
    totals = bins.agg(F.sum("n_base").alias("_tb"), F.sum("n_curr").alias("_tc"))
    p = F.greatest(F.col("n_base") / F.col("_tb"), F.lit(eps))
    q = F.greatest(F.col("n_curr") / F.col("_tc"), F.lit(eps))
    return bins.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_base",
        "n_curr",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_curr"),
        F.round((p - q) * F.log(p / q), 6).alias("psi"),
    )
