"""Text analysis operators over a document corpus (SURVEY.md §2.14).

All operators are pure built-in column expressions (split / transform /
filter / aggregate higher-order functions) — JVM-side, whole-stage
codegen, no Python in the hot path — and every computation has an exact
ANSI-SQL twin so the DuckDB oracle checks values, not just shapes.

Scale: each operator is a narrow map over one row at a time (no shuffle
at all until an aggregation is asked for), so they pipeline with the
parquet scan and parallelize embarrassingly at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Stopword marker lists for the language-ID heuristic (tiny on purpose —
# they are broadcast as literals inside the expression).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "de"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "y", "de"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")
STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(F.col(text_col), " ")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens, n_alpha_tokens (BPE-ish regex count), mean token length."""
    toks = f"split({text_col}, ' ')"
    return (
        df.withColumn("n_tokens", F.expr(f"size({toks})"))
        .withColumn(
            "n_alpha_tokens",
            F.expr(f"size(regexp_extract_all({text_col}, '[a-z]+', 0))"),
        )
        .withColumn(
            "mean_token_len",
            F.expr(
                f"round(aggregate({toks}, 0L, (acc, t) -> acc + length(t)) / size({toks}), 6)"
            ),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score: stopword ratio + length band + mean token
    length (the reference-free scoring bundle an LLM-data pipeline runs
    before training; cf. C4-style quality filters)."""
    # quality_score is computed in integer micro-units and divided ONCE:
    # weighted sums of rounded doubles land on exact decimal ties
    # (e.g. 0.5 * k/64) where Spark rounds half-up but DuckDB half-even.
    # Integer arithmetic + a single exact division sidesteps rounding
    # rules entirely.  Stop counts and the base rank come from the
    # SHARED pieces (with_stop_counts / Q_INT_EXPR) — one list, one
    # formula across scoring and the curation queries.
    return (
        with_stop_counts(df, text_col)
        .withColumn("stopword_ratio", F.expr("round(n_stop / n_tokens, 6)"))
        .withColumn(
            "quality_score",
            F.expr(
                f"CAST({Q_INT_EXPR}"
                " + (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 300000 ELSE 0 END)"
                f" + (CASE WHEN length({text_col}) BETWEEN 100 AND 500 THEN 200000 ELSE 0 END)"
                " AS DOUBLE) / 1000000"
            ),
        )
    )


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: score each language by its
    marker-token hit count; predict the argmax (deterministic tiebreak
    by language code, 'und' when nothing matches)."""
    toks = f"split({text_col}, ' ')"
    out = df
    for lang, markers in LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        out = out.withColumn(
            f"score_{lang}", F.expr(f"size(filter({toks}, t -> t IN ({mk})))")
        )
    best = F.expr(
        "CASE WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und' "
        "WHEN score_en >= greatest(score_fr, score_de, score_es) THEN 'en' "
        "WHEN score_de >= greatest(score_fr, score_es) THEN 'de' "
        "WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END"
    )
    return out.withColumn("lang_pred", best)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, whitespace-collapsed).  Engine-portable because md5 hex
    output is identical everywhere."""
    return df.withColumn(
        "fingerprint",
        F.md5(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")),
    )


def simhash_exprs(tokens_col: str = "_dtoks", bits: int = 32) -> list[str]:
    """Per-bit vote-sum SQL expressions for a ``bits``-wide simhash over
    the *distinct token set* (standard simhash with unit weights).

    Bit b of token t = bit (b mod 4) of hex digit b//4 of md5(t); vote
    is +1/-1; the document bit is 1 iff the vote sum is positive.  Uses
    only md5/substr/instr/integer arithmetic — portable to DuckDB.
    ``tokens_col`` must be a bound array column (tokenizing inside each
    of the 32 expressions would cost 32 splits per row).

    NOTE: kept as the ORACLE-shaped reference formulation (one
    expression per bit, md5 re-evaluated per bit); the engine path is
    :func:`simhash_votes_expr`, which computes identical votes with ONE
    md5 per token.
    """
    exprs = []
    for b in range(bits):
        digit = (
            f"(instr('0123456789abcdef', substr(md5(t), {b // 4 + 1}, 1)) - 1)"
        )
        bit = f"(({digit} div {2 ** (b % 4)}) % 2)"
        exprs.append(
            f"aggregate({tokens_col}, 0L, (acc, t) -> acc + (2 * {bit} - 1))"
            f" AS s{b}"
        )
    return exprs


def simhash_bit_weight(b: int) -> str:
    """SQL literal for bit b's weight in a SIGNED 64-bit signature: bit
    63 is the two's-complement sign bit, so its weight is -2^63 (the
    unsigned 2^63 would overflow bigint).  Identical text works in
    Spark SQL and DuckDB."""
    return "(-9223372036854775807 - 1)" if b == 63 else str(2**b)


def simhash_votes_expr(tokens_col: str, bits: int) -> str:
    """One-pass vote accumulation: md5 ONCE per token (the per-bit
    formulation re-hashes every token ``bits`` times — measured as the
    dominant signature cost at 64 bits), votes carried as a bits-long
    array through a single ``aggregate`` + ``zip_with``.  The per-token
    md5 is let-bound via the ``transform(array(md5(t)), h -> ...)[0]``
    idiom so it is NOT re-evaluated per array element.  Vote values are
    bit-identical to :func:`simhash_exprs`."""
    assert bits <= 64, "signature is a signed 64-bit bigint"
    bitv = (
        f"transform(array(md5(t)), h -> transform(sequence(0, {bits - 1}), "
        f"b -> CAST(2 * (((instr('0123456789abcdef', "
        f"substr(h, CAST(b div 4 AS INT) + 1, 1)) - 1) "
        f"div element_at(array(1, 2, 4, 8), CAST(b % 4 AS INT) + 1)) % 2) "
        f"- 1 AS BIGINT)))[0]"
    )
    return (
        f"aggregate({tokens_col}, array_repeat(0L, {bits}), "
        f"(acc, t) -> zip_with(acc, {bitv}, (a, v) -> a + v))"
    )


def with_simhash(df: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """``bits``-wide simhash signature (signed bigint).  32 bits is
    enough below ~10^5 docs; production corpora use ``bits=64`` — with
    pigeonhole banding at max_hamming=1 that means 2x32-bit bands,
    whose value space does not saturate until ~10^8 docs (the sf100
    audit measured 16-bit bands going quadratic at 6 M docs)."""
    toks = df.withColumn("_dtoks", F.array_distinct(F.split(F.col(text_col), " ")))
    votes = toks.withColumn("_votes", F.expr(simhash_votes_expr("_dtoks", bits)))
    combine = " + ".join(
        f"(CASE WHEN element_at(_votes, {b + 1}) > 0 THEN {simhash_bit_weight(b)} ELSE 0 END)"
        for b in range(bits)
    )
    return votes.withColumn("simhash", F.expr(f"CAST({combine} AS BIGINT)")).drop(
        "_dtoks", "_votes"
    )


# ------------------------------------------------- normalize / PII scrub
# Patterns stored ONCE in plain Java-regex form; _sql_re() escapes for
# embedding in a Spark SQL string literal (which processes backslashes).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"
IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _sql_re(pattern: str) -> str:
    return pattern.replace("\\", "\\\\")


def with_normalized_text(
    df: DataFrame, text_col: str = "text", out: str = "norm_text"
) -> DataFrame:
    """Standard pre-dedup normalization: lowercase, strip everything
    but [a-z0-9 ], collapse whitespace runs, trim.  Pure JVM regexp —
    and expressible identically in DuckDB for the oracle."""
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return df.withColumn(out, F.trim(collapsed))


def with_pii_scrubbed(
    df: DataFrame, text_col: str = "text", out: str = "scrubbed"
) -> DataFrame:
    """Training-data PII redaction: emails → <EMAIL>, phone numbers →
    <PHONE>, IPv4 → <IP>, with per-row match counts (the audit trail a
    compliance pipeline needs).  Counts are computed BEFORE redaction;
    order matters — emails first, since the phone/ip patterns can match
    inside addresses otherwise."""
    t = F.col(text_col)
    n_email = F.size(F.expr(f"regexp_extract_all({text_col}, '{_sql_re(EMAIL_RE)}', 0)"))
    n_phone = F.size(F.expr(f"regexp_extract_all({text_col}, '{_sql_re(PHONE_RE)}', 0)"))
    n_ip = F.size(F.expr(f"regexp_extract_all({text_col}, '{_sql_re(IP_RE)}', 0)"))
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        IP_RE,
        "<IP>",
    )
    return (
        df.withColumn("n_emails", n_email)
        .withColumn("n_phones", n_phone)
        .withColumn("n_ips", n_ip)
        .withColumn(out, scrub)
    )


# Shared integer quality-rank pieces (used by with_quality_score above
# and by the curation queries) — ONE stopword list, ONE formula.
Q_INT_EXPR = "(500000 * n_stop) div n_tokens"
Q_INT_DUCK = "(500000 * n_stop) // n_tokens"


def duck_stop_list() -> str:
    """The STOPWORDS tuple as a DuckDB list literal body (same
    ``STOP_SQL`` constant the Spark expressions embed)."""
    return STOP_SQL


def with_stop_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_tokens`` and ``n_stop`` (STOPWORDS hits) — the integer
    inputs of the quality rank."""
    toks = f"split({text_col}, ' ')"
    return df.withColumn("n_tokens", F.expr(f"size({toks})")).withColumn(
        "n_stop", F.expr(f"size(filter({toks}, t -> t IN ({STOP_SQL})))")
    )


# GPT-2-style pre-tokenizer, reduced to constructs whose semantics are
# identical in Java regex (Spark) and RE2 (DuckDB): letter runs, digit
# runs, and single non-alphanumeric marks, each with an optional leading
# space (the BPE convention of gluing the space to the following token).
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]"


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting (§2.14 text): the number of pre-tokenizer
    segments under :data:`BPE_PATTERN` — the standard budget estimate a
    curation pipeline runs before the real tokenizer (which needs its
    merges table and so lives outside the engine).  Pure JVM
    ``regexp_extract_all``; scale cost is one linear scan, no shuffle."""
    return df.withColumn(
        "n_bpe",
        F.expr(f"size(regexp_extract_all({text_col}, '{BPE_PATTERN}', 0))"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    size: int = 120,
    stride: int = 90,
) -> DataFrame:
    """Split each document into fixed-size overlapping character chunks
    (the context-window / RAG-chunking shape: chunk ``i`` covers
    ``[i*stride, i*stride + size)``; ``stride < size`` gives
    ``size - stride`` characters of overlap so no boundary-spanning
    content is lost).  Every document yields at least one chunk, even
    when empty.

    Pure per-row ``posexplode`` of an in-plan ``sequence`` — a narrow
    map with no shuffle and no Python; output volume is
    ``ceil(len/stride)`` rows per doc, so at 100 TB this is a streaming
    re-shape the scan pipeline absorbs (chunk rows never need to
    co-locate).  Columns: every input column except ``text_col``, plus
    ``chunk_id``, ``chunk_text``, ``chunk_len``.
    """
    if size < 1 or stride < 1:
        raise ValueError(f"size and stride must be >= 1, got {size}, {stride}")
    keep = [c for c in df.columns if c != text_col]
    starts = F.expr(
        f"sequence(0, greatest(length({text_col}), 1) - 1, {stride})"
    )
    return (
        df.select(*keep, F.col(text_col).alias("_ct"), F.posexplode(starts).alias("chunk_id", "_cs"))
        .withColumn("chunk_text", F.expr(f"substring(_ct, _cs + 1, {size})"))
        .withColumn("chunk_len", F.length("chunk_text"))
        .drop("_ct", "_cs")
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (Gopher-style repetition rules,
    Rae et al. 2021 §A1.1): the fraction of duplicate tokens and
    duplicate 2-grams within each document.  High values mark the
    boilerplate/spam documents a curation pipeline drops BEFORE
    corpus-level dedup ever sees them.  Pure higher-order-function
    expressions — linear scan, no shuffle; integer/integer division is
    exact so the ratios are engine-identical after one round."""
    toks = f"split({text_col}, ' ')"
    grams = (
        f"transform(sequence(1, greatest(size(_rt) - 1, 1)), "
        "i -> concat_ws(' ', element_at(_rt, i), "
        "element_at(_rt, least(i + 1, size(_rt)))))"
    )
    return (
        df.withColumn("_rt", F.expr(toks))
        .withColumn("_g2", F.expr(grams))
        .withColumn(
            "dup_token_ratio",
            F.expr("round(1.0 - size(array_distinct(_rt)) / size(_rt), 6)"),
        )
        .withColumn(
            "dup_2gram_ratio",
            F.expr("round(1.0 - size(array_distinct(_g2)) / size(_g2), 6)"),
        )
        .drop("_rt", "_g2")
    )


def _curation_input(
    df: DataFrame,
    slim: DataFrame,
    groups: list[str],
    buckets: int | None,
    n_rows: int | None,
) -> tuple[DataFrame, int]:
    """Shape resolution shared by the curation twins
    (:func:`token_budget`, :func:`token_budget_by_source`,
    :func:`quality_rank_by_source`): returns the frame to read and the
    bucket count, ``0`` meaning the one-window oracle shape.

    ``buckets=None`` resolves under the ``AUTO_SCALE_ROWS`` contract
    (64 buckets at or past it, else 0) from the largest ``groups``
    group's row count — the whole frame when ``groups`` is empty —
    taken from ``n_rows`` or else probed on the persisted ``slim``
    projection.  The bucketed shape reads ``slim`` through three plan
    branches (stats row, per-bucket totals, final join), so it is
    persisted first or an expensive upstream (tokenization, quality
    scoring — measured 30-100 s a pass at sf1000d) re-runs per branch;
    the probe runs on that persisted frame and so warms the cache the
    shape then reads.  A ``0`` known without a probe reads ``df`` as is.
    """
    from scdataset_spark.operators._cache import persist_bounded
    from scdataset_spark.operators.similarity import AUTO_SCALE_ROWS

    def resolve(n: int) -> int:
        return 64 if n >= AUTO_SCALE_ROWS else 0

    if buckets is None and n_rows is not None:
        buckets = resolve(int(n_rows))
    if buckets == 0:
        return df, 0
    slim = persist_bounded(slim)
    if buckets is None:
        n = slim.groupBy(*groups).count().agg(F.max("count")).first()[0]
        buckets = resolve(n or 0)
    return slim, buckets


def _token_budget(
    df: DataFrame,
    budget: int,
    groups: list[str],
    quality_col: str,
    token_col: str,
    id_col: str,
    buckets: int | None,
    n_rows: int | None,
) -> DataFrame:
    """:func:`token_budget` per ``groups`` (none: one global budget)."""
    from scdataset_spark.plans.plan import _bucketed_prefix

    slim = df.select(id_col, *groups, quality_col, token_col).withColumn(
        "_negq", -F.col(quality_col)
    )
    src, buckets = _curation_input(df, slim, groups, buckets, n_rows)
    out = [id_col, *groups, token_col, "cum_tokens"]
    if buckets == 0:
        w = (
            Window.partitionBy(*groups)
            .orderBy(F.col(quality_col).desc(), F.col(id_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        ranked = src.withColumn("cum_tokens", F.sum(token_col).over(w))
    else:
        ranked, _ = _bucketed_prefix(
            src, groups, "_negq", [(quality_col, "desc"), (id_col, "asc")],
            "cum_tokens", buckets, token_col,
        )
    return ranked.where(F.col("cum_tokens") <= budget).select(*out)


def token_budget(
    df: DataFrame,
    budget: int,
    quality_col: str = "q_int",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    buckets: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Token-budget curation: fill a ``budget``-token training budget
    with the highest-quality documents first — the running token sum in
    (``quality_col`` DESC, ``id_col`` ASC) order, cut off at the
    budget.  The everyday "give me the best N tokens" selection a
    training-data pipeline runs last (reference analogue: the
    size-bounded selection of experimental/auto_config.py, which sizes
    a fetch plan to a byte budget).

    Output: ``(id_col, token_col, cum_tokens)`` for the selected docs.

    Scale shape (the ``AUTO_SCALE_ROWS`` contract): ``buckets=0`` pins
    the exact single global window — one total-order sort, fine below
    ~10^5 rows and the oracle-checked shape; ``buckets=k`` is
    ``plans.plan._bucketed_prefix``'s running-sum mode bucketed on the
    NEGATED integer quality — no single-partition sort at any point.
    Both shapes produce identical rows (the sum is exact either way);
    ``None`` resolves from ``n_rows`` or one count (see
    :func:`_curation_input`).  At 100 TB the budget cutoff also means
    whole low-quality buckets are dropped by the ``cum_tokens <= budget``
    filter right after their offset exceeds the budget — only the
    boundary bucket's rows matter.
    """
    return _token_budget(
        df, budget, [], quality_col, token_col, id_col, buckets, n_rows
    )


def token_budget_by_source(
    df: DataFrame,
    budget: int,
    source_col: str = "lang",
    quality_col: str = "q_int",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    buckets: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-source token budgets — the mixture-curation form of
    :func:`token_budget`: every source (language / domain / dataset)
    fills its OWN ``budget`` with its best documents, so a strong
    source cannot starve the mixture the way a single global budget
    does ("N tokens from each" is how a training mix is actually
    specified; cf. the temperature-mixture weights of
    ``o17_temperature_mixture``).

    Output: ``(id_col, source_col, token_col, cum_tokens)`` for the
    selected docs, ``cum_tokens`` running within the source.

    Scale shape (the ``AUTO_SCALE_ROWS`` contract): ``buckets=0`` pins
    the exact ONE-window shape — partitioned by source, sources fill
    in parallel — the oracle-checked form, fine while no single source
    exceeds ~10^5 rows.  But a hot source (one language that is half a
    100 TB corpus) makes that window a single-reducer running sum over
    the source's entire row set, so ``buckets=k`` runs
    ``plans.plan._bucketed_prefix``'s running-sum mode grouped by
    source and bucketed on the negated quality: the widest partition
    shrinks from max-source-rows to max-source-rows/k, with no global
    sort anywhere.  Both shapes produce identical rows (the sum is
    exact either way); ``None`` resolves from the MAX per-source row
    count (``n_rows`` skips the probe and is compared as that max).
    """
    return _token_budget(
        df, budget, [source_col], quality_col, token_col, id_col, buckets, n_rows
    )


def quality_rank_by_source(
    df: DataFrame,
    source_col: str = "lang",
    quality_col: str = "q_int",
    id_col: str = "doc_id",
    buckets: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-source quality CALIBRATION: each document's percent-rank of
    quality WITHIN its source (0 = source's worst, 1 = its best).  Raw
    quality scores are source-biased — a mid-tier document from a
    clean source outscores the best document of a noisy one — so any
    GLOBAL threshold or budget applied to raw scores silently re-weights
    the mixture toward clean sources.  Ranking within source first
    makes "keep the top 20% of every source" a well-posed, mixture-
    preserving selection (the quality-axis complement of
    :func:`token_budget_by_source`'s volume-axis fairness).

    Output: ``(id_col, source_col, quality_col, q_pct)``.

    Scale shape (the ``AUTO_SCALE_ROWS`` contract, same twin discipline
    as the budget operators): ``buckets=0`` pins the exact one-window
    shape — ``percent_rank()`` partitioned by source — the
    oracle-checked form, single-reducer per source.  ``buckets=k``
    computes the IDENTICAL ranks two-level: the 0-based per-source rank
    from ``plans.plan.grouped_bucketed_rank``, the per-source totals
    from one aggregate of the persisted projection, then
    ``pct = rank/(n_source-1)`` — the same IEEE division
    ``percent_rank`` evaluates (the order key is total, so rank ==
    row_number and ties cannot diverge).  ``None`` resolves from the
    MAX per-source count (see :func:`_curation_input`).
    """
    from scdataset_spark.plans.plan import _join_groups, grouped_bucketed_rank

    slim = df.select(id_col, source_col, quality_col)
    src, buckets = _curation_input(df, slim, [source_col], buckets, n_rows)
    out = [id_col, source_col, quality_col, "q_pct"]
    if buckets == 0:
        w = Window.partitionBy(source_col).orderBy(
            F.col(quality_col), F.col(id_col)
        )
        return src.withColumn("q_pct", F.percent_rank().over(w)).select(*out)
    ranked = grouped_bucketed_rank(
        src, [source_col], quality_col,
        [(quality_col, "asc"), (id_col, "asc")], "_rank", buckets,
    )
    totals = src.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    return (
        _join_groups(ranked, totals, [source_col])
        .withColumn(
            "q_pct",
            F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                F.col("_rank") / (F.col("_n") - 1)
            ),
        )
        .select(*out)
    )


def ngram_diversity(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group corpus diversity report: distinct-1 / distinct-2 ratios
    (Li et al. 2016's distinct-n, the standard template/boilerplate
    screen) — a source whose distinct-bigram ratio collapses is
    scraping one template, a synthetic-data batch whose distinct-1
    drops between deliveries is mode-collapsing.  Emits per group:
    doc/token/bigram counts, distinct unigram/bigram counts, and the
    two ratios.

    All built-in expressions (split / slice / zip_with / explode — no
    Python); bigrams pair adjacent tokens, so a 1-token doc contributes
    none (NULL distinct_2 for a group with no bigrams, never a /0).

    Scale shape: two explodes over the token stream feeding two
    hash aggregations with map-side partial distinct (the groupBy key
    is ``group_col`` — sources number in the thousands, so the final
    agg frame is tiny); the per-group joins at the end are
    broadcast-sized.  No windows, no self-joins, one scan of the
    corpus per gram order.  Reference scope: the reference validates
    shapes at ctor time (src/scdataset/scdataset.py); corpus-level
    diversity telemetry is the training-data generalization."""
    base = docs.select(
        F.col(group_col), F.split(F.col(text_col), " ").alias("_t")
    )
    uni = base.select(group_col, F.explode("_t").alias("term"))
    big = base.select(
        group_col,
        F.explode(
            F.expr(
                "zip_with(slice(_t, 1, size(_t) - 1),"
                " slice(_t, 2, size(_t) - 1), (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    d = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    u = uni.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("distinct_unigrams"),
    )
    b = big.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("bigram").alias("distinct_bigrams"),
    )
    return (
        d.join(u, group_col)
        .join(b, group_col, "left")
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "distinct_unigrams",
            F.expr("round(distinct_unigrams / n_tokens, 6)").alias(
                "distinct_1"
            ),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("distinct_bigrams"), F.lit(0)).alias(
                "distinct_bigrams"
            ),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0) > 0"
                " THEN round(distinct_bigrams / n_bigrams, 6) END"
            ).alias("distinct_2"),
        )
    )


def curriculum_order(
    docs: DataFrame,
    phases: int = 4,
    seed: int = 17,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum schedule (Bengio et al. 2009): a deterministic
    easy-to-hard global training order — band the corpus into
    ``phases`` quality bands (phase 0 = highest-quality band first),
    shuffle WITHIN each (phase, source) by a seeded mix, and interleave
    sources round-robin inside each phase so no phase opens with one
    source's entire slice.  Emits ``(phase, rn, pos)``: ``rn`` is the
    within-(phase, source) shuffled slot, ``pos`` the global 0-based
    curriculum position (ordered by phase, then slot, then source —
    the round-robin).

    Engine-portable: the quality score is the exact integer-unit score
    (:func:`with_quality_score`), banding is pure IEEE arithmetic on
    broadcast (lo, hi) bounds, the shuffle key is ``mix(id, seed)``.
    A degenerate corpus (every score equal, ``hi == lo``) is one band
    labeled phase 0 — training starts immediately, no empty phases.

    Scale shape: no global window — within-group numbering is
    :func:`~scdataset_spark.plans.plan.grouped_bucketed_rank` (a hot
    source spreads over range buckets) and the global position is
    :func:`~scdataset_spark.plans.plan.bucketed_rank` on the composite
    ``phase·2^40 + rn`` key; the (lo, hi) stats ride a 1-row
    broadcast.  Reference scope: the reference fixes one epoch order
    per strategy (src/scdataset/scdataset.py epoch permutation);
    difficulty-scheduled ordering is the training-pipeline
    generalization."""
    from scdataset_spark.plans.plan import bucketed_rank, grouped_bucketed_rank
    from scdataset_spark.plans.seeds import mix_sql

    scored = with_quality_score(docs, text_col).select(
        id_col, source_col, "quality_score"
    )
    stats = scored.agg(
        F.min("quality_score").alias("_lo"), F.max("quality_score").alias("_hi")
    )
    top = phases - 1
    band = (
        f"CASE WHEN _hi > _lo THEN least(CAST({top} AS BIGINT), "
        f"greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((quality_score - _lo) * {phases} / (_hi - _lo)) AS BIGINT)))"
        f" ELSE CAST({top} AS BIGINT) END"
    )
    ph = (
        scored.crossJoin(F.broadcast(stats))
        .withColumn("phase", F.expr(f"CAST({top} AS BIGINT) - ({band})"))
        .drop("_lo", "_hi")
        .withColumn("_ik", F.expr(mix_sql(id_col, seed, "spark")))
    )
    ranked = grouped_bucketed_rank(
        ph,
        ["phase", source_col],
        "_ik",
        [("_ik", "asc"), (id_col, "asc")],
        out_col="rn",
    )
    keyed = ranked.withColumn(
        "_ck", F.col("phase") * F.lit(1 << 40) + F.col("rn")
    )
    return (
        bucketed_rank(
            keyed, "_ck", [("_ck", "asc"), (source_col, "asc")], out_col="pos"
        )
        .select(id_col, source_col, "quality_score", "phase", "rn", "pos")
    )


def with_gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, Appendix A
    — the filter set most LLM curation pipelines start from), each as a
    per-doc boolean flag plus the measured value, and ``gopher_pass``
    as their conjunction:

    - ``flag_word_count``: 50 <= words <= 100,000
    - ``flag_mean_word_len``: mean word length in [3, 10]
    - ``flag_symbol_ratio``: (# + ellipsis occurrences) / words < 0.1
    - ``flag_alpha_ratio``: >= 80% of words contain a letter
    - ``flag_stop_words``: >= 2 stop-word occurrences

    Flags are emitted individually (not just the conjunction) because
    the *which rule fired* breakdown is what a curation run tunes on.
    All built-in expressions over one split — a narrow map, no shuffle,
    no Python; every value is integer or a single rounded division, so
    the SQL oracle checks values exactly."""
    toks = f"split({text_col}, ' ')"
    base = (
        with_stop_counts(df, text_col)
        .withColumn(
            "mean_word_len",
            F.expr(
                f"round(aggregate({toks}, 0L, (acc, t) -> acc + length(t))"
                f" / size({toks}), 6)"
            ),
        )
        .withColumn(
            "symbol_ratio",
            F.expr(
                f"round(((length({text_col}) - length(replace({text_col}, '#', '')))"
                f" + (length({text_col}) - length(replace({text_col}, '...', ''))) DIV 3)"
                f" / size({toks}), 6)"
            ),
        )
        .withColumn(
            "alpha_word_ratio",
            F.expr(
                f"round(size(filter({toks}, t -> t rlike '[a-zA-Z]'))"
                f" / size({toks}), 6)"
            ),
        )
    )
    flags = {
        "flag_word_count": "n_tokens BETWEEN 50 AND 100000",
        "flag_mean_word_len": "mean_word_len BETWEEN 3.0 AND 10.0",
        "flag_symbol_ratio": "symbol_ratio < 0.1",
        "flag_alpha_ratio": "alpha_word_ratio >= 0.8",
        "flag_stop_words": "n_stop >= 2",
    }
    out = base
    for name, cond in flags.items():
        out = out.withColumn(name, F.expr(cond))
    return out.withColumn(
        "gopher_pass", F.expr(" AND ".join(flags.keys()))
    )


def unimax_budget(
    docs: DataFrame,
    budget: int,
    epochs: int = 1,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """UniMax per-source token budgeting (Chung et al. 2023): split a
    total token ``budget`` across sources by water-filling with a
    per-source cap of ``epochs`` passes over its data — small sources
    contribute everything up to their cap, large sources are clipped to
    a common level, and no source is over-sampled past ``epochs``
    repeats (the fairer alternative to temperature sampling's
    tail over-repetition).  Emits per source: token count, cap,
    whether the cap bound (``capped``), the integer ``budget_tokens``,
    and ``epochs_used``.

    All arithmetic is exact BIGINT water-filling: sources sort
    ascending by cap; the capped prefix is the maximal prefix with
    ``cap·(remaining) + prefix ≤ budget`` (monotone, so a true-prefix);
    the uncapped level is an integer division with the remainder
    distributed one token each to the LARGEST uncapped sources, so
    ``Σ budget_tokens == min(budget, Σ caps)`` holds exactly and the
    SQL oracle checks every integer.

    Scale shape: ONE groupBy of the corpus (map-side combined) to the
    sources-sized frame; the ordering window, prefix sums, and the
    1-row capped-stats broadcast all run on that tiny frame (same
    posture as ``strategies.mixture_plan``).  The corpus is scanned
    once at any size."""
    if budget < 0 or epochs < 1:
        raise ValueError(f"need budget >= 0, epochs >= 1, got {budget}, {epochs}")
    counts = (
        docs.select(
            F.col(source_col),
            F.expr(f"size(split({text_col}, ' '))").alias("_nt"),
        )
        .groupBy(source_col)
        .agg(F.sum("_nt").alias("n_tokens"))
        .withColumn("cap_tokens", F.col("n_tokens") * epochs)
    )
    w = Window.orderBy("cap_tokens", source_col)
    o = counts.withColumn("idx", F.row_number().over(w).cast("bigint")).withColumn(
        "prefix",
        F.coalesce(
            F.sum("cap_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    m = o.agg(F.count(F.lit(1)).cast("bigint").alias("_m"))
    f = o.crossJoin(F.broadcast(m)).withColumn(
        "capped",
        F.expr(f"cap_tokens * (_m - idx + 1) + prefix <= {budget}"),
    )
    s = f.agg(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap_tokens"))), F.lit(0)
        ).alias("_s"),
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .cast("bigint")
        .alias("_k"),
    )
    bt = (
        "CASE WHEN capped THEN cap_tokens "
        f"WHEN idx > _m - (({budget} - _s) % (_m - _k)) "
        f"THEN ({budget} - _s) DIV (_m - _k) + 1 "
        f"ELSE ({budget} - _s) DIV (_m - _k) END"
    )
    return (
        f.crossJoin(F.broadcast(s))
        .withColumn("budget_tokens", F.expr(bt))
        .withColumn(
            "epochs_used", F.expr("round(budget_tokens / n_tokens, 6)")
        )
        .select(
            source_col,
            "n_tokens",
            "cap_tokens",
            "capped",
            "budget_tokens",
            "epochs_used",
        )
    )
