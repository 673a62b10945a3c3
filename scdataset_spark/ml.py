"""MLlib pipeline integration (the north star's "DataFrame loading +
MLlib pipelines") plus expression-level twins where SQL-oracle checking
is possible.

- label encoding (reference ``training_experiments/data/label_encoder.py``)
  via MLlib ``StringIndexer`` — the deterministic frequencyDesc order is
  reproducible in SQL as ``dense_rank() OVER (ORDER BY count DESC,
  label ASC) - 1``.
- TF-IDF: MLlib ``HashingTF/IDF`` for pipelines (murmur3 buckets — not
  SQL-portable), and an expression-level exact TF-IDF
  (``tfidf_expression``) used for the oracle-checked query.
- a ``BucketedRandomProjectionLSH`` wrapper over the embeddings table
  for ANN joins inside MLlib pipelines.
"""

from __future__ import annotations

from pyspark.ml.feature import (
    BucketedRandomProjectionLSH,
    HashingTF,
    IDF,
    StringIndexer,
    Tokenizer,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_encode(df: DataFrame, label_col: str, out_col: str = "label_idx") -> DataFrame:
    """StringIndexer with frequencyDesc ordering (most frequent → 0)."""
    idx = StringIndexer(
        inputCol=label_col, outputCol=out_col, stringOrderType="frequencyDesc"
    )
    return idx.fit(df).transform(df)


def tfidf_expression(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact smooth TF-IDF (sklearn formula: idf = ln((N+1)/(df+1)) + 1)
    via pure relational ops: explode → tf per (doc, term) → df per term
    → broadcast join.  Deterministic, SQL-expressible, scales as two
    aggregations."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1), 6
            ).alias("tfidf"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set
    — the retrieval scorer a curation pipeline uses to mine
    domain-relevant training documents from a crawl (quality-classifier
    seeding, targeted corpus selection).

    Pure relational shape, all JVM-side: one explode pass feeds BOTH
    per-doc length (all tokens) and per-(doc, term) tf (term-filtered
    BEFORE the aggregation, so the heavy tf shuffle carries only query
    terms); df and the 1-row (N, avgdl) stats broadcast back.  idf is
    the Robertson/Sparck-Jones form ``ln(1 + (N - df + .5)/(df + .5))``.

    Scales as: big side touched by one scan + one slim groupBy; no
    window, no self-join; the score join on ``id_col`` shuffles only
    docs containing a query term.
    """
    # terms reach SQL only as bound isin() values — no escaping needed,
    # and stripping characters would silently unmatch tokens like "don't"
    terms = list(query_terms)
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.where(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    w = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(w), 6).alias("bm25"))
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own add-``alpha``-smoothed unigram LM — the CCNet/Wikipedia-LM
    perplexity-filter shape (docs whose tokens are collectively
    improbable under the corpus distribution are boilerplate, format
    noise, or the wrong language; low ``avg_logprob`` = filter
    candidates).  ``avg_logprob = mean_t ln((count(t) + α) /
    (N + α·V))`` over the doc's tokens; higher is more typical.

    Engine-portable determinism: each token's log-prob is a pure
    function of (count, N, V) rounded to 8 digits BEFORE the per-doc
    sum (so libm ulp differences between engines vanish), the sum runs
    in the limb form (``plans/exact.py`` — order-independent, pure
    long accumulators), and the mean rounds to 6.

    Scale shape: one token explode feeding BOTH aggregations — the
    vocabulary count (groupBy term, map-side combined) and the per-doc
    token count; the (N, V) stats are a 1-row broadcast; the scoring
    join is token→vocab equi-join (shuffle bounded by token count).
    No windows, no self-joins; at 100 TB this is two shuffles over the
    token stream.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    stats = vocab.agg(
        F.sum("cnt").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    from scdataset_spark.plans.exact import lsum_cols, lsum_out

    lp = f"round(ln((cnt + {alpha}) / (_n + {alpha} * _v)), 8)"
    return (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), *lsum_cols(lp, "lp"))
        .selectExpr(
            id_col,
            "n_tokens",
            "round(("
            + lsum_out("lp", "x").replace(" AS x", "")
            + ") / n_tokens, 6) AS avg_logprob",
        )
    )


def hashed_tfidf_pipeline(docs: DataFrame, text_col: str = "text", features: int = 1024) -> DataFrame:
    """MLlib Tokenizer → HashingTF → IDF (the pipeline-native variant;
    murmur3 bucketed, so checked by shape/statistics rather than oracle)."""
    tok = Tokenizer(inputCol=text_col, outputCol="_words")
    words = tok.transform(docs)
    tf = HashingTF(inputCol="_words", outputCol="_tf", numFeatures=features).transform(words)
    idf = IDF(inputCol="_tf", outputCol="tfidf_vec").fit(tf)
    return idf.transform(tf).drop("_words", "_tf")


def brp_lsh_neighbors(
    df: DataFrame, vec_col: str, key, k: int = 5, bucket_len: float = 2.0, seed: int = 7
):
    """BucketedRandomProjectionLSH ANN for dense vectors."""
    brp = BucketedRandomProjectionLSH(
        inputCol=vec_col, outputCol="_hashes", bucketLength=bucket_len, seed=seed
    )
    model = brp.fit(df)
    return model.approxNearestNeighbors(df, key, k)


def dsir_logratio(
    docs: DataFrame,
    target_where: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    k: int = 100,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    its importance log-ratio under a TARGET-domain unigram LM vs the
    RAW-corpus unigram LM, and keep the top ``k`` — the
    target-domain-leaning slice of the corpus.  ``target_where`` is a
    SQL predicate on the doc columns picking the in-domain exemplar set
    (the paper's "target distribution" sample); both LMs are
    add-``alpha``-smoothed over the SHARED raw vocabulary so the ratio
    is defined for every token.  This is the deterministic top-k
    variant (the paper adds Gumbel noise before the top-k; compose
    with ``o3_weighted_replace``'s inverse-CDF sampler on
    ``exp(log_ratio)`` weights for the sampled form).

    Engine-portable exactness, same recipe as :func:`unigram_logprob`:
    each token's log-ratio is a pure function of the two (count, N, V)
    triples rounded to 8 digits before an order-independent limb sum;
    the per-doc sum and length-normalized mean round to 6.

    Scale shape: ONE token explode feeds ONE vocabulary aggregation
    carrying BOTH counts — the raw term count and a conditional sum of
    the target-membership flag — so the two LMs cost one shuffle over
    the token stream, not two; the merged vocab joins back to the token
    stream term-keyed (the same bounded shuffle unigram_logprob pays),
    the (N_r, N_t, V) stats ride a 1-row broadcast, and the final
    top-k is a TakeOrderedAndProject — never a global sort
    materialization.  Reference scope: the reference samples by static
    per-dataset weights (src/scdataset/scdataset.py weights ctor);
    distribution-matched SELECTION of the training slice is the
    corpus-scale generalization this engine adds."""
    toks = docs.select(
        F.col(id_col),
        F.expr(f"CASE WHEN {target_where} THEN 1L ELSE 0L END").alias("_t"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    vocab = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("cnt_r"), F.sum("_t").alias("cnt_t")
    )
    stats = vocab.agg(
        F.sum("cnt_r").alias("_nr"),
        F.sum("cnt_t").alias("_nt"),
        F.count(F.lit(1)).alias("_v"),
    )
    from scdataset_spark.plans.exact import lsum_cols, lsum_out

    lr = (
        f"round(ln((cnt_t + {alpha}) / (_nt + {alpha} * _v))"
        f" - ln((cnt_r + {alpha}) / (_nr + {alpha} * _v)), 8)"
    )
    total = lsum_out("lr", "x").replace(" AS x", "")
    scored = (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), *lsum_cols(lr, "lr"))
        .selectExpr(
            id_col,
            "n_tokens",
            f"round(({total}), 6) AS log_ratio",
            f"round(({total}) / n_tokens, 6) AS avg_logratio",
        )
    )
    return scored.orderBy(
        F.desc("avg_logratio"), F.col(id_col)
    ).limit(k)
