"""Layer-B LLM-data-pipeline queries: text analysis, dedup, similarity
search, multimodal zip (SURVEY.md §2.14) — each oracle-checked.

Dedup queries run on a *planted-duplicates corpus*: ``documents`` UNION
exact copies (doc_id % 7 == 0, +1_000_000 ids) and near-duplicates with
the first two tokens dropped (doc_id % 11 == 0, +2_000_000 ids), built
identically in Spark and in the oracle SQL — so the dedup operators are
checked against known-planted positives instead of an empty result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators import dedup as dd
from scdataset_spark.operators import similarity as sim
from scdataset_spark.operators import textanalysis as tx
from scdataset_spark.plans.seeds import mix_sql
from scdataset_spark.queries.registry import query

# ------------------------------------------------------------ corpus
CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(string_split(text, ' ')[3:], ' ') AS text
  FROM documents WHERE doc_id % 11 = 0
)
"""


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicates corpus (see module docstring).

    ONE SCAN, not a three-branch union: each source row explodes into
    its 1-3 planted variants (original / exact copy / head-dropped
    near-dup) from a single pass — the union form read ``documents``
    three times per consumer, and its Union node also tripped a Spark
    analyzer constraint-rewrite bug (``UnionBase.rewriteConstraints``
    ``NoSuchElementException``) when a union-derived frame was
    persisted under an argmin self-join (semantic_dedup shape).  Values
    are identical expression-for-expression, so the UNION ALL oracle
    CTE is unchanged.

    NOT width-repartitioned here: measured A/B at sf0.1 shows a blanket
    corpus shuffle is a net loss for the cheap consumers (exact-dup
    md5+groupBy 0.37s -> 0.71s, minhash banding 0.31s -> 0.49s warm) —
    their downstream shuffles already spread the work.  Operators whose
    PRE-shuffle compute is the dominant cost repartition internally
    where the win is measured (``jaccard_pairs``,
    ``winnowing_fingerprints``)."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False).select("doc_id", "text")
    drop2 = "array_join(slice(split(text, ' '), 3, 1000000), ' ')"
    variants = (
        "filter(array("
        "named_struct('doc_id', doc_id, 'text', text), "
        "IF(doc_id % 7 = 0, named_struct('doc_id', doc_id + 1000000, 'text', text), NULL), "
        f"IF(doc_id % 11 = 0, named_struct('doc_id', doc_id + 2000000, 'text', {drop2}), NULL)"
        "), s -> s IS NOT NULL)"
    )
    return docs.select(F.explode(F.expr(variants)).alias("_r")).select(
        "_r.doc_id", "_r.text"
    )


# DuckDB shingle fragment over a CTE exposing sp = string_split(text,' ')
DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(sp) - 2, 1) + 1), "
    "i -> sp[i] || ' ' || sp[least(i + 1, len(sp))] || ' ' || sp[least(i + 2, len(sp))]))"
)


# ------------------------------------------------------- text analysis
@query(
    "tx_token_stats",
    survey_ref="§2.14 text",
    headline=True,
    oracle="""
WITH sp_t AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents)
SELECT doc_id,
       len(sp) AS n_tokens,
       len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
       round(list_aggregate(list_transform(sp, t -> length(t)), 'sum') / len(sp), 6) AS mean_token_len
FROM sp_t
""",
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_token_stats(docs).select(
        "doc_id", "n_tokens", "n_alpha_tokens", "mean_token_len"
    )


@query(
    "tx_vocabulary",
    survey_ref="§2.14 text",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (
  SELECT term, count(*) AS cnt FROM toks
  WHERE term <> '' GROUP BY term HAVING count(*) >= 10
)
SELECT term, cnt,
       row_number() OVER (ORDER BY cnt DESC, term) AS rank
FROM counts ORDER BY cnt DESC, term LIMIT 50
""",
)
def tx_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction (tokenizer-training prep): global
    token counts, min-count floor, top-N by frequency.

    Scale shape: the count is one map-side-combined groupBy on term
    (hot tokens pre-aggregate per partition before the shuffle — no
    salting needed because sum is associative), and the top-N is
    Spark's TakeOrdered (per-partition heap + driver merge of N·parts
    rows), never a global sort.  The rank window runs AFTER the limit,
    on 50 rows."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 10)
        .orderBy(F.col("cnt").desc(), "term")
        .limit(50)
    )
    return counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "term")),
    )


@query(
    "tx_quality_score",
    survey_ref="§2.14 text",
    oracle=f"""
WITH sp_t AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents),
q AS (
  SELECT doc_id, text, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop
  FROM sp_t
)
SELECT doc_id, n_tokens, round(n_stop / n_tokens, 6) AS stopword_ratio,
       CAST((500000 * n_stop) // n_tokens
           + (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 300000 ELSE 0 END)
           + (CASE WHEN length(text) BETWEEN 100 AND 500 THEN 200000 ELSE 0 END)
           AS DOUBLE) / 1000000 AS quality_score
FROM q
""",
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_quality_score(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "quality_score"
    )


def _langid_oracle() -> str:
    scores = ",\n       ".join(
        f"len(list_filter(sp, t -> list_contains([{', '.join(repr(m) for m in ms)}], t))) AS score_{lang}"
        for lang, ms in tx.LANG_MARKERS.items()
    )
    return f"""
WITH sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
s AS (SELECT doc_id,
       {scores}
FROM sp_t)
SELECT doc_id, score_en, score_fr, score_de, score_es,
       CASE WHEN greatest(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
            WHEN score_en >= greatest(score_fr, score_de, score_es) THEN 'en'
            WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
            WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END AS lang_pred
FROM s
""".replace("'", "'").replace('"', "'")


@query("tx_langid", survey_ref="§2.14 text", oracle=_langid_oracle())
def tx_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_langid(docs).select(
        "doc_id", "score_en", "score_fr", "score_de", "score_es", "lang_pred"
    )


@query(
    "tx_fingerprint",
    survey_ref="§2.14 text",
    oracle="""
SELECT doc_id,
       md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint
FROM documents
""",
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_fingerprint(docs).select("doc_id", "fingerprint")


# -------------------------------------------------------------- dedup
@query(
    "dd_exact_groups",
    survey_ref="§2.14 dedup",
    headline=True,
    oracle=f"""
WITH {CORPUS_SQL},
fp AS (
  SELECT doc_id, md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint
  FROM corpus
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_doc
FROM fp GROUP BY fingerprint HAVING count(*) > 1
""",
)
def dd_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on normalized-text fingerprint; the
    planted exact copies form the duplicate groups; keep = min doc_id."""
    c = tx.with_fingerprint(corpus(spark, sf_dir))
    return (
        c.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("n_docs") > 1)
    )


def _minhash_bands_cte(num_hashes: int = 12, bands: int = 4) -> str:
    """Shared WITH-prefix ending in the ``banded`` (doc_id, band_id,
    band_sig) CTE — the SQL twin of ``dedup.lsh_bands``."""
    r = num_hashes // bands
    mh = ",\n       ".join(
        "list_aggregate(list_transform(h0, h -> "
        f"({a} * h + {b}) % {dd._MH_PRIME}), 'min') AS mh{j}"
        for j, (a, b) in enumerate(dd.minhash_coeffs(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"md5(concat_ws('|', {', '.join(f'mh{b * r + i}' for i in range(r))})) AS band_sig FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
sh_t AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM sp_t),
h0_t AS (SELECT doc_id,
                list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h0
         FROM sh_t),
sigs AS (SELECT doc_id, {mh} FROM h0_t),
banded AS ({band_selects})"""


def _minhash_oracle(num_hashes: int = 12, bands: int = 4) -> str:
    return f"""
{_minhash_bands_cte(num_hashes, bands)}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


@query("dd_minhash_lsh", survey_ref="§2.14 dedup", headline=True, oracle=_minhash_oracle())
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(4 bands × 3 rows) candidate pairs on the planted
    corpus — banded equi-self-join, no cross product."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    return dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)


def _simhash_oracle(bits: int = 32) -> str:
    from scdataset_spark.operators.textanalysis import simhash_bit_weight

    digit = "(instr('0123456789abcdef', substr(md5(t), {pos}, 1)) - 1)"
    sums = ",\n       ".join(
        f"sum(2 * (({digit.format(pos=b // 4 + 1)} // {2 ** (b % 4)}) % 2) - 1) AS s{b}"
        for b in range(bits)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {simhash_bit_weight(b)} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH {CORPUS_SQL},
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM corpus
),
votes AS (
  SELECT doc_id,
       {sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes
"""


@query("dd_simhash", survey_ref="§2.14 dedup", oracle=_simhash_oracle())
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash signatures over the distinct token set; identical
    signatures → near-dup bucket (the planted near-copies collide)."""
    return tx.with_simhash(corpus(spark, sf_dir)).select("doc_id", "simhash")


def _simhash_pairs_oracle(max_hamming: int = 3, bits: int = 32, bands: int = 4) -> str:
    base = _simhash_oracle(bits)
    width = bits // bands
    mask = (1 << width) - 1
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx, (simhash >> {b * width}) & {mask} AS band_val FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH sigs AS ({base}),
banded AS ({band_sel})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@query(
    "dd_simhash_pairs",
    survey_ref="§2.14 dedup",
    oracle=_simhash_pairs_oracle(max_hamming=1, bits=64, bands=2),
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup PAIRS on the planted corpus via pigeonhole
    banding (hamming ≤ 1 ⇒ ≥ 1 identical band of 2): equi-join
    candidates, exact bit_count(xor) verification — no cross product,
    the production simhash dedup shape.  64-BIT signatures with 2x32-bit
    bands: the sf100 audit measured 32-bit/16-bit-band signatures going
    quadratic at 6 M docs (≈94 docs per band bucket ⇒ candidate volume
    ~n²·bands/2^width), while 32-bit band VALUES stay unsaturated to
    ~10^8 docs.  ``max_bucket=None`` keeps the oracle-checked path
    exact: the hot-bucket backstop is a bounded recall trade the SQL
    oracle does not mirror."""
    sigs = tx.with_simhash(corpus(spark, sf_dir), bits=64).select("doc_id", "simhash")
    return dd.simhash_hamming_pairs(sigs, max_hamming=1, bits=64, max_bucket=None)


@query(
    "dd_decontamination",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH base AS ({_minhash_oracle()})
SELECT doc_a AS eval_doc, doc_b AS train_doc
FROM base WHERE doc_a % 10 = 3 AND doc_b % 10 <> 3
UNION
SELECT doc_b AS eval_doc, doc_a AS train_doc
FROM base WHERE doc_b % 10 = 3 AND doc_a % 10 <> 3
""",
)
def dd_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents that near-duplicate
    EVAL-split documents (split by doc_id residue here; by benchmark
    membership in production) must be dropped before pretraining.  The
    cross-split LSH candidate join — same banded equi-join, restricted
    to pairs that cross the split, so eval text never leaks into
    training via paraphrase-level copies."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    pairs = dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)
    a_eval = pairs.where((F.col("doc_a") % 10 == 3) & (F.col("doc_b") % 10 != 3)).select(
        F.col("doc_a").alias("eval_doc"), F.col("doc_b").alias("train_doc")
    )
    b_eval = pairs.where((F.col("doc_b") % 10 == 3) & (F.col("doc_a") % 10 != 3)).select(
        F.col("doc_b").alias("eval_doc"), F.col("doc_a").alias("train_doc")
    )
    return a_eval.unionByName(b_eval).distinct()


@query(
    "dd_incremental_novel",
    survey_ref="§2.14 dedup, §2.1 incremental",
    oracle=f"""
{_minhash_bands_cte()}
SELECT DISTINCT doc_id FROM banded
WHERE doc_id % 10 >= 8
  AND doc_id NOT IN (
    SELECT i.doc_id FROM banded i JOIN banded e
      ON i.band_id = e.band_id AND i.band_sig = e.band_sig
     WHERE i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8)
""",
)
def dd_incremental_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append-only-corpus dedup
    (``operators/dedup.py::novel_documents``): the incoming increment
    (doc_id residue >= 8 here; the day's crawl in production) probes the
    EXISTING corpus's banded LSH index with one semi-join and the novel
    remainder falls out of one anti-join — O(increment + index-probe)
    per increment instead of re-running pairwise dedup over old+new.
    The streaming form applies the same operator per micro-batch via
    foreachBatch (tests/test_streaming.py)."""
    c = corpus(spark, sf_dir)
    incoming = c.where(F.col("doc_id") % 10 >= 8)
    existing = c.where(F.col("doc_id") % 10 < 8)
    return dd.novel_documents(incoming, existing)


@query(
    "dd_incremental_ingest",
    survey_ref="§2.14 dedup, §2.1 incremental, §2.11",
    oracle=f"""
{_minhash_bands_cte()},
n1 AS (
  SELECT DISTINCT doc_id FROM banded
  WHERE doc_id % 10 = 8 AND doc_id NOT IN (
    SELECT i.doc_id FROM banded i JOIN banded e
      ON i.band_id = e.band_id AND i.band_sig = e.band_sig
     WHERE i.doc_id % 10 = 8 AND e.doc_id % 10 < 8)
),
n2 AS (
  SELECT DISTINCT doc_id FROM banded
  WHERE doc_id % 10 = 9 AND doc_id NOT IN (
    SELECT i.doc_id FROM banded i JOIN banded e
      ON i.band_id = e.band_id AND i.band_sig = e.band_sig
     WHERE i.doc_id % 10 = 9
       AND (e.doc_id % 10 < 8 OR e.doc_id IN (SELECT doc_id FROM n1)))
)
SELECT doc_id, CAST(0 AS BIGINT) AS batch_id FROM n1
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS batch_id FROM n2
""",
)
def dd_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest with a GROWING band index
    (``dedup.write_band_index`` + ``novel_ingest_batches``): the
    persisted index is built on the base corpus, then two deliveries
    are screened and appended in turn — so delivery 2 is deduped
    against the corpus AND delivery 1's kept documents, the cumulative
    semantics a static ``novel_documents`` index cannot give a stream.
    The oracle replays both rounds exactly: n2's collision set includes
    n1's novel ids, pinning the cross-delivery dedup path, not just the
    static-corpus one."""
    import hashlib
    import os
    import shutil

    c = corpus(spark, sf_dir)
    ver = hashlib.md5(b"novel_ingest:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    global _NOVEL_INGEST_RUN
    _NOVEL_INGEST_RUN += 1
    path = (
        f"/tmp/scdataset_spark_bandidx_{ver}_{os.getpid()}"
        f"/run{_NOVEL_INGEST_RUN}/{base}"
    )
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    dd.write_band_index(c.where("doc_id % 10 < 8"), path)
    rows: list[tuple[int, int]] = []
    ingest = dd.novel_ingest_batches(
        path, sink=lambda df: rows.extend((r.doc_id, r.batch_id) for r in df.collect())
    )
    ingest(c.where("doc_id % 10 = 8"), 0)
    ingest(c.where("doc_id % 10 = 9"), 1)
    return spark.createDataFrame(rows, "doc_id bigint, batch_id bigint")


_NOVEL_INGEST_RUN = 0


@query(
    "dd_incremental_verified",
    survey_ref="§2.14 dedup, §2.1 incremental",
    oracle=f"""
{_minhash_bands_cte()},
pairs AS (
  SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
  FROM banded i JOIN banded e
    ON i.band_id = e.band_id AND i.band_sig = e.band_sig
  WHERE i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8
),
sp2 AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
sh2 AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM sp2),
best AS (
  SELECT p.inc_id AS doc_id,
         max(round(len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)) AS best_jaccard
  FROM pairs p
  JOIN sh2 a ON p.inc_id = a.doc_id
  JOIN sh2 b ON p.ex_id = b.doc_id
  GROUP BY p.inc_id
)
SELECT c.doc_id,
       CAST(CASE WHEN b.best_jaccard IS NULL OR b.best_jaccard < 0.5 THEN 1 ELSE 0 END AS INT) AS is_novel,
       b.best_jaccard
FROM corpus c LEFT JOIN best b ON c.doc_id = b.doc_id
WHERE c.doc_id % 10 >= 8
""",
)
def dd_incremental_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with the verify stage composed in
    (``operators/dedup.py::novel_documents_verified``): the increment
    probes the existing corpus's banded index, and every COLLIDED doc
    is exact-Jaccard-checked against its actual band partners — a
    false-positive band collision no longer silently discards a good
    document.  Verify cost is O(|candidates|): both shingle
    re-derivations are semi-join-restricted to collided ids before any
    shingling happens."""
    c = corpus(spark, sf_dir)
    incoming = c.where(F.col("doc_id") % 10 >= 8)
    existing = c.where(F.col("doc_id") % 10 < 8)
    return dd.novel_documents_verified(incoming, existing, threshold=0.5)


def _minhash_verified_oracle(num_hashes: int = 12, bands: int = 4, threshold: float = 0.5) -> str:
    base = _minhash_oracle(num_hashes, bands)
    return f"""
WITH cand AS ({base}),
{CORPUS_SQL.strip().rstrip(')')}
),
sp_t2 AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
sh_t2 AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM sp_t2)
SELECT c.doc_a, c.doc_b,
       round(len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM cand c
JOIN sh_t2 a ON c.doc_a = a.doc_id
JOIN sh_t2 b ON c.doc_b = b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= {threshold}
"""


@query("dd_lsh_verified", survey_ref="§2.14 dedup", oracle=_minhash_verified_oracle())
def dd_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage near-dup pipeline: LSH generates
    candidates (no cross product), then exact Jaccard verifies each
    candidate pair — only the candidate pairs ever compute a real
    similarity.  This is the shape that survives 100 TB: stage-1 join
    fan-out is banded, stage-2 work is |candidates|, not n^2."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    cand = dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)
    sh = dd.with_shingles(corpus(spark, sf_dir)).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_shb"))
    jac = F.expr(
        "round(size(array_intersect(_sha, _shb)) / "
        "(size(_sha) + size(_shb) - size(array_intersect(_sha, _shb))), 6)"
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def _components_oracle() -> str:
    """Exact components via transitive closure (recursive CTE) over the
    SAME banded-LSH pair graph: min reachable id == component id, so
    equality proves the Spark label propagation reached its fixed
    point."""
    return f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


@query("dd_components", survey_ref="§2.14 dedup", oracle=_components_oracle())
def dd_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the banded-LSH
    candidate-pair graph (``operators/dedup.py::connected_components``)
    — the step that turns pairs into dedup groups.  This pair graph is
    far below the driver bound, so it is labelled on the driver.  The
    oracle computes exact transitive closure with a recursive CTE, so
    parity proves the labelling found the true components."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    edges = dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)
    comp = dd.connected_components(edges)
    return comp.select(F.col("id").alias("doc_id"), "component")


@query("dd_components_star", survey_ref="§2.14 dedup", oracle=_components_oracle())
def dd_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair graph, same exact-transitive-closure oracle, but
    clustered with the alternating large-star/small-star rounds
    (``operators/dedup.py::connected_components_star``, Kiveris et al.
    SoCC'14) — O(log² n) rounds on any graph shape, the distributed
    shape ``connected_components`` runs for a pair graph above its
    driver bound.  Calling the rounds directly keeps them under the
    oracle at a size the driver would otherwise take."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    edges = dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)
    comp = dd.connected_components_star(edges)
    return comp.select(F.col("id").alias("doc_id"), "component")


@query(
    "dd_dedup_corpus",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
{CORPUS_SQL}
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
""",
)
def dd_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: drop every non-representative member of a
    near-dup component (keep = min doc_id), keep all unpaired docs —
    the surviving corpus a training pipeline would feed downstream.
    One anti-join against the non-representative set (no forced
    broadcast: the drop list grows with the corpus dup count, so the
    join strategy is AQE's size-stats call)."""
    c = dd.with_minhash(dd.with_shingles(corpus(spark, sf_dir)), num_hashes=12)
    edges = dd.lsh_candidate_pairs(c, num_hashes=12, bands=4)
    comp = dd.connected_components(edges)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    return corpus(spark, sf_dir).select("doc_id").join(
        drop, "doc_id", "left_anti"
    )


@query(
    "dd_keep_best",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
{CORPUS_SQL},
q AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','a','of','and','to','in'], t))) AS n_stop
  FROM corpus
),
scored AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component,
         CAST((500000 * n_stop) // n_tokens
             + (CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 300000 ELSE 0 END)
             + (CASE WHEN length(text) BETWEEN 100 AND 500 THEN 200000 ELSE 0 END)
             AS DOUBLE) / 1000000 AS quality_score
  FROM q LEFT JOIN comp c ON q.doc_id = c.id
)
SELECT component, doc_id AS keep_doc_id, quality_score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY quality_score DESC, doc_id
  ) AS rn FROM scored
) WHERE rn = 1
""",
)
def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup policy: per near-dup component keep the
    HIGHEST-quality member (ties → lowest doc_id), not the arbitrary
    min-id representative — what a curation pipeline actually ships
    (cf. the keep-longest/keep-cleanest policies in C4/RefinedWeb-style
    dedup).  Unpaired docs are their own singleton component.

    Scale shape: components from the banded-LSH pair graph (short-key
    equi-join, no all-pairs), quality from one scan, and the
    per-component argmax through the SALTED two-phase top-k
    (``per_group_top_k``) so a viral dup cluster with millions of
    members never funnels through one reducer."""
    from scdataset_spark.operators.skew import per_group_top_k

    c = corpus(spark, sf_dir)
    mh = dd.with_minhash(dd.with_shingles(c), num_hashes=12)
    edges = dd.lsh_candidate_pairs(mh, num_hashes=12, bands=4)
    comp = dd.connected_components(edges).withColumnRenamed("id", "doc_id")
    scored = (
        tx.with_quality_score(c)
        .select("doc_id", "quality_score")
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
    )
    best = per_group_top_k(
        scored,
        ["component"],
        # negated score = descending (scores are non-null); SortOrder
        # wrappers are rejected by per_group_top_k's salt
        [-F.col("quality_score"), F.col("doc_id")],
        k=1,
    )
    return best.select(
        "component", F.col("doc_id").alias("keep_doc_id"), "quality_score"
    )


# document-frequency cap for the inverted-index join (mirrored in the
# oracle, so the cap logic itself is value-checked — not just bypassed)
NGRAM_MAX_DF = 10_000


@query(
    "dd_ngram_jaccard",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
sh_t AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM sp_t),
inv0 AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh_t),
dfreq AS (SELECT s, count(*) AS dfc FROM inv0 GROUP BY s),
inv AS (SELECT i.doc_id, i.n_sh, i.s FROM inv0 i JOIN dfreq d ON i.s = d.s
        WHERE d.dfc <= {NGRAM_MAX_DF}),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS shared
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, round(shared / (na + nb - shared), 6) AS jaccard
FROM shared WHERE round(shared / (na + nb - shared), 6) >= 0.3
""",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.3 via inverted-index join, with the
    document-frequency cap on hot shingles (stop-shingle removal) that
    bounds join fan-out at scale — see ``dedup.jaccard_pairs``."""
    c = dd.with_shingles(corpus(spark, sf_dir))
    return dd.jaccard_pairs(c, threshold=0.3, max_df=NGRAM_MAX_DF)


# --- planted near-dup embedding corpus -------------------------------
# Mirrors the text corpus above: embeddings UNION perturbed copies of
# vec_id % 5 == 0 (ids +1_000_000), perturbation = deterministic
# mixer-derived noise of ±0.02 per component (component std is 0.125, so
# planted cosine ≈ 0.995 while random pairs sit near 0).  Near-dup
# detection is a HIGH-threshold problem — at the old 0.4 threshold the
# sign-bit agree probability is 0.63 vs 0.50 for random pairs, too weak
# a gap for any LSH family to amplify (that regime is a similarity JOIN,
# served exactly by sim_topk_cosine); at 0.98 banded LSH gives 0.09%
# candidate fan-out with recall 1.0 (measured at sf0.01).
EMB_NOISE_SEED = 99
EMB_BANDS = 8
# Band WIDTH is the saturation lever (same lesson as simhash): the band
# value space is 2^rows_per_band per band, and candidate volume grows
# ~n²·bands/2^rows once buckets hold many vectors.  16-bit bands (65k
# values) saturated at the sf100 audit's 6M vectors (~94 vectors per
# bucket → OOM in the candidate self-join); 24-bit bands hold ~16.7M
# values per band (unsaturated to ~10^7-10^8 vectors).  Width costs
# recall at fixed band count: with 8×24-bit bands, recall at the
# planted near-dup cosine (~0.9995) is ≈1-5e-6, but at the 0.98 report
# threshold it is only ~0.84 — these queries deliberately pin bands=8
# (the oracle replays the identical banding, so parity is exact over
# the candidates the bands generate; the 0.98-tail pairs both engines
# miss identically).  Default-parameter operator calls instead
# auto-size bands for a 0.999-recall-at-0.98 contract
# (``similarity.lsh_bands_for_recall`` → 30 bands), which the sf0.001
# full-recall-vs-brute-force test pins.  Sizing rule:
# rows_per_band ≳ log2(n_vectors) + 2, then re-derive the band count.
EMB_ROWS_PER_BAND = 24


def _emb_noise(dialect: str) -> str:
    return f"(({mix_sql('(vec_id * 64 + i - 1)', EMB_NOISE_SEED, dialect)}) % 2001 - 1000) / 50000.0"


EMB_CORPUS_SQL = f"""
ecorpus AS (
  SELECT vec_id, list_transform(range(1, 65), i -> embedding[i]::DOUBLE) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, 65), i -> embedding[i]::DOUBLE + {_emb_noise('duckdb')}) AS v
  FROM embeddings WHERE vec_id % 5 = 0
)
"""


def emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted near-dup embedding corpus (see comment above).  One-scan
    explode instead of a two-branch union, for the same reasons as
    :func:`corpus` (single pass; no Union node for the analyzer
    constraint-rewrite bug to trip on)."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    noise = _emb_noise("spark")
    v_ident = "transform(sequence(1, 64), i -> CAST(element_at(embedding, i) AS DOUBLE))"
    v_near = (
        "transform(sequence(1, 64), i -> "
        f"CAST(element_at(embedding, i) AS DOUBLE) + {noise})"
    )
    variants = (
        "filter(array("
        f"named_struct('vec_id', vec_id, 'v', {v_ident}), "
        f"IF(vec_id % 5 = 0, named_struct('vec_id', vec_id + 1000000, 'v', {v_near}), NULL)"
        "), s -> s IS NOT NULL)"
    )
    return e.select(F.explode(F.expr(variants)).alias("_r")).select(
        "_r.vec_id", "_r.v"
    )


def _duck_banded_sig(band: int, rows_per_band: int = EMB_ROWS_PER_BAND, dim: int = 64, seed: int = 7) -> str:
    """DuckDB twin of the lsh_banded_pairs weight contract over column ``v``
    (see the comment above similarity.lsh_banded_pairs)."""
    bits = []
    for p in range(rows_per_band):
        g = band * rows_per_band + p
        prods = (
            f"list_transform(range(0, {dim}), "
            f"d -> v[d + 1] * (2 * (({mix_sql(f'({g} * {dim} + d)', seed, 'duckdb')}) % 2) - 1))"
        )
        bits.append(
            f"(CASE WHEN (list_aggregate({prods}, 'sum')) > 0 THEN {2 ** p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _embed_cosine_oracle() -> str:
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, {_duck_banded_sig(b)} AS sig FROM ecorpus"
        for b in range(EMB_BANDS)
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * a.v[i]), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.v[i] * b.v[i]), 'sum'))), 4)"
    )
    return f"""
WITH {EMB_CORPUS_SQL},
banded AS ({band_sel}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {cos} AS cosine
FROM cand c JOIN ecorpus a ON c.vec_a = a.vec_id JOIN ecorpus b ON c.vec_b = b.vec_id
WHERE {cos} >= 0.98
"""


@query("dd_embed_cosine", survey_ref="§2.14 dedup", oracle=_embed_cosine_oracle())
def dd_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup on the planted corpus: banded hyperplane LSH
    (16 sign-bits × 8 bands — the vector analogue of MinHash banding)
    generates candidates via an equi-self-join on (band_id, sig), then
    exact cosine ≥ 0.98 verifies each candidate.  No cross product ever
    materializes (asserted in tests/test_plan_shapes.py); stage-2 work
    is |candidates| (~0.09% of all pairs at sf0.01, recall 1.0 vs
    brute force)."""
    c = emb_corpus(spark, sf_dir)
    cand = sim.lsh_banded_pairs(
        c, id_col="vec_id", vec="v", bands=EMB_BANDS, rows_per_band=EMB_ROWS_PER_BAND
    )
    # norms ride the vector-fetch join so each candidate pair pays ONE
    # dot, not three HOF aggregates (bit-exact; see sim.norm_col)
    a = c.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("_va"),
        sim.norm_col("v").alias("_na"),
    )
    b = c.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("_vb"),
        sim.norm_col("v").alias("_nb"),
    )
    return (
        cand.select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
        .join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", sim.cosine_norm_expr("_va", "_vb", "_na", "_nb"))
        .where(F.col("cosine") >= 0.98)
        .select("vec_a", "vec_b", "cosine")
    )


def _embed_cosine_pairs_only_oracle() -> str:
    """Pair-set twin of :func:`_embed_cosine_oracle` — drops the cosine
    column so the check is robust to the fast path's float32 transport
    (identical banding → identical candidates; the ≥0.98 verdict agrees
    for every planted pair because corpus cosines sit far from the
    threshold)."""
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, {_duck_banded_sig(b)} AS sig FROM ecorpus"
        for b in range(EMB_BANDS)
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * a.v[i]), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.v[i] * b.v[i]), 'sum'))), 4)"
    )
    return f"""
WITH {EMB_CORPUS_SQL},
banded AS ({band_sel}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b
FROM cand c JOIN ecorpus a ON c.vec_a = a.vec_id JOIN ecorpus b ON c.vec_b = b.vec_id
WHERE {cos} >= 0.98
"""


@query(
    "dd_embed_cosine_fast",
    survey_ref="§2.14 dedup",
    oracle=_embed_cosine_pairs_only_oracle(),
)
def dd_embed_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local-verify twin of ``dd_embed_cosine``
    (``similarity.embed_cosine_pairs_fast``): sig-only banding, a
    collision screen, one float32 vector copy joined onto surviving
    rows, then each (band, sig) bucket verifies its own pairs with a
    strip-blocked numpy Gram — candidate pairs never shuffle with two
    full vector copies attached, which is what makes the
    exact chain scratch-bound at the sf100e audit scale.  Same banding
    contract as the exact path (identical candidates), so the oracle
    checks the full pair SET; the cosine value itself is float32
    transport and is pinned fast-vs-exact in
    ``tests/test_similarity_extra.py`` instead."""
    c = emb_corpus(spark, sf_dir)
    return (
        sim.embed_cosine_pairs_fast(
            c,
            id_col="vec_id",
            vec="v",
            threshold=0.98,
            bands=EMB_BANDS,
            rows_per_band=EMB_ROWS_PER_BAND,
            max_bucket=None,
        )
        .select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
    )


@query(
    "dd_embed_components",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH RECURSIVE pairs AS ({_embed_cosine_oracle()}),
und AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
)
SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id
""",
)
def dd_embed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup CLUSTERS: connected components over the
    cosine>=0.98 pair graph (banded hyperplane LSH candidates + exact
    verification), min-label propagation vs the oracle's recursive-CTE
    closure — the semantic-dedup groups an embedding-based curation
    pipeline keeps one representative from."""
    c = emb_corpus(spark, sf_dir)
    cand = sim.lsh_banded_pairs(
        c, id_col="vec_id", vec="v", bands=EMB_BANDS, rows_per_band=EMB_ROWS_PER_BAND
    )
    a = c.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("_va"),
        sim.norm_col("v").alias("_na"),
    )
    b = c.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("_vb"),
        sim.norm_col("v").alias("_nb"),
    )
    verified = (
        cand.select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
        .join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", sim.cosine_norm_expr("_va", "_vb", "_na", "_nb"))
        .where(F.col("cosine") >= 0.98)
        .select("vec_a", "vec_b")
    )
    comp = dd.connected_components(verified, src_col="vec_a", dst_col="vec_b")
    return comp.select(F.col("id").alias("vec_id"), "component")


# --------------------------------------------------------- similarity
@query(
    "sim_topk_cosine",
    survey_ref="§2.14 similarity",
    headline=True,
    oracle="""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q_id, c_id,
    round(
      list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
      / (sqrt(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))
       * sqrt(list_aggregate(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum'))), 4) AS cosine
  FROM c, q WHERE q_id <> c_id
),
ranked AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, c_id, cosine, rank FROM ranked WHERE rank <= 10
""",
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors — the exact-ANN
    baseline: broadcast queries, one streaming pass over candidates."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return sim.brute_force_topk(q, c, k=10)


def _lsh_bucket_duck(vec: str, planes: int = 6, dim: int = 64, seed: int = 7) -> str:
    bits = []
    for p in range(planes):
        prods = (
            f"list_transform(range(0, {dim}), "
            f"d -> {vec}[d + 1]::DOUBLE * (2 * (({mix_sql(f'{p} * {dim} + d', seed, 'duckdb')}) % 2) - 1))"
        )
        dot = f"list_aggregate({prods}, 'sum')"
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


@query(
    "sim_lsh_ann",
    survey_ref="§2.14 similarity",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_lsh_bucket_duck('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM b WHERE vec_id < 20),
c AS (SELECT vec_id AS c_id, embedding AS cv, bucket FROM b),
scored AS (
  SELECT q_id, c.bucket AS bucket, c_id,
    round(
      list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
      / (sqrt(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))
       * sqrt(list_aggregate(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum'))), 4) AS cosine
  FROM c JOIN q ON c.bucket = q.bucket AND q_id <> c_id
),
ranked AS (
  SELECT q_id, bucket, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, bucket, c_id, cosine, rank FROM ranked WHERE rank <= 3
""",
)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: 6 random-hyperplane LSH bits → bucket equi-join → exact
    re-rank within bucket (top-3 per query among 20 queries)."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return sim.lsh_bucketed_topk(q, c, k=3, planes=6)


def _ivf_oracle(n_clusters: int = 8, n_probe: int = 2, k: int = 3, seed: int = 11,
                cent_where: str = "") -> str:
    """Replays ivf_seeded_topk: mixer-picked centroids, rounded-argmin
    cell assignment, n_probe probing, exact cosine re-rank.

    ``cent_where`` restricts the centroid-candidate pool (e.g. to the
    initial-build slice of an appended index, whose routing geometry is
    frozen at build time) without touching the assigned/probed corpus."""
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> ({a}[i]::DOUBLE - centroid[i]::DOUBLE) * ({a}[i]::DOUBLE - centroid[i]::DOUBLE)), 'sum'), 6)"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum'))), 4)"
    )
    return f"""
WITH cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT embedding AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM embeddings {cent_where}
  ) WHERE rk <= {n_clusters}
),
assigned AS (
  SELECT c_id, cv, cell FROM (
    SELECT e.vec_id AS c_id, e.embedding AS cv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding')}, cent.cell) AS ark
    FROM embeddings e CROSS JOIN cent
  ) WHERE ark = 1
),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT e.vec_id AS q_id, e.embedding AS qv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding')}, cent.cell) AS prk
    FROM embeddings e CROSS JOIN cent
    WHERE e.vec_id < 20
  ) WHERE prk <= {n_probe}
),
scored AS (
  SELECT q_id, a.cell AS cell, c_id, {cos} AS cosine
  FROM assigned a JOIN probed p ON a.cell = p.cell AND q_id <> c_id
),
ranked AS (
  SELECT q_id, cell, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored
)
SELECT q_id, cell, c_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def _ivf_occupancy_oracle(n_clusters: int = 8, seed: int = 11) -> str:
    """Replays the IVF build's cell assignment (same cent/assigned
    shape as _ivf_oracle) and reports per-cell occupancy — the oracle
    for the persisted index's rebuild monitor."""
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> ({a}[i]::DOUBLE - centroid[i]::DOUBLE) * ({a}[i]::DOUBLE - centroid[i]::DOUBLE)), 'sum'), 6)"
    )
    return f"""
WITH cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT embedding AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM embeddings
  ) WHERE rk <= {n_clusters}
),
assigned AS (
  SELECT c_id, cell FROM (
    SELECT e.vec_id AS c_id, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding')}, cent.cell) AS ark
    FROM embeddings e CROSS JOIN cent
  ) WHERE ark = 1
)
SELECT cent.cell AS cell, CAST(count(a.c_id) AS BIGINT) AS n_vectors
FROM cent LEFT JOIN assigned a ON cent.cell = a.cell
GROUP BY cent.cell
"""


@query(
    "sim_ivf_index_stats",
    survey_ref="§2.14 similarity",
    oracle=_ivf_occupancy_oracle(),
)
def sim_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy report over the persisted IVF index
    (``similarity.ann_index_stats``) — the rebuild monitor for the
    append lifecycle: per stored centroid the vector count (empty
    cells at 0), from one column-pruned aggregate that never touches
    vectors.  Value-checked by a DuckDB replay of the build's cell
    assignment grouped per cell."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"ivf_index:n_clusters=8:seed=11:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/scdataset_spark_annidx_{ver}_{os.getpid()}/{base}"
    sim.build_ann_index(
        c, path, n_clusters=8, seed=11, vectorized_assign=False
    )
    return sim.ann_index_stats(spark, path)


_COS_QC = (
    "round(list_aggregate(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum')"
    " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), 'sum'))"
    " * sqrt(list_aggregate(list_transform(range(1, 65), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum'))), 4)"
)


@query(
    "sim_ivf_recall",
    survey_ref="§2.14 similarity",
    oracle=f"""
WITH ann AS (SELECT q_id, c_id FROM ({_ivf_oracle(k=3)})),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS_QC} DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 20
  ) WHERE rank <= 3
),
per_q AS (
  SELECT e.q_id, count(a.c_id) AS hits, count(*) AS n_exact
  FROM exact e LEFT JOIN ann a ON e.q_id = a.q_id AND e.c_id = a.c_id
  GROUP BY e.q_id
)
SELECT q_id, CAST(hits AS BIGINT) AS hits, CAST(n_exact AS BIGINT) AS n_exact,
       round(hits * 1.0 / n_exact, 4) AS recall
FROM per_q
""",
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF probe against the brute-force exact top-3
    (``similarity.ann_recall``) — approximation quality measured, not
    guessed, and itself value-checked: the oracle replays BOTH sides
    (the seeded IVF build/probe and the exact ranking) and intersects
    them in SQL, so the reported per-query recall is pinned exactly.
    The production use is the rebuild monitor's quality axis: run it
    on a sampled query set after heavy appends — occupancy drift
    (``ann_index_stats``) says the geometry is stale, recall drift
    says it's COSTING you."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ann = sim.ivf_seeded_topk(
        q, c, k=3, n_clusters=8, n_probe=2, seed=11, vectorized_assign=False
    )
    exact = sim.brute_force_topk(q, c, k=3)
    return sim.ann_recall(ann, exact)


@query("sim_ivf_ann", survey_ref="§2.14 similarity", oracle=_ivf_oracle())
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic mixer-seeded coarse centroids
    (``operators/similarity.py::ivf_seeded_topk``): index build, cell
    assignment, probing, and re-rank are all engine-portable, so the
    whole IVF path is value-checked by the SQL oracle (the MLlib-KMeans
    variant keeps its recall-vs-brute tests)."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return sim.ivf_seeded_topk(
        q, c, k=3, n_clusters=8, n_probe=2, seed=11, vectorized_assign=False
    )


@query("sim_ivf_index", survey_ref="§2.14 similarity", oracle=_ivf_oracle())
def sim_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF lifecycle (``similarity.build_ann_index``
    + ``ann_index_topk``): candidates are assigned their seeded cell
    once and written partitioned BY cell; the probe routes queries to
    their n_probe nearest centroids and reads ONLY those cells'
    partition directories (PartitionFilters pruning — the
    n_probe/n_clusters touch fraction is skipped I/O, not a post-scan
    filter).  Same engine-portable build as ``sim_ivf_ann``, so the
    probe result is value-checked by the SAME SQL oracle — build once,
    probe many, identical answers."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"ivf_index:n_clusters=8:seed=11:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    # per-process token: two concurrent sessions running this query on
    # the same sf_dir must not race a shared overwrite/read path
    path = f"/tmp/scdataset_spark_annidx_{ver}_{os.getpid()}/{base}"
    sim.build_ann_index(
        c, path, n_clusters=8, seed=11, vectorized_assign=False
    )
    return sim.ann_index_topk(spark, path, q, k=3, n_probe=2, n_queries=20)


@query("sim_ivf_index_rebuild", survey_ref="§2.14 similarity", oracle=_ivf_oracle())
def sim_ivf_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persisted-index lifecycle, REBUILD verb included
    (``similarity.rebuild_ann_index``): build on half the corpus,
    append the other half under the frozen centroids, then rebuild
    from the index's own storage with fresh geometry and probe the
    rebuilt index.  Because the rebuild re-runs the engine-portable
    seeded build over the CURRENT corpus (order-independent mixer
    pick), the probe is value-checked by the SAME full-corpus SQL
    oracle as ``sim_ivf_ann`` — drift from the append era is fully
    cleared, which is the operator's contract."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"ivf_rebuild:n_clusters=8:seed=11:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/scdataset_spark_annidx_{ver}_{os.getpid()}/{base}"
    sim.build_ann_index(
        c.where("c_id % 2 = 0"), path, n_clusters=8, seed=11,
        vectorized_assign=False,
    )
    sim.append_to_ann_index(
        c.where("c_id % 2 = 1"), path, vectorized_assign=False
    )
    sim.rebuild_ann_index(
        spark, path, f"{path}__rebuilt", n_clusters=8, seed=11,
        vectorized_assign=False,
    )
    return sim.ann_index_topk(
        spark, f"{path}__rebuilt", q, k=3, n_probe=2, n_queries=20
    )


# ------------------------------------------------ product quantization
_PQ_SEED = 13
_PQ_M = 8
_PQ_SUB = 8  # dim 64 / m
_PQ_CODES = 16


def _pq_codebook_sql() -> str:
    return f"""
cb AS (
  SELECT rk - 1 AS code, codevec FROM (
    SELECT embedding AS codevec,
           row_number() OVER (ORDER BY {mix_sql('vec_id', _PQ_SEED, 'duckdb')}, vec_id) AS rk
    FROM embeddings
  ) WHERE rk <= {_PQ_CODES}
)"""


def _pq_codes_sql(id_alias: str = "vec_id") -> str:
    """codes CTE body: per (vector, subspace) the argmin codeword by
    rounded squared distance, lowest-code tiebreak — replays
    similarity.pq_encode exactly."""
    sd = (
        f"round(list_aggregate(list_transform(range(1, {_PQ_SUB} + 1), "
        f"d -> (e.embedding[s.s * {_PQ_SUB} + d]::DOUBLE - cb.codevec[s.s * {_PQ_SUB} + d]::DOUBLE)"
        f" * (e.embedding[s.s * {_PQ_SUB} + d]::DOUBLE - cb.codevec[s.s * {_PQ_SUB} + d]::DOUBLE)), 'sum'), 6)"
    )
    return f"""
sub AS (
  SELECT e.vec_id AS {id_alias}, s.s AS subspace, cb.code, {sd} AS d
  FROM embeddings e
  CROSS JOIN cb
  CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS s) s
),
codes AS (
  SELECT {id_alias}, subspace, code FROM (
    SELECT {id_alias}, subspace, code,
           row_number() OVER (PARTITION BY {id_alias}, subspace ORDER BY d, code) AS crk
    FROM sub
  ) WHERE crk = 1
)"""


@query(
    "sim_pq_encode",
    survey_ref="§2.14 similarity",
    oracle=f"""
WITH {_pq_codebook_sql()},
{_pq_codes_sql()}
SELECT vec_id, subspace, code FROM codes
""",
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (``similarity.pq_encode``): split
    every 64-dim embedding into 8 subspaces and store the index of the
    nearest mixer-seeded codeword per subspace — 64 floats become 8
    small ints (the Jégou et al. 2011 memory trick behind
    billion-scale ANN indexes).  Rounded distances + lowest-code
    tiebreaks make the full code table engine-exact, so the oracle
    re-derives every code.  Scale shape: one broadcast codebook array,
    one narrow whole-stage-codegen pass, no shuffle."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    # vectorized pinned off: the decimal HOF argmin is the oracle shape
    # and the pin keeps the plan fully lazy (no auto-resolution count);
    # production callers leave the default and get the size-resolved
    # BLAS twin past AUTO_SCALE_ROWS
    return sim.pq_encode(
        e, id_col="vec_id", vec="embedding",
        dim=64, m=_PQ_M, n_codes=_PQ_CODES, seed=_PQ_SEED, vectorized=False,
    )


def _pq_ann_oracle(n_clusters: int = 8, n_probe: int = 2, k: int = 3, refine: int = 3, seed: int = 11) -> str:
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), 'sum'), 6)"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum'))), 4)"
    )
    return f"""
WITH cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT embedding AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM embeddings
  ) WHERE rk <= {n_clusters}
),
{_pq_codebook_sql().lstrip()},
{_pq_codes_sql('c_id').lstrip()},
recon AS (
  SELECT c_id,
         flatten(list(list_slice(cb.codevec, subspace * {_PQ_SUB} + 1,
                                 subspace * {_PQ_SUB} + {_PQ_SUB})
                      ORDER BY subspace)) AS rv
  FROM codes JOIN cb USING (code)
  GROUP BY c_id
),
assigned AS (
  SELECT c_id, cv, cell FROM (
    SELECT e.vec_id AS c_id, e.embedding AS cv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding', b='cent.centroid')}, cent.cell) AS ark
    FROM embeddings e CROSS JOIN cent
  ) WHERE ark = 1
),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT e.vec_id AS q_id, e.embedding AS qv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding', b='cent.centroid')}, cent.cell) AS prk
    FROM embeddings e CROSS JOIN cent
    WHERE e.vec_id < 20
  ) WHERE prk <= {n_probe}
),
scored AS (
  SELECT q_id, qv, a.c_id AS c_id, cv,
         {dist.format(a='qv', b='r.rv')} AS adc
  FROM assigned a
  JOIN probed p ON a.cell = p.cell AND p.q_id <> a.c_id
  JOIN recon r ON r.c_id = a.c_id
),
refined AS (
  SELECT q_id, qv, c_id, cv, adc FROM (
    SELECT q_id, qv, c_id, cv, adc,
           row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS ark
    FROM scored
  ) WHERE ark <= {refine * k}
),
ranked AS (
  SELECT q_id, c_id, adc, {cos} AS cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY {cos} DESC, c_id) AS rank
  FROM refined
)
SELECT q_id, c_id, adc, cosine, rank FROM ranked WHERE rank <= {k}
"""


@query("sim_pq_ann", survey_ref="§2.14 similarity", oracle=_pq_ann_oracle())
def sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVF-ADC) approximate nearest neighbours
    (``similarity.pq_topk``): mixer-seeded coarse centroids route each
    query to its 2 nearest cells, candidates inside the probed cells
    are scored by the distance to their PQ RECONSTRUCTION (asymmetric
    distance), the top refine·k per query by ADC fetch their full
    vector, and exact cosine re-ranks to the final top-k.  Index
    build, codebook, cell assignment, ADC, and both rankings are
    engine-portable (rounded values, id tiebreaks), so the whole
    IVF-PQ path — the standard billion-scale ANN layout — is
    value-checked by the SQL oracle."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return sim.pq_topk(
        q, c, k=3, refine=3, n_clusters=8, n_probe=2,
        dim=64, m=_PQ_M, n_codes=_PQ_CODES, seed=11, pq_seed=_PQ_SEED,
        vectorized_encode=False, vectorized_assign=False,
    )


@query("sim_pq_index", survey_ref="§2.14 similarity", oracle=_pq_ann_oracle())
def sim_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF-PQ serving layout (``similarity.build_pq_index``
    + ``pq_index_topk``): inverted lists of (id, 8 codes) partitioned
    by routing cell, centroids + codebook alongside, raw vectors in a
    separate archive touched only for the refine·k exact re-rank.  The
    probe reads only the probed cells' code partitions, scores by ADC
    against broadcast-codebook reconstructions, and fetches vectors
    for a few rows per query — the billion-scale storage shape, built
    once and probed many times.  Same engine-portable build as
    ``sim_pq_ann``, value-checked by the SAME SQL oracle."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"pq_index:n_clusters=8:seed=11:pq13:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    # per-process token: two concurrent sessions running this query on
    # the same sf_dir must not race a shared overwrite/read path
    path = f"/tmp/scdataset_spark_pqidx_{ver}_{os.getpid()}/{base}"
    sim.build_pq_index(
        c, path, n_clusters=8, dim=64, m=_PQ_M, n_codes=_PQ_CODES,
        seed=11, pq_seed=_PQ_SEED,
        vectorized_encode=False, vectorized_assign=False,
    )
    return sim.pq_index_topk(
        spark, path, q, k=3, refine=3, n_probe=2, dim=64, m=_PQ_M,
        n_queries=20,
    )


@query(
    "sim_ivf_index_compacted",
    survey_ref="§2.14 similarity",
    oracle=_ivf_oracle(cent_where="WHERE vec_id % 4 = 0"),
)
def sim_ivf_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance verb between appends and a full rebuild
    (``similarity.compact_ann_index``): build on a quarter of the
    corpus, append the other three quarters in separate increments
    (each append writes one file per touched cell group — the linear
    small-file accumulation), compact the lists back to one file per
    group, and probe.  Compaction preserves layout, routing geometry,
    and results by contract, so the probe is value-checked by the SQL
    oracle replaying the same build: centroids mixer-picked from the
    initial quarter (append-frozen geometry), the whole corpus assigned
    and probed — and the probe-equal pinned tests cover the PQ layout's
    archive rewrite too."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"ivf_compact:n_clusters=8:seed=11:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/scdataset_spark_annidx_{ver}_{os.getpid()}/{base}"
    sim.build_ann_index(
        c.where("c_id % 4 = 0"), path, n_clusters=8, seed=11,
        vectorized_assign=False,
    )
    for r in (1, 2, 3):
        sim.append_to_ann_index(
            c.where(f"c_id % 4 = {r}"), path, vectorized_assign=False
        )
    sim.compact_ann_index(spark, path)
    return sim.ann_index_topk(spark, path, q, k=3, n_probe=2, n_queries=20)


def _pq_adc_agreement_oracle(n_clusters: int = 8, n_probe: int = 2, k: int = 3, refine: int = 3, seed: int = 11) -> str:
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)), 'sum'), 6)"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum'))), 4)"
    )
    return f"""
WITH cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT embedding AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM embeddings
  ) WHERE rk <= {n_clusters}
),
{_pq_codebook_sql().lstrip()},
{_pq_codes_sql('c_id').lstrip()},
recon AS (
  SELECT c_id,
         flatten(list(list_slice(cb.codevec, subspace * {_PQ_SUB} + 1,
                                 subspace * {_PQ_SUB} + {_PQ_SUB})
                      ORDER BY subspace)) AS rv
  FROM codes JOIN cb USING (code)
  GROUP BY c_id
),
assigned AS (
  SELECT c_id, cv, cell FROM (
    SELECT e.vec_id AS c_id, e.embedding AS cv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding', b='cent.centroid')}, cent.cell) AS ark
    FROM embeddings e CROSS JOIN cent
  ) WHERE ark = 1
),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT e.vec_id AS q_id, e.embedding AS qv, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist.format(a='e.embedding', b='cent.centroid')}, cent.cell) AS prk
    FROM embeddings e CROSS JOIN cent
    WHERE e.vec_id < 20
  ) WHERE prk <= {n_probe}
),
scored AS (
  SELECT q_id, qv, a.c_id AS c_id, cv,
         {dist.format(a='qv', b='r.rv')} AS adc
  FROM assigned a
  JOIN probed p ON a.cell = p.cell AND p.q_id <> a.c_id
  JOIN recon r ON r.c_id = a.c_id
),
adc_top AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS ark
    FROM scored
  ) WHERE ark <= {refine * k}
),
exact_top AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id ORDER BY {cos} DESC, c_id) AS xrk
    FROM scored
  ) WHERE xrk <= {k}
),
per_q AS (
  SELECT e.q_id, count(a.c_id) AS adc_hits, count(*) AS n_exact
  FROM exact_top e LEFT JOIN adc_top a ON e.q_id = a.q_id AND e.c_id = a.c_id
  GROUP BY e.q_id
)
SELECT q_id, CAST(adc_hits AS BIGINT) AS adc_hits,
       CAST(n_exact AS BIGINT) AS n_exact,
       round(adc_hits * 1.0 / n_exact, 4) AS agreement
FROM per_q
"""


_ANN_INGEST_RUN = 0


@query(
    "sim_ann_ingest_consistency",
    survey_ref="§2.14 similarity, §2.11",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS list_rows,
       CAST(count(*) AS BIGINT) AS distinct_ids,
       CAST(count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT) AS sidecar_ids,
       CAST(0 AS BIGINT) AS duplicate_ids,
       CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS unrecorded_ids
FROM embeddings
""",
)
def sim_ann_ingest_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index maintenance, health-checked
    (``similarity.ann_ingest_batches`` + ``ann_ingest_consistency``):
    build on the even ids, ingest the odd ids through the foreachBatch
    callback in two overlapping deliveries (the id sidecar makes
    re-delivered ids append-once), then report list rows vs distinct
    ids vs sidecar ids.  Exactly-once ingest makes every count
    SQL-predictable: all ids present once (duplicate_ids = 0), the
    sidecar holds exactly the streamed half, and the built half is
    "unrecorded" (it predates the stream — the documented meaning of
    that column)."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"ann_ingest:n_clusters=8:seed=11:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    # fresh UNIQUE path per run (not an rmtree of a shared one): the
    # sidecar survives build_ann_index's overwrite, a stale one would
    # make a rerun skip every id, and recreating files under a path an
    # earlier run's plans resolved leaves deleted-file listings in any
    # still-referenced frame — a unique dir sidesteps all three
    global _ANN_INGEST_RUN
    _ANN_INGEST_RUN += 1
    path = (
        f"/tmp/scdataset_spark_annidx_{ver}_{os.getpid()}"
        f"/run{_ANN_INGEST_RUN}/{base}"
    )
    sim.build_ann_index(
        c.where("c_id % 2 = 0"), path, n_clusters=8, seed=11,
        vectorized_assign=False,
    )
    ingest = sim.ann_ingest_batches(path)
    # two deliveries with overlap: ids % 4 == 1 arrive twice and must
    # append once (deterministic direct calls — the availableNow twin
    # runs in tests/test_index_maintenance.py)
    ingest(c.where("c_id % 4 in (1, 3)"), 0)
    ingest(c.where("c_id % 4 = 1"), 1)
    return sim.ann_ingest_consistency(spark, path)


def _semantic_ingest_oracle(
    n_clusters: int = 8, n_probe: int = 2, threshold: float = 0.98,
    seed: int = 11,
) -> str:
    """Replays BOTH deliveries of the streaming semantic ingest: frozen
    seeded centroids from the base slice, base assigned to argmin cells
    (the stored index), delivery 1 routed to its n_probe cells and
    cosine-screened against the stored rows, its NOVELS appended (argmin
    under the same frozen geometry), then delivery 2 screened against
    base ∪ delivery-1 novels — the cumulative path a static index
    cannot give a stream."""
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> ({a}[i] - centroid[i]) * ({a}[i] - centroid[i])), 'sum'), 6)"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> p.v[i] * s.v[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> p.v[i] * p.v[i]), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> s.v[i] * s.v[i]), 'sum'))), 4)"
    )
    return f"""
WITH {EMB_CORPUS_SQL},
base AS (SELECT vec_id, v FROM ecorpus WHERE vec_id < 1000000 AND vec_id % 10 <= 3),
d1 AS (SELECT vec_id, v FROM ecorpus
       WHERE (vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 0)
          OR (vec_id < 1000000 AND vec_id % 10 = 5)),
d2 AS (SELECT vec_id, v FROM ecorpus
       WHERE (vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 5)
          OR (vec_id < 1000000 AND vec_id % 10 IN (6, 7))),
cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT v AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM base) WHERE rk <= {n_clusters}
),
sb AS (
  SELECT vec_id, v, cell FROM (
    SELECT b.vec_id, b.v, cent.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY {dist.format(a='b.v')}, cent.cell) AS ark
    FROM base b CROSS JOIN cent) WHERE ark = 1
),
p1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT d.vec_id, d.v, cent.cell,
           row_number() OVER (PARTITION BY d.vec_id ORDER BY {dist.format(a='d.v')}, cent.cell) AS prk
    FROM d1 d CROSS JOIN cent) WHERE prk <= {n_probe}
),
c1 AS (SELECT DISTINCT p.vec_id FROM p1 p
       JOIN sb s ON s.cell = p.cell
       WHERE {cos} >= {threshold}),
n1 AS (SELECT vec_id, v FROM d1 WHERE vec_id NOT IN (SELECT vec_id FROM c1)),
an1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT n.vec_id, n.v, cent.cell,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY {dist.format(a='n.v')}, cent.cell) AS ark
    FROM n1 n CROSS JOIN cent) WHERE ark = 1
),
s2 AS (SELECT * FROM sb UNION ALL SELECT * FROM an1),
p2 AS (
  SELECT vec_id, v, cell FROM (
    SELECT d.vec_id, d.v, cent.cell,
           row_number() OVER (PARTITION BY d.vec_id ORDER BY {dist.format(a='d.v')}, cent.cell) AS prk
    FROM d2 d CROSS JOIN cent) WHERE prk <= {n_probe}
),
c2 AS (SELECT DISTINCT p.vec_id FROM p2 p
       JOIN s2 s ON s.cell = p.cell
       WHERE {cos} >= {threshold})
SELECT vec_id, CAST(0 AS BIGINT) AS batch_id FROM n1
UNION ALL
SELECT vec_id, CAST(1 AS BIGINT) AS batch_id FROM d2
WHERE vec_id NOT IN (SELECT vec_id FROM c2)
"""


_SEM_INGEST_RUN = 0


@query(
    "sim_semantic_ingest",
    survey_ref="§2.14 similarity, §2.14 dedup, §2.11",
    oracle=_semantic_ingest_oracle(),
)
def sim_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING semantic dedup-on-ingest
    (``similarity.semantic_ingest_batches``): the ANN index is built on
    the base slice of the planted near-dup corpus, then two deliveries
    are screened and appended in turn.  Delivery 1 carries near-dup
    replicas of BASE vectors (cosine ~0.9995, screened out) plus
    genuinely new vectors (novel, appended); delivery 2 carries
    replicas of DELIVERY 1's novels — they collide only because
    delivery 1's kept vectors were appended, pinning the cumulative
    cross-delivery path — plus more new vectors.  The oracle replays
    the frozen-geometry routing, the exact-cosine screen, and the
    novel append for both rounds."""
    import hashlib
    import os

    c = emb_corpus(spark, sf_dir)
    base = c.where("vec_id < 1000000 AND vec_id % 10 <= 3")
    d1 = c.where(
        "(vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 0)"
        " OR (vec_id < 1000000 AND vec_id % 10 = 5)"
    )
    d2 = c.where(
        "(vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 5)"
        " OR (vec_id < 1000000 AND vec_id % 10 IN (6, 7))"
    )
    ver = hashlib.md5(b"semantic_ingest:n_clusters=8:seed=11:v1").hexdigest()[:8]
    sf_base = os.path.basename(os.path.normpath(sf_dir))
    global _SEM_INGEST_RUN
    _SEM_INGEST_RUN += 1
    path = (
        f"/tmp/scdataset_spark_semidx_{ver}_{os.getpid()}"
        f"/run{_SEM_INGEST_RUN}/{sf_base}"
    )
    sim.build_ann_index(
        base, path, n_clusters=8, seed=11, cand_id="vec_id", vec="v",
        vectorized_assign=False,
    )
    rows: list[tuple[int, int]] = []
    ingest = sim.semantic_ingest_batches(
        path,
        sink=lambda df: rows.extend(
            (r.vec_id, r.batch_id) for r in df.collect()
        ),
        threshold=0.98,
        n_probe=2,
        cand_id="vec_id",
        vec="v",
    )
    ingest(d1, 0)
    ingest(d2, 1)
    return spark.createDataFrame(rows, "vec_id bigint, batch_id bigint")


@query(
    "sim_pq_adc_agreement",
    survey_ref="§2.14 similarity",
    oracle=_pq_adc_agreement_oracle(),
)
def sim_pq_adc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC-vs-exact rank agreement on the persisted PQ layout
    (``similarity.pq_adc_agreement``) — the codebook-drift monitor the
    append lifecycle prescribes: per sampled query, the overlap between
    ADC's top refine·k and the exact cosine top-k computed on the SAME
    probed cells.  Unlike end-to-end recall (``sim_ivf_recall``) this
    isolates quantization error from routing error, so falling
    agreement at stable cell occupancy is specifically the
    retrain-the-codebook (rebuild) signal.  The oracle replays the
    whole pipeline — seeded centroids, codebook, codes, ADC and exact
    rankings — and intersects them in SQL, pinning every per-query
    agreement value."""
    import hashlib
    import os

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 20").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    ver = hashlib.md5(b"pq_adc_agree:n_clusters=8:seed=11:pq13:v1").hexdigest()[:8]
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/scdataset_spark_pqidx_{ver}_{os.getpid()}/{base}"
    sim.build_pq_index(
        c, path, n_clusters=8, dim=64, m=_PQ_M, n_codes=_PQ_CODES,
        seed=11, pq_seed=_PQ_SEED,
        vectorized_encode=False, vectorized_assign=False,
    )
    return sim.pq_adc_agreement(spark, path, q, k=3, refine=3, n_probe=2)


# --------------------------------------------------- multimodal (M1-M5)
@query(
    "mm_multimodal_zip",
    survey_ref="M1,M2,M5,§2.14 multimodal",
    oracle="""
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       round(sqrt(list_aggregate(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')), 4) AS emb_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.n_chars > 200
""",
)
def mm_multimodal_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiIndexable-equivalent: text + metadata + embedding modalities
    zipped into one frame by aligned id; synchronized subset by a
    predicate (M2); per-modality compute stays columnar."""
    d = load_table(spark, "documents", sf_dir, with_row_id=False)
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    norm = sim.NORM.format(a="embedding")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .where(F.col("n_chars") > 200)
        .select(
            "doc_id", "lang", "n_chars", "label",
            F.expr(f"round({norm}, 4)").alias("emb_norm"),
        )
    )


# --------------------------------------------- normalization / PII scrub
PII_CORPUS_SQL = """
pii_corpus AS (
  SELECT doc_id,
         text ||
           (CASE WHEN doc_id % 5 = 0 THEN ' contact john.doe@example.com now' ELSE '' END) ||
           (CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END) ||
           (CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.1.100' ELSE '' END)
         AS text
  FROM documents
)
"""


def pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministically planted PII (emails / phones /
    IPs on doc_id residues) — identical construction in the oracle, so
    the scrubber is checked against known-planted positives."""
    d = load_table(spark, "documents", sf_dir, with_row_id=False)
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, " contact john.doe@example.com now").otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, " call 555-123-4567").otherwise(""),
            F.when(F.col("doc_id") % 11 == 0, " from 192.168.1.100").otherwise(""),
        ).alias("text"),
    )


@query(
    "tx_normalize",
    survey_ref="§2.14 text",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents
""",
)
def tx_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-dedup text normalization (lowercase / strip non-alnum /
    collapse whitespace) — the canonical cleaning step before exact
    fingerprinting."""
    d = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_normalized_text(d).select("doc_id", "norm_text")


@query(
    "tx_pii_scrub",
    survey_ref="§2.14 text",
    oracle=f"""
WITH {PII_CORPUS_SQL.strip()}
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}')) AS n_emails,
       len(regexp_extract_all(text, '\\+?[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}')) AS n_phones,
       len(regexp_extract_all(text, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),
           '\\+?[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g'),
         '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '<IP>', 'g') AS scrubbed
FROM pii_corpus
""",
)
def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the planted corpus: per-row audit counts
    (emails / phones / IPv4) computed pre-redaction, then ordered
    regexp replacement (emails first — phone/ip patterns can match
    inside addresses).  A compliance step every training pipeline
    runs before export."""
    return tx.with_pii_scrubbed(pii_corpus(spark, sf_dir)).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "scrubbed"
    )


# ------------------------------------------------ curation pipeline
STOPS = tx.duck_stop_list()
QDUCK = tx.Q_INT_DUCK
@query(
    "tx_token_budget",
    survey_ref="§2.14 text,W2",
    oracle=f"""
WITH sp_t AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents),
q AS (
  SELECT doc_id, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains([{STOPS}], t))) AS n_stop
  FROM sp_t
),
scored AS (
  SELECT doc_id, n_tokens,
         {QDUCK} AS q_int
  FROM q
),
ranked AS (
  SELECT doc_id, n_tokens, q_int,
         -- DuckDB sum(BIGINT) is HUGEINT, which pandas lowers to
         -- float64 ("96.0" vs Spark's "96") — cast keeps it integral
         CAST(sum(n_tokens) OVER (ORDER BY q_int DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, n_tokens, cum_tokens FROM ranked WHERE cum_tokens <= 5000
""",
)
def tx_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation (``textanalysis.token_budget``): fill a
    5k-token training budget with the highest-quality documents first
    (integer quality rank, doc_id tiebreak) — a running token sum in
    quality order with a budget cutoff.  The everyday 'give me the
    best N tokens' selection.  ``buckets=0`` pins the exact global
    window so the oracle is 1:1 and the plan stays lazy; the bucketed
    quality-keyed running sum (``buckets=k``, pinned row-equal in
    tests) is the 100TB path."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = tx.with_stop_counts(docs).select("doc_id", "n_tokens", "n_stop")
    scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))
    return tx.token_budget(scored, 5000, buckets=0)


_PER_SOURCE_BUDGET_ORACLE = f"""
WITH sp_t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS sp FROM documents),
q AS (
  SELECT doc_id, lang, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains([{STOPS}], t))) AS n_stop
  FROM sp_t
),
scored AS (
  SELECT doc_id, lang, n_tokens,
         {QDUCK} AS q_int
  FROM q
),
ranked AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY q_int DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM ranked WHERE cum_tokens <= 2000
"""


@query(
    "tx_token_budget_per_source",
    survey_ref="§2.14 text,W2,O16",
    oracle=_PER_SOURCE_BUDGET_ORACLE,
)
def tx_token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgets (``textanalysis.token_budget_by_source``):
    each language independently fills a 2k-token budget with its
    highest-quality documents — the "N tokens from each source"
    mixture-curation selection.  ``buckets=0`` pins the one-window
    shape (PARTITIONED by source; languages fill in parallel, no
    global sort, stays lazy), value-checked exactly by the
    partitioned-window oracle; the within-source bucket-offset scale
    shape is pinned row-equal in ``TestTokenBudgetPerSource``."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = tx.with_stop_counts(docs).select("doc_id", "lang", "n_tokens", "n_stop")
    scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))
    return tx.token_budget_by_source(scored, 2000, source_col="lang", buckets=0)


@query(
    "tx_token_budget_per_source_bucketed",
    survey_ref="§2.14 text,W2,O16",
    oracle=_PER_SOURCE_BUDGET_ORACLE,
)
def tx_token_budget_per_source_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE shape of the per-source token budget, externally
    value-checked against the SAME oracle as the pinned-window twin:
    ``buckets=16`` runs the within-source bucket-offset running sum —
    bucket key ``(lang, quality_bucket)``, per-(source, bucket) partial
    sums, offsets within source — so a hot source's running sum is
    split across 16 reducers instead of one.  Exact: identical rows to
    the one-window shape (the sums are integer and the order key is
    total), which is exactly what sharing the oracle proves."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = tx.with_stop_counts(docs).select("doc_id", "lang", "n_tokens", "n_stop")
    scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR))
    return tx.token_budget_by_source(scored, 2000, source_col="lang", buckets=16)


_QUALITY_RANK_ORACLE = f"""
WITH sp_t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS sp FROM documents),
q AS (
  SELECT doc_id, lang, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains([{STOPS}], t))) AS n_stop
  FROM sp_t
),
scored AS (
  SELECT doc_id, lang, {QDUCK} AS q_int FROM q
)
SELECT doc_id, lang, q_int,
       percent_rank() OVER (PARTITION BY lang ORDER BY q_int, doc_id) AS q_pct
FROM scored
"""


@query(
    "tx_quality_rank_by_source",
    survey_ref="§2.14 text,W5",
    oracle=_QUALITY_RANK_ORACLE,
)
def tx_quality_rank_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration
    (``textanalysis.quality_rank_by_source``): each document's
    percent-rank of quality WITHIN its language, making "top 20% of
    every source" a mixture-preserving selection — raw scores are
    source-biased, so a global threshold silently re-weights toward
    clean sources.  ``buckets=0`` pins the exact percent_rank window
    (partitioned by source); the two-level scale shape is the bucketed
    twin below, checked against this SAME oracle."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = tx.with_stop_counts(docs).select("doc_id", "lang", "n_tokens", "n_stop")
    scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR)).drop(
        "n_tokens", "n_stop"
    )
    return tx.quality_rank_by_source(scored, source_col="lang", buckets=0)


@query(
    "tx_quality_rank_by_source_bucketed",
    survey_ref="§2.14 text,W5",
    oracle=_QUALITY_RANK_ORACLE,
)
def tx_quality_rank_by_source_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE shape of the per-source quality calibration, checked
    against the SAME oracle as the pinned-window twin: per-(source,
    quality-bucket) counts + within-source offsets + row_number in the
    composite partition reproduce percent_rank EXACTLY (total order
    key, same IEEE (rank-1)/(n-1) division), while a hot source's rank
    computation splits across 8 reducers instead of one."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = tx.with_stop_counts(docs).select("doc_id", "lang", "n_tokens", "n_stop")
    scored = toks.withColumn("q_int", F.expr(tx.Q_INT_EXPR)).drop(
        "n_tokens", "n_stop"
    )
    return tx.quality_rank_by_source(scored, source_col="lang", buckets=8)


@query(
    "pipe_curation",
    survey_ref="§2.14 text,§2.14 dedup",
    oracle=f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
{CORPUS_SQL},
sp_t AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM corpus),
q AS (
  SELECT doc_id, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains([{STOPS}], t))) AS n_stop
  FROM sp_t
)
SELECT q.doc_id, q.n_tokens
FROM q
WHERE q.n_tokens >= 30
  AND (500000 * q.n_stop) // q.n_tokens >= 50000
  AND q.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
""",
)
def pipe_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline over the planted
    corpus: length filter + quality filter + near-dup removal (keep
    each component's representative) in ONE plan — filters stay JVM,
    the only heavy op is the LSH pair graph, and the final anti-join is
    a broadcast of the (tiny) non-representative set."""
    c = corpus(spark, sf_dir)
    edges = dd.lsh_candidate_pairs(
        dd.with_minhash(dd.with_shingles(c), num_hashes=12), num_hashes=12, bands=4
    )
    comp = dd.connected_components(edges)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    toks = tx.with_stop_counts(c).select("doc_id", "n_tokens", "n_stop")
    return (
        toks.where(
            (F.col("n_tokens") >= 30) & (F.expr(tx.Q_INT_EXPR) >= 50000)
        )
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )


@query(
    "pipe_curation_gated",
    survey_ref="§2.14 quality,§2.14 text,§2.14 dedup",
    oracle=f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
{CORPUS_SQL},
sp_t AS (SELECT doc_id, text, string_split(text, ' ') AS sp FROM corpus),
q AS (
  SELECT doc_id, len(sp) AS n_tokens,
         len(list_filter(sp, t -> list_contains([{STOPS}], t))) AS n_stop
  FROM sp_t
),
gate AS (
  SELECT CAST(count(*) AS BIGINT) AS gate_checks,
         CAST(sum(v) AS BIGINT) AS gate_violations
  FROM (
    SELECT count(*) FILTER (doc_id IS NULL) AS v FROM documents
    UNION ALL
    SELECT count(doc_id) - count(DISTINCT doc_id) FROM documents
    UNION ALL
    SELECT count(*) FILTER (text IS NULL) FROM documents
    UNION ALL
    SELECT count(*) FILTER (n_chars < 0) FROM documents
    UNION ALL
    SELECT count(*) FILTER (lang IS NOT NULL
         AND lang NOT IN ('de','en','es','fr','zh')) FROM documents
    UNION ALL
    SELECT count(*) FILTER (vec_id IS NOT NULL
         AND vec_id NOT IN (SELECT doc_id FROM documents)) FROM embeddings
  ) g
)
SELECT q.doc_id, q.n_tokens, gate.gate_checks, gate.gate_violations
FROM q, gate
WHERE q.n_tokens >= 30
  AND (500000 * q.n_stop) // q.n_tokens >= 50000
  AND q.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
  AND gate.gate_violations = 0
""",
)
def pipe_curation_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`pipe_curation` behind the round-9 ingest-gate family, the
    way a real delivery lands: a Deequ-style constraint gate on the raw
    ``documents`` table (null-freedom, id uniqueness, n_chars bound,
    language whitelist — ``quality.check_constraints``) composed via
    ``unionByName`` with a referential-integrity check
    (``embeddings.vec_id -> documents.doc_id``,
    ``quality.check_foreign_key``), aggregated to a 1-row summary that
    rides a broadcast onto the curated output.  A failing gate is an
    in-plan ``raise_error`` — curated rows only exist when the whole
    delivery passed (the oracle expresses the same as
    ``WHERE gate_violations = 0``; the raise-vs-empty difference is
    unobservable on a passing corpus and documented here).  Scale
    shape: the gates are two single-scan aggregates + one broadcast
    anti-join, all corpus-size-independent in output; the curation body
    is unchanged from ``pipe_curation``.

    STREAMING caveat (r15, mirrors ``constraint_gate_batches``): when
    this pipeline is composed over a stream by running the gate per
    micro-batch, the ``unique`` check only sees WITHIN-batch
    duplicates — a key delivered in batch 1 and again in batch 2
    passes both gates.  Cross-batch uniqueness is stateful; compose
    ``streaming.events.unique_gate_batches`` (persisted key index)
    alongside the constraint gate for that contract.  Batch mode (this
    query) sees the whole corpus in one gate and has no such gap —
    ``tests/test_curation.py`` pins both behaviors
    end-to-end."""
    from scdataset_spark.operators.quality import (
        check_constraints,
        check_foreign_key,
    )

    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    emb = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    gate = check_constraints(
        docs,
        [
            {"type": "not_null", "col": "doc_id"},
            {"type": "unique", "col": "doc_id"},
            {"type": "not_null", "col": "text"},
            {"type": "min", "col": "n_chars", "bound": 0},
            {
                "type": "accepted_values",
                "col": "lang",
                "values": ["de", "en", "es", "fr", "zh"],
            },
        ],
    ).unionByName(check_foreign_key(emb, "vec_id", docs, "doc_id"))
    summary = gate.agg(
        F.count(F.lit(1)).cast("bigint").alias("gate_checks"),
        F.sum("violations").cast("bigint").alias("_viol"),
    ).select(
        "gate_checks",
        F.when(
            F.col("_viol") > 0,
            F.raise_error(
                F.concat(
                    F.lit("ingest gate failed: "),
                    F.col("_viol").cast("string"),
                    F.lit(" violations"),
                )
            ).cast("bigint"),
        )
        .otherwise(F.col("_viol"))
        .alias("gate_violations"),
    )
    c = corpus(spark, sf_dir)
    edges = dd.lsh_candidate_pairs(
        dd.with_minhash(dd.with_shingles(c), num_hashes=12), num_hashes=12, bands=4
    )
    comp = dd.connected_components(edges)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    toks = tx.with_stop_counts(c).select("doc_id", "n_tokens", "n_stop")
    curated = (
        toks.where(
            (F.col("n_tokens") >= 30) & (F.expr(tx.Q_INT_EXPR) >= 50000)
        )
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )
    return curated.crossJoin(F.broadcast(summary))


@query(
    "tx_sequence_pack",
    survey_ref="§2.14 text,W2",
    oracle="""
WITH sp_t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  -- cast: DuckDB's HUGEINT window sum becomes float64 in pandas,
  -- which would turn window_id/offset_in_window fractional
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_tokens AS BIGINT) AS start_off
  FROM sp_t
)
SELECT doc_id, n_tokens,
       start_off // 2048 AS window_id,
       start_off % 2048 AS offset_in_window,
       CAST((start_off % 2048) + n_tokens > 2048 AS INT) AS crosses_boundary
FROM c
""",
)
def tx_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: documents are concatenated in
    a deterministic order and cut into fixed 2048-token context
    windows; each document gets its window id, offset, and a
    crosses-boundary flag (the documents a packer must split or mask
    across contexts).  One running token sum — the bucketed
    ``with_running_sum`` shape at scale — and pure integer window
    arithmetic, so packing layout is value-checked exactly."""
    from scdataset_spark.plans.plan import with_running_sum

    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    # bucketed exact running sum (plans.with_running_sum) — packing is
    # by definition over the whole corpus, exactly where a global
    # single-partition window would bottleneck
    c = with_running_sum(toks, "n_tokens", "doc_id", out="_cum", buckets=64)
    c = c.withColumn("start_off", F.col("_cum") - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr("start_off div 2048").alias("window_id"),
        (F.col("start_off") % 2048).alias("offset_in_window"),
        ((F.col("start_off") % 2048) + F.col("n_tokens") > 2048)
        .cast("int")
        .alias("crosses_boundary"),
    )


# ------------------------------------------------- winnowing fingerprints
@query(
    "dd_winnowing",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
kg_t AS (SELECT doc_id,
  list_transform(range(1, greatest(len(sp) - 2, 1) + 1),
    i -> sp[i] || ' ' || sp[least(i + 1, len(sp))] || ' ' || sp[least(i + 2, len(sp))]) AS kg
  FROM sp_t),
h_t AS (SELECT doc_id,
  list_transform(kg, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h FROM kg_t),
f_t AS (SELECT doc_id,
  list_distinct(list_transform(range(1, greatest(len(h) - 3, 1) + 1),
    i -> list_aggregate(list_slice(h, i, i + 3), 'min'))) AS fps
  FROM h_t)
SELECT doc_id, unnest(fps) AS fingerprint FROM f_t
""",
)
def dd_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS; Schleimer et al. SIGMOD'03) on the
    planted corpus: min-hash of each 4-window of 3-gram hashes — the
    substring-level dedup primitive whole-document MinHash misses
    (shared boilerplate, quotations).  Pure JVM higher-order-function
    expressions; candidate generation downstream is an equi-join on
    ``fingerprint`` (same scale shape as MinHash banding)."""
    return dd.winnowing_fingerprints(corpus(spark, sf_dir), k=3, window=4)


@query(
    "dd_winnowing_pairs",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
kg_t AS (SELECT doc_id,
  list_transform(range(1, greatest(len(sp) - 2, 1) + 1),
    i -> sp[i] || ' ' || sp[least(i + 1, len(sp))] || ' ' || sp[least(i + 2, len(sp))]) AS kg
  FROM sp_t),
h_t AS (SELECT doc_id,
  list_transform(kg, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h FROM kg_t),
f_t AS (SELECT doc_id,
  list_distinct(list_transform(range(1, greatest(len(h) - 3, 1) + 1),
    i -> list_aggregate(list_slice(h, i, i + 3), 'min'))) AS fps
  FROM h_t),
fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM f_t)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 8
""",
)
def dd_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap candidate pairs from winnowing fingerprints:
    equi-self-join on fingerprint, count shared fingerprints per pair,
    keep pairs sharing >= 8 (the planted exact/near copies).  One
    short-key shuffle — never all-pairs; hot boilerplate fingerprints
    are cappable with ``skew.cap_hot_tokens`` before the join."""
    from scdataset_spark.operators._cache import persist_bounded

    # both sides of the self-join read the fingerprint frame — persist
    # it once (same posture as the banded frames in lsh_candidate_pairs)
    fp = persist_bounded(
        dd.winnowing_fingerprints(corpus(spark, sf_dir), k=3, window=4)
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, "fingerprint")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= 8)
    )


# ------------------------------------------------------ BPE token count
@query(
    "tx_bpe_count",
    survey_ref="§2.14 text",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{tx.BPE_PATTERN}')) AS n_bpe
FROM documents
""",
)
def tx_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer segment count (GPT-2-style pattern reduced
    to Java-regex/RE2-identical constructs) — the token-budget estimate
    a curation pipeline runs before the real tokenizer.  One linear
    JVM ``regexp_extract_all`` scan, no shuffle."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_bpe_token_count(docs).select("doc_id", "n_bpe")


# -------------------------------------------- intra-doc repetition
@query(
    "tx_repetition",
    survey_ref="§2.14 text",
    oracle="""
WITH sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
g_t AS (SELECT doc_id, sp,
  list_transform(range(1, greatest(len(sp) - 1, 1) + 1),
    i -> sp[i] || ' ' || sp[least(i + 1, len(sp))]) AS g2
  FROM sp_t)
SELECT doc_id,
       round(1.0 - len(list_distinct(sp)) / len(sp), 6) AS dup_token_ratio,
       round(1.0 - len(list_distinct(g2)) / len(g2), 6) AS dup_2gram_ratio
FROM g_t
""",
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition ratios (duplicate token /
    duplicate 2-gram fractions) — the within-doc quality filter that
    runs before any corpus-level dedup."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tx.with_repetition_stats(docs).select(
        "doc_id", "dup_token_ratio", "dup_2gram_ratio"
    )


# ---------------------------------------- embedding quantization
@query(
    "emb_quantize",
    survey_ref="§2.14 similarity",
    oracle="""
WITH a_t AS (
  SELECT vec_id,
         embedding,
         greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-30)
           AS amax
  FROM embeddings
),
q_t AS (
  SELECT vec_id, amax,
         list_transform(embedding, x -> CAST(trunc(x::DOUBLE / amax * 127) AS INT)) AS q
  FROM a_t
)
SELECT vec_id,
       round(amax, 8) AS scale_amax,
       CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
       CAST(list_aggregate(list_transform(q, x -> CAST(x AS BIGINT) * x), 'sum') AS BIGINT)
         AS qnorm
FROM q_t
""",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (similarity.quantize_
    embeddings): per-vector scale + the quantized vector, value-checked
    via its exact integer sum and squared norm (the full 64-element
    array is determined by these only up to permutation, but trunc of
    identical doubles is exact, so sums pin every element in practice
    while keeping the checked frame compact)."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = sim.quantize_embeddings(e)
    return q.select(
        "vec_id",
        F.round("amax", 8).alias("scale_amax"),
        F.expr("aggregate(qvec, 0L, (a, x) -> a + x)").alias("qsum"),
        F.expr("aggregate(qvec, 0L, (a, x) -> a + CAST(x AS BIGINT) * x)").alias("qnorm"),
    )


# ---------------------------------------- exact embedding dedup
@query(
    "dd_embed_exact",
    survey_ref="§2.14 dedup",
    oracle="""
WITH ec AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 13 = 0
)
SELECT min(vec_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM ec
GROUP BY embedding
HAVING count(*) > 1
""",
)
def dd_embed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate embedding vectors (the cheap pass BEFORE cosine
    near-dup): group by the raw float array itself — bitwise equality
    of identical parquet floats is engine-exact — on a corpus with
    planted exact copies (vec_id % 13).  One hash-aggregation on the
    vector bytes; at 100 TB the group key would be xxhash64 of the
    vector to keep shuffle rows narrow, with the array compare only
    inside buckets."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False).select(
        "vec_id", "embedding"
    )
    planted = e.where("vec_id % 13 = 0").select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
    )
    ec = e.unionByName(planted)
    return (
        ec.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .select("canonical_id", "n_copies")
    )


# ------------------------------------- exact n-gram decontamination
@query(
    "dd_ngram_decontam",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM corpus),
sh_t AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM sp_t),
inv AS (SELECT doc_id, unnest(sh) AS s FROM sh_t),
ev AS (SELECT doc_id, s FROM inv WHERE doc_id % 10 = 3),
tr AS (SELECT doc_id, s FROM inv WHERE doc_id % 10 <> 3)
SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM ev e JOIN tr t ON e.s = t.s
GROUP BY 1, 2
HAVING count(*) >= 5
""",
)
def dd_ngram_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style EXACT n-gram decontamination (Brown et al. 2020
    Appendix C use 13-grams; 3-grams here for the short synthetic
    docs): a training document sharing >= 5 distinct grams with an
    eval-split document is flagged verbatim-contaminated.  Complements
    ``dd_decontamination`` (MinHash, paraphrase-level): exact-gram
    catches short verbatim quotes LSH banding can miss.  Inverted-index
    equi-join restricted to cross-split pairs; at 100 TB the hot-gram
    cap (``skew.cap_hot_tokens``) bounds fan-out exactly as in
    ``jaccard_pairs``."""
    from scdataset_spark.operators._cache import persist_bounded, widen_if_narrow

    # same posture as jaccard_pairs: widen a split-starved per-doc frame
    # before the shingle explode, persist the inverted index once — it
    # is consumed by BOTH split sides
    sh = dd.with_shingles(widen_if_narrow(corpus(spark, sf_dir)))
    inv = persist_bounded(sh.select("doc_id", F.explode("shingles").alias("s")))
    ev = inv.where(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    tr = inv.where(F.col("doc_id") % 10 != 3).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        ev.join(tr, "s")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .where(F.col("shared_grams") >= 5)
    )


# ----------------------------------------- length-bucketed packing
@query(
    "tx_length_buckets",
    survey_ref="§2.14 text,G7",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         least(n_tokens // 16, 7) AS bucket
  FROM t
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
       CAST(max(n_tokens) * count(*) AS BIGINT) AS padded_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / (max(n_tokens) * count(*)), 6)
         AS pad_efficiency
FROM b GROUP BY bucket
""",
)
def tx_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning: bucket documents by token count
    (16-token bands, capped) and report per-bucket padding efficiency —
    real tokens over padded (batch-max × count) tokens.  Batching
    within length buckets is the standard way to cut padding waste in
    variable-length training; the efficiency column is the planner's
    objective, computed exactly (integer token counts, one division).
    One groupBy — same cost as any keyed agg at 100 TB."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    b = t.withColumn("bucket", F.least(F.expr("n_tokens div 16"), F.lit(7)))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        (F.max("n_tokens") * F.count(F.lit(1))).cast("bigint").alias("padded_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / (F.max("n_tokens") * F.count(F.lit(1))),
            6,
        ).alias("pad_efficiency"),
    )


# ------------------------------------- exact substring-span coverage
def _dup_span_oracle(k: int = 5) -> str:
    # short docs (< k tokens) emit NO grams — n_grams floors at 0 and
    # range(1, 0 + 1) is empty, mirroring the Spark-side guard
    gram = " || ' ' || ".join(f"sp[i + {j}]" for j in range(k))
    return f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS sp FROM corpus),
base AS (
  SELECT doc_id, len(sp) AS n_tokens,
         greatest(len(sp) - {k - 1}, 0) AS n_grams, sp
  FROM sp_t
),
g AS (
  SELECT doc_id, u.pos AS pos, u.gh AS gh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, n_grams + 1),
             i -> {{'pos': i,
                    'gh': ('0x' || substr(md5({gram}), 1, 15))::BIGINT}})) AS u
    FROM base) t
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
d AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM g WHERE gh IN (SELECT gh FROM dup)
),
cov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_grams,
         CAST(sum(CASE WHEN prev IS NULL THEN {k}
                       ELSE least({k}, pos - prev) END) AS BIGINT) AS cv
  FROM d GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_grams,
       coalesce(c.dup_grams, 0) AS dup_grams,
       least(coalesce(c.cv, 0), b.n_tokens) AS covered_tokens,
       round(least(coalesce(c.cv, 0), b.n_tokens) / b.n_tokens, 6) AS dup_token_fraction
FROM base b LEFT JOIN cov c USING (doc_id)
"""


@query("dd_duplicate_spans", survey_ref="§2.14 dedup", oracle=_dup_span_oracle())
def dd_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication coverage (Lee et al. 2021 style) on
    the planted corpus: per document, how many token positions sit
    inside a 5-gram that occurs >= 2x corpus-wide — the span-level dedup
    signal whole-document fingerprints miss (planted near-dups share
    almost all spans; boilerplate shows up as partial coverage)."""
    return dd.duplicate_span_coverage(corpus(spark, sf_dir), k=5)


# ---------------------------------------- semantic (SemDeDup) dedup
def _semantic_dedup_oracle(n_clusters: int = 8, threshold: float = 0.98, seed: int = 11) -> str:
    dist = (
        "round(list_aggregate(list_transform(range(1, 65), "
        "i -> (e.v[i] - centroid[i]) * (e.v[i] - centroid[i])), 'sum'), 6)"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> x.v[i] * x.v[i]), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> y.v[i] * y.v[i]), 'sum'))), 4)"
    )
    return f"""
WITH {EMB_CORPUS_SQL},
cent AS (
  SELECT rk - 1 AS cell, centroid FROM (
    SELECT v AS centroid,
           row_number() OVER (ORDER BY {mix_sql('vec_id', seed, 'duckdb')}, vec_id) AS rk
    FROM ecorpus
  ) WHERE rk <= {n_clusters}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cent.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, cent.cell) AS ark
    FROM ecorpus e CROSS JOIN cent
  ) WHERE ark = 1
),
dropped AS (
  SELECT DISTINCT y.vec_id AS vec_id
  FROM assigned x JOIN assigned y
    ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE {cos} >= {threshold}
)
SELECT a.vec_id, a.cell,
       (a.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept
FROM assigned a
"""


@query("dd_semantic_dedup", survey_ref="§2.14 dedup", oracle=_semantic_dedup_oracle())
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-cosine) semantic dedup on the planted
    embedding corpus: broadcast seeded centroids, one assignment pass,
    within-cell pair search only (``similarity.semantic_dedup``) — the
    planted ~0.9995-cosine replicas are the dropped set."""
    c = emb_corpus(spark, sf_dir)
    return sim.semantic_dedup(
        c, id_col="vec_id", vec="v", n_clusters=8, threshold=0.98, seed=11
    )


# ------------------------------------------------- document chunking
@query(
    "tx_chunk_documents",
    survey_ref="§2.14 text",
    oracle="""
SELECT doc_id,
       CAST(s // 90 AS INT) AS chunk_id,
       substring(text, CAST(s + 1 AS INT), 120) AS chunk_text,
       CAST(length(substring(text, CAST(s + 1 AS INT), 120)) AS INT) AS chunk_len
FROM documents, unnest(generate_series(0, greatest(length(text), 1) - 1, 90)) AS t(s)
""",
)
def tx_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks (size 120, stride 90 —
    30 chars of overlap) of every document: the context-window /
    RAG-chunking re-shape a training pipeline runs before embedding or
    packing.  Pure per-row ``posexplode`` of an in-plan ``sequence``
    (``textanalysis.chunk_documents``) — a narrow map, no shuffle, no
    Python; at 100 TB the scan pipeline absorbs the ~len/stride row
    multiplication because chunk rows never need to co-locate.  The
    oracle re-derives every chunk boundary, text slice, and length
    exactly (both engines' substring is 1-based with identical
    past-end clamping)."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False).select(
        "doc_id", "text"
    )
    return tx.chunk_documents(docs, text_col="text", size=120, stride=90)


# --------------------------------------------- random projection (JL)
_RP_SEED = 5
_RP_OUT_DIM = 16


def _random_projection_oracle() -> str:
    sign = (
        f"CASE WHEN ({mix_sql(f'((i - 1) * {_RP_OUT_DIM} + j)', _RP_SEED, 'duckdb')})"
        " % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    return f"""
SELECT vec_id, CAST(j AS INT) AS dim_id,
       CAST(sum(CAST(round({sign} * CAST(list_extract(embedding, i) AS DOUBLE), 8)
                AS DECIMAL(24,8))) AS DOUBLE) AS value
FROM embeddings,
     unnest(generate_series(0, {_RP_OUT_DIM - 1})) AS tj(j),
     unnest(generate_series(1, 64)) AS ti(i)
GROUP BY vec_id, j
"""


@query(
    "sim_random_projection",
    survey_ref="§2.14 similarity",
    oracle=_random_projection_oracle(),
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded ±1 random projection (Achlioptas 2003) of the embedding
    corpus 64 → 16 dims (``similarity.random_projection``): the
    dimensionality reduction before a cheap ANN pass or a disk-size
    shrink, with the projection matrix derived in-plan from the
    engine-portable ``mix`` hash — nothing is stored or shipped.  Each
    ±v_i term rounds to 8 and sums as DECIMAL(24,8), so the checked
    values are independent of summation order.  Scale shape: a pure
    per-row whole-stage-codegen expression, no shuffle, no Python."""
    emb = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    return sim.random_projection(
        emb, id_col="vec_id", vec_col="embedding", dim=64,
        out_dim=_RP_OUT_DIM, seed=_RP_SEED,
    )


def _projected_ann_oracle() -> str:
    sign = (
        f"CASE WHEN ({mix_sql(f'((i - 1) * {_RP_OUT_DIM} + j)', _RP_SEED, 'duckdb')})"
        " % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * b2.v[i]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * a.v[i]), 'sum'))"
        " * sqrt(list_aggregate(list_transform(range(1, 65), i -> b2.v[i] * b2.v[i]), 'sum'))), 4)"
    )
    return f"""
WITH {EMB_CORPUS_SQL},
proj AS (
  SELECT vec_id, j,
         CAST(sum(CAST(round({sign} * list_extract(v, i), 8)
                  AS DECIMAL(24,8))) AS DOUBLE) AS value
  FROM ecorpus,
       unnest(generate_series(0, {_RP_OUT_DIM - 1})) AS tj(j),
       unnest(generate_series(1, 64)) AS ti(i)
  GROUP BY vec_id, j
),
bk AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN value > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
cand AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.id_a, c.id_b, {cos} AS cosine
FROM cand c JOIN ecorpus a ON c.id_a = a.vec_id JOIN ecorpus b2 ON c.id_b = b2.vec_id
WHERE {cos} >= 0.98
"""


@query(
    "sim_projected_ann",
    survey_ref="§2.14 similarity,§2.14 dedup",
    oracle=_projected_ann_oracle(),
)
def sim_projected_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The random projection COMPOSED into an ANN near-dup path
    (``similarity.projected_bucket_pairs``): project 64 → 16 dims,
    bucket every vector by the 16 projected sign bits (the projection
    rows double as the LSH hyperplanes), candidates = bucket
    collisions, exact cosine ≥ 0.98 on the original vectors verifies.
    The projection's order-independent decimal arithmetic makes the
    bucket assignment — and therefore the full pair set — exactly
    reproducible in the oracle; recall vs the unprojected chain is
    pinned by a band test in tests/test_similarity_extra.py.  Scale
    shape: narrow projection pass, short-integer-key self-join,
    vector fetch onto candidates only — no cross product."""
    c = emb_corpus(spark, sf_dir)
    # every posture knob pinned explicitly: the decimal-HOF projection +
    # join verify IS the oracle shape, and explicit flags keep the plan
    # fully lazy (no auto-resolution count) — production callers leave
    # the defaults and get the size-resolved scale posture instead
    return sim.projected_bucket_pairs(
        c, id_col="vec_id", vec_col="v", dim=64,
        out_dim=_RP_OUT_DIM, seed=_RP_SEED, threshold=0.98,
        verify_local=False, max_bucket=None, vectorized_projection=False,
    )


def _remove_spans_oracle(k: int = 5) -> str:
    # short docs (< k tokens) emit NO grams (range over greatest(.., 0)
    # is empty) and pass through untouched — mirrors the Spark guard
    gram = " || ' ' || ".join(f"sp[i + {j}]" for j in range(k))
    return f"""
WITH {CORPUS_SQL},
sp_t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS sp FROM corpus),
base AS (SELECT doc_id, len(sp) AS n_tokens, sp FROM sp_t),
g AS (
  SELECT doc_id, u.pos AS pos, u.gh AS gh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(sp) - {k - 1}, 0) + 1),
             i -> {{'pos': i,
                    'gh': ('0x' || substr(md5({gram}), 1, 15))::BIGINT}})) AS u
    FROM base) t
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS tpos
  FROM g, unnest(generate_series(0, {k - 1})) AS tj(j)
  WHERE gh IN (SELECT gh FROM dup)
),
tok AS (
  SELECT doc_id, u.tpos AS tpos, u.tok AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(sp) + 1),
             i -> {{'tpos': i, 'tok': sp[i]}})) AS u
    FROM base) t
),
kept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
  WHERE c.tpos IS NULL
),
rb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY tpos) AS clean
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(b.n_tokens - coalesce(rb.n_kept, 0) AS BIGINT) AS removed_tokens,
       coalesce(rb.clean, '') AS clean_text
FROM base b LEFT JOIN rb USING (doc_id)
"""


@query("dd_remove_spans", survey_ref="§2.14 dedup", oracle=_remove_spans_oracle())
def dd_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN removal (Lee et al. 2021's intervention,
    not just its metric): rewrite each planted-corpus document with
    every token covered by a corpus-duplicated 5-gram stripped —
    fully-duplicated docs survive as empty strings, partial boilerplate
    is excised in place (``dedup.remove_duplicate_spans``).  The oracle
    re-derives every cleaned string byte-for-byte: gram hashing, the
    df >= 2 screen, position expansion, and the order-stable rebuild
    are all engine-portable.  rebuild is pinned 'relational' (the
    all-JVM oracle shape, and no auto-resolution count); production
    callers leave the 'auto' default and get the size-resolved path."""
    return dd.remove_duplicate_spans(
        corpus(spark, sf_dir), k=5, rebuild="relational"
    )


# ---------------------------------- edit-distance verified near-dups
@query(
    "dd_edit_verified",
    survey_ref="§2.14 dedup",
    oracle=f"""
WITH cand AS ({_minhash_oracle()}),
{CORPUS_SQL.strip().lstrip()}
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
FROM cand c
JOIN corpus a ON c.doc_a = a.doc_id
JOIN corpus b ON c.doc_b = b.doc_id
WHERE levenshtein(a.text, b.text) <= 40
""",
)
def dd_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-VERIFIED near-dup pairs on the planted corpus
    (``dedup.edit_distance_pairs``): MinHash+LSH candidates, then the
    exact integer Levenshtein distance on the raw strings keeps pairs
    <= 40 — exact copies verify at 0, the head-dropped near-dups at
    their excised-prefix length, and any candidate collision between
    unrelated documents is rejected.  Integer-exact on both engines, so
    the oracle checks every distance.  Scale shape: the df-capped
    banding bounds the candidate count; both text copies join only
    onto surviving candidates (the cosine-verify chain's posture)."""
    return dd.edit_distance_pairs(
        corpus(spark, sf_dir), max_dist=40, num_hashes=12, bands=4
    )


# ------------------------------------------ leakage-safe split stamp
@query(
    "o22_component_split",
    survey_ref="O21,S2,§2.14 dedup",
    oracle=f"""
WITH RECURSIVE cand AS ({_minhash_oracle()}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS id FROM und),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
{CORPUS_SQL.strip().lstrip()},
keyed AS (
  SELECT c.doc_id,
         coalesce(comp.component, c.doc_id) AS split_key
  FROM corpus c LEFT JOIN comp ON c.doc_id = comp.id
)
SELECT doc_id, split_key,
       CASE WHEN ({mix_sql('split_key', 77, 'duckdb')}) % 1000 < 900 THEN 'train'
            WHEN ({mix_sql('split_key', 77, 'duckdb')}) % 1000 < 950 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
""",
)
def o22_component_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test stamping on the planted corpus
    (``dedup.component_split``): near-duplicate documents share their
    dedup component's representative as the split key, so an exact or
    near copy of a test document can never land in train (the
    test-set-contamination failure mode Lee et al. 2021 measure).
    Singleton documents key on their own id — on a dup-free corpus
    this IS o21's plain keyed stamp.  The mix() bucket arithmetic makes
    the EXACT assignment oracle-checkable."""
    return dd.component_split(corpus(spark, sf_dir), seed=77)


# ------------------------------------ cross-split contamination report
@query(
    "dd_contamination_report",
    survey_ref="§2.14 dedup,O21",
    oracle=f"""
WITH cand AS ({_minhash_oracle()}),
st AS (
  SELECT doc_a, doc_b,
         CASE WHEN ({mix_sql('doc_a', 77, 'duckdb')}) % 1000 < 900 THEN 'train'
              WHEN ({mix_sql('doc_a', 77, 'duckdb')}) % 1000 < 950 THEN 'val'
              ELSE 'test' END AS sa,
         CASE WHEN ({mix_sql('doc_b', 77, 'duckdb')}) % 1000 < 900 THEN 'train'
              WHEN ({mix_sql('doc_b', 77, 'duckdb')}) % 1000 < 950 THEN 'val'
              ELSE 'test' END AS sb
  FROM cand
),
norm AS (
  SELECT CASE WHEN sa < sb THEN sa ELSE sb END AS split_lo,
         CASE WHEN sa < sb THEN sb ELSE sa END AS split_hi,
         CASE WHEN sa < sb THEN doc_a ELSE doc_b END AS dlo,
         CASE WHEN sa < sb THEN doc_b ELSE doc_a END AS dhi
  FROM st WHERE sa <> sb
)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT dlo) AS BIGINT) AS n_docs_lo,
       CAST(count(DISTINCT dhi) AS BIGINT) AS n_docs_hi
FROM norm
GROUP BY split_lo, split_hi
""",
)
def dd_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination report on the planted corpus
    (``dedup.cross_split_contamination``): count the near-dup pairs
    (and distinct documents per side) that straddle a train/val/test
    boundary under the PLAIN per-document keyed split — the leakage
    figure that motivates ``o22_component_split``'s component-keyed
    stamping.  The LSH candidate graph, the mix() split stamp, and the
    orientation-free (split_lo, split_hi) normalization are all
    engine-portable, so the oracle checks every integer exactly.  The
    output is at most 3 rows at any corpus size."""
    return dd.cross_split_contamination(corpus(spark, sf_dir), seed=77)


# ---------------------------------------------- MMR diversified top-k (r15)
def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7,
                n_queries: int = 3) -> str:
    """Replays mmr_topk: brute-force relevance pool, then the unrolled
    greedy MMR rounds (one CTE pair per pick — argmax of
    lam·rel − (1−lam)·max-sim-to-selected, rounded 6, c_id tiebreak)."""
    def cos(a: str, b: str) -> str:
        def dot(x, y):
            return (
                f"list_aggregate(list_transform(range(1, 65), "
                f"i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE), 'sum')"
            )

        return (
            f"round(({dot(a, b)}) / ((sqrt({dot(a, a)}))"
            f" * (sqrt({dot(b, b)}))), 4)"
        )

    mu = 1.0 - lam
    parts = [f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q_id, c_id, {cos('qv', 'cv')} AS rel, cv
  FROM q CROSS JOIN c WHERE q_id <> c_id
),
p AS (
  SELECT q_id, c_id, rel, cv FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rk
    FROM scored) WHERE rk <= {pool}
),
s1 AS (
  SELECT q_id, c_id, rel, mmr_score, 1 AS pick_rank, cv FROM (
    SELECT q_id, c_id, rel, round({lam!r} * rel, 6) AS mmr_score, cv,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round({lam!r} * rel, 6) DESC, c_id) AS prk
    FROM p) WHERE prk = 1
),
sel1 AS (SELECT * FROM s1)"""]
    for i in range(2, k + 1):
        j = i - 1
        sc = f"round({lam!r} * r.rel - {mu!r} * m.maxsim, 6)"
        parts.append(f""",
rem{i} AS (
  SELECT p.q_id, p.c_id, p.rel, p.cv FROM p
  LEFT JOIN sel{j} s ON p.q_id = s.q_id AND p.c_id = s.c_id
  WHERE s.c_id IS NULL
),
ms{i} AS (
  SELECT r.q_id, r.c_id, max({cos('r.cv', 's.cv')}) AS maxsim
  FROM rem{i} r JOIN sel{j} s ON r.q_id = s.q_id
  GROUP BY r.q_id, r.c_id
),
s{i} AS (
  SELECT q_id, c_id, rel, mmr_score, {i} AS pick_rank, cv FROM (
    SELECT r.q_id, r.c_id, r.rel, {sc} AS mmr_score, r.cv,
           row_number() OVER (PARTITION BY r.q_id
                              ORDER BY {sc} DESC, r.c_id) AS prk
    FROM rem{i} r JOIN ms{i} m ON r.q_id = m.q_id AND r.c_id = m.c_id
  ) WHERE prk = 1
),
sel{i} AS (SELECT * FROM sel{j} UNION ALL SELECT * FROM s{i})""")
    parts.append(
        f"\nSELECT q_id, c_id, rel, mmr_score, pick_rank FROM sel{k}\n"
    )
    return "".join(parts)


@query("sim_mmr_topk", survey_ref="§2.14 similarity", oracle=_mmr_oracle())
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval
    (``similarity.mmr_topk``): 5 picks per query from a 20-candidate
    relevance pool at λ=0.7 — plain top-k returns near-duplicates of
    the best hit, MMR returns 5 DIFFERENT relevant results (the
    eval-set / few-shot-pool builder).  The only corpus-scale pass is
    the salted brute-force pool build; the greedy rounds run on the
    ≤20-rows-per-query cached pool with one bounded 1-row-per-query
    collect each.  The oracle unrolls the same greedy rounds as CTE
    stages, so every pick, score, and rank is value-checked."""
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    q = e.where("vec_id < 3").select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return sim.mmr_topk(q, c, k=5, pool=20, lam=0.7)
