"""Extended coverage queries: custom Python DataSource (S6), multimodal
binary decode, MLlib-equivalent encoders, grouping sets, subqueries,
date/string/array scalar functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.ml import label_encode, tfidf_expression
from scdataset_spark.operators.multimodal import decode_images, resize_stub, with_fake_image
from scdataset_spark.plans.seeds import mix_sql
from scdataset_spark.queries.registry import query

SEED = 42


# ---------------------------------------------------------- S6 source
@query(
    "src_custom_datasource",
    survey_ref="S6",
    oracle=f"""
WITH cells AS (
  SELECT i AS cell_id,
         ({mix_sql('i', 42, 'duckdb')}) % 14 + 1 AS plate,
         CAST(1000 + ({mix_sql('i', 43, 'duckdb')}) % 9000 AS DOUBLE) AS depth
  FROM range(0, 10000) t(i)
)
SELECT plate, count(*) AS n_cells,
       CAST(sum(CAST(depth AS DECIMAL(24,8))) AS DOUBLE) AS total_depth
FROM cells GROUP BY plate
""",
)
def src_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource V2 API): a
    partition-parallel synthetic single-cell source whose rows derive
    from the portable mix() — so even the custom source is value-checked
    by the oracle, which re-generates the identical rows in SQL."""
    from scdataset_spark.sources.synthetic_cells import build_datasource

    spark.dataSource.register(build_datasource())  # re-registering is a no-op
    cells = (
        spark.read.format("synthetic_cells")
        .option("n_rows", 10000)
        .option("seed", 42)
        .load()
    )
    return cells.groupBy("plate").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("depth").cast("decimal(24,8)")).cast("double").alias("total_depth"),
    )


# ------------------------------------------------------- multimodal
def _byte(hexcol: str, j: int) -> str:
    """DuckDB: byte j (0-based) of an md5 hex string."""
    hi = f"(instr('0123456789abcdef', substr({hexcol}, {2 * j + 1}, 1)) - 1)"
    lo = f"(instr('0123456789abcdef', substr({hexcol}, {2 * j + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _mm_oracle() -> str:
    b0 = _byte("h", 0)
    b1 = _byte("h", 1)
    total = " + ".join(_byte("h", j) for j in range(16))
    return f"""
WITH hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
dec AS (
  SELECT doc_id,
         32 + {b0} % 97 AS width,
         32 + {b1} % 97 AS height,
         ({total}) / 16.0 AS mean_byte
  FROM hx
)
SELECT doc_id, width, height, round(mean_byte, 6) AS mean_byte,
       CAST(round(width * (224.0 / least(width, height))) AS INT) AS resized_w,
       CAST(round(height * (224.0 / least(width, height))) AS INT) AS resized_h
FROM dec
""".replace("'", "'")


@query("mm_binary_decode", survey_ref="§2.14 multimodal,S4", oracle=_mm_oracle())
def mm_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: synthesize a binary 'image' per doc,
    decode metadata in an Arrow mapInPandas stage (PIL-stubbed
    deterministic fake — a pure function of the bytes, so the oracle
    recomputes it from the hex), then the resize-plan arithmetic."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    decoded = decode_images(with_fake_image(docs))
    decoded = decoded.withColumn("mean_byte", F.round("mean_byte", 6))
    return resize_stub(decoded).join(
        decoded.select("doc_id", "mean_byte"), "doc_id"
    ).select("doc_id", "width", "height", "mean_byte", "resized_w", "resized_h")


def _mm_feat_oracle() -> str:
    """Replays extract_features from the md5 hex of doc_id: stride-4
    byte sums, header-derived audio metadata, RMS over all 16 bytes."""
    f = {
        j: " + ".join(_byte("h", k) for k in range(j, 16, 4)) for j in range(4)
    }
    sq = " + ".join(f"({_byte('h', k)}) * ({_byte('h', k)})" for k in range(16))
    return f"""
WITH hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
SELECT doc_id,
       CAST({f[0]} AS BIGINT) AS f0,
       CAST({f[1]} AS BIGINT) AS f1,
       CAST({f[2]} AS BIGINT) AS f2,
       CAST({f[3]} AS BIGINT) AS f3,
       CAST(8000 + (({_byte('h', 2)}) % 8) * 4000 AS INT) AS sample_rate,
       CAST(100 + (({_byte('h', 3)}) * ({_byte('h', 4)})) % 900 AS INT) AS duration_ms,
       round(sqrt(({sq}) / 16.0), 6) AS rms
FROM hx
"""


@query("mm_feature_extract", survey_ref="§2.14 multimodal", oracle=_mm_feat_oracle())
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-blob feature extraction (the embed/fingerprint step for
    image/audio modalities): stride-4 byte-sum 'embedding' + fake audio
    metadata + real RMS, one Arrow mapInPandas stage over the synthetic
    binary column — every output a pure function of the bytes, replayed
    by the oracle from the md5 hex."""
    from scdataset_spark.operators.multimodal import extract_features, with_fake_image

    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    feats = extract_features(with_fake_image(docs))
    # engine-side rounding (matches the oracle's DuckDB round; Python
    # round() in the UDF would use a different rule near .5 boundaries)
    return feats.withColumn("rms", F.round("rms", 6))


# ------------------------------------------------- S4/S5 sparse densify
_SP_GENES = 128  # power of two: odd stride => distinct gene indices


def _s4_oracle() -> str:
    """DuckDB twin: regenerates the SAME ragged (gene, expression) pairs
    from the portable mixer and aggregates them sparse-side; the Spark
    path aggregates from the POST-SCATTER dense array, so equality
    proves the numpy scatter put every value at the right position."""
    nnz = f"1 + ({mix_sql('vec_id', 1001, 'duckdb')}) % 16"
    step = f"1 + 2 * (({mix_sql('vec_id', 1002, 'duckdb')}) % 64)"
    off = f"({mix_sql('vec_id', 1003, 'duckdb')}) % {_SP_GENES}"
    e = f"1 + ({mix_sql('vec_id * 31 + j', 1004, 'duckdb')}) % 100"
    return f"""
WITH base AS (
  SELECT vec_id, {nnz} AS nnz, {step} AS step, {off} AS off
  FROM embeddings
),
pairs AS (
  SELECT vec_id, (off + j * step) % {_SP_GENES} AS gene, {e} AS e
  FROM base CROSS JOIN range(0, 16) t(j)
  WHERE j < nnz
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS nnz_dense,
       CAST(sum(e) AS BIGINT) AS total_expr,
       CAST(sum(e * (gene + 1)) AS BIGINT) AS pos_checksum
FROM pairs GROUP BY vec_id
"""


@query("s4_sparse_densify", survey_ref="S4,S5", oracle=_s4_oracle())
def s4_sparse_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse ragged-pair scatter-to-dense (reference
    ``src/scdataset/transforms.py:198-222`` collate semantics): per-row
    ``genes[]/expressions[]`` arrays are scatter-assembled into a dense
    ``(row, num_genes)`` float row by one numpy fancy-assignment per
    Arrow chunk (``sources/hf_sparse.py::densify_sparse_rows``).  The
    checked aggregates (nonzero count, total, position-weighted
    checksum) are computed FROM THE DENSE ARRAY; the oracle recomputes
    them sparse-side, so any scatter misplacement breaks the hash.
    Expressions are integer counts (exact in float32) — scRNA count
    matrices, like the reference's inputs."""
    emb = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    nnz = mix_sql("vec_id", 1001, "spark")
    stp = mix_sql("vec_id", 1002, "spark")
    off = mix_sql("vec_id", 1003, "spark")
    e = mix_sql("vec_id * 31 + j", 1004, "spark")
    ragged = (
        emb.select("vec_id")
        .withColumn("nnz", F.expr(f"1 + ({nnz}) % 16"))
        .withColumn("step", F.expr(f"1 + 2 * (({stp}) % 64)"))
        .withColumn("off", F.expr(f"({off}) % {_SP_GENES}"))
        .withColumn(
            "genes",
            F.expr(
                f"transform(sequence(0, nnz - 1), j -> CAST((off + j * step) % {_SP_GENES} AS BIGINT))"
            ),
        )
        .withColumn(
            "expressions",
            F.expr(f"transform(sequence(0, nnz - 1), j -> CAST(1 + ({e}) % 100 AS FLOAT))"),
        )
    )
    from scdataset_spark.sources.hf_sparse import densify_sparse_rows

    dense = densify_sparse_rows(ragged, num_genes=_SP_GENES, id_col="vec_id")
    return dense.select(
        "vec_id",
        F.expr("CAST(size(filter(dense, x -> x != 0.0F)) AS BIGINT)").alias("nnz_dense"),
        F.expr(
            "aggregate(dense, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"
        ).alias("total_expr"),
        F.expr(
            f"aggregate(zip_with(dense, sequence(CAST(1 AS BIGINT), CAST({_SP_GENES} AS BIGINT)),"
            " (v, p) -> CAST(v AS BIGINT) * p), CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("pos_checksum"),
    )


# -------------------------------------------------- S3 AnnData ingest
_S3_CELLS, _S3_GENES, _S3_NNZ, _S3_SEED = 2000, 64, 8, 2001


def _s3_oracle() -> str:
    """Regenerates the synthetic AnnData corpus (same mixer, same
    construction as ``SyntheticAnnData``) purely in SQL and aggregates
    sparse-side; the Spark path goes python-CSR → chunked pyarrow
    parquet → spark scan → mapInPandas densify → dense-side aggregates.
    Equality checks the ENTIRE ingest pipeline, obs ride-along
    included."""
    s = _S3_SEED
    nnz = f"1 + ({mix_sql('i', s, 'duckdb')}) % {_S3_NNZ}"
    step = f"1 + 2 * (({mix_sql('i', s + 1, 'duckdb')}) % {_S3_GENES // 2})"
    off = f"({mix_sql('i', s + 2, 'duckdb')}) % {_S3_GENES}"
    e = f"1 + ({mix_sql('row_id * 131 + gene', s + 3, 'duckdb')}) % 50"
    return f"""
WITH base AS (
  SELECT i AS row_id, {nnz} AS nnz, {step} AS step, {off} AS off
  FROM range(0, {_S3_CELLS}) t(i)
),
pairs AS (
  SELECT row_id, (off + j * step) % {_S3_GENES} AS gene
  FROM base CROSS JOIN range(0, {_S3_NNZ}) u(j)
  WHERE j < nnz
),
vals AS (SELECT row_id, gene, {e} AS e FROM pairs)
SELECT row_id,
       CAST(count(*) AS BIGINT) AS nnz_dense,
       CAST(sum(e) AS BIGINT) AS total_expr,
       CAST(sum(e * (gene + 1)) AS BIGINT) AS pos_checksum,
       CAST(sum(e) AS BIGINT) AS obs_total
FROM vals GROUP BY row_id
"""


@query("s3_anndata_ingest", survey_ref="S3", oracle=_s3_oracle())
def s3_anndata_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 ingest end-to-end (reference ``transforms.py:29-135``): a
    CSR AnnData-shaped corpus is streamed to row-group-chunked Parquet
    by ``anndata_to_parquet`` (only the .h5ad file-format open is
    library-gated), scanned by Spark, scatter-densified, and checked
    value-by-value against a SQL regeneration — including the
    ``total_counts`` obs column riding along."""
    import os
    import tempfile

    from scdataset_spark.sources.anndata_ingest import SyntheticAnnData, anndata_to_parquet
    from scdataset_spark.sources.hf_sparse import densify_sparse_rows

    path = os.path.join(
        tempfile.gettempdir(),
        f"scds_s3_{_S3_CELLS}x{_S3_GENES}_s{_S3_SEED}.parquet",
    )
    if not os.path.exists(path):
        # write-then-rename: an interrupted writer leaves a VALID-footer
        # truncated parquet (close() runs in finally), which a bare
        # exists() check would trust forever
        tmp = path + f".tmp{os.getpid()}"
        adata = SyntheticAnnData(_S3_CELLS, _S3_GENES, _S3_NNZ, _S3_SEED)
        anndata_to_parquet(adata, tmp, chunk_rows=256, obs_columns=["total_counts"])
        os.replace(tmp, path)
    cells = spark.read.parquet(path)
    dense = densify_sparse_rows(cells, num_genes=_S3_GENES, id_col="row_id")
    return dense.join(cells.select("row_id", "total_counts"), "row_id").select(
        "row_id",
        F.expr("CAST(size(filter(dense, x -> x != 0.0F)) AS BIGINT)").alias("nnz_dense"),
        F.expr(
            "aggregate(dense, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"
        ).alias("total_expr"),
        F.expr(
            f"aggregate(zip_with(dense, sequence(CAST(1 AS BIGINT), CAST({_S3_GENES} AS BIGINT)),"
            " (v, p) -> CAST(v AS BIGINT) * p), CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("pos_checksum"),
        F.col("total_counts").cast("bigint").alias("obs_total"),
    )


# ------------------------------------------------------------- MLlib
@query(
    "ml_label_encode",
    survey_ref="P5,J2",
    oracle="""
WITH counts AS (SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY 1),
ranked AS (
  SELECT c_mktsegment,
         CAST(dense_rank() OVER (ORDER BY cnt DESC, c_mktsegment ASC) - 1 AS DOUBLE) AS label_idx
  FROM counts
)
SELECT c.c_custkey, c.c_mktsegment, r.label_idx
FROM customer c JOIN ranked r ON c.c_mktsegment = r.c_mktsegment
""",
)
def ml_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib StringIndexer (frequencyDesc): most frequent class → 0.0;
    the oracle reproduces the exact ordering with dense_rank."""
    cust = load_table(spark, "customer", sf_dir, with_row_id=False)
    return label_encode(cust, "c_mktsegment").select(
        "c_custkey", "c_mktsegment", "label_idx"
    )


@query(
    "ml_tfidf",
    survey_ref="§2.14 text",
    oracle="""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents)
SELECT tf.doc_id, tf.term,
       round(tf.tf * (ln((n.n + 1) / (dfreq.df + 1.0)) + 1), 6) AS tfidf
FROM tf JOIN dfreq ON tf.term = dfreq.term, n
""",
)
def ml_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact smooth TF-IDF (expression twin of the MLlib
    HashingTF/IDF pipeline, which is murmur3-bucketed and therefore
    checked statistically in tests instead)."""
    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    return tfidf_expression(docs)


# ---------------------------------------------------- G7 grouping sets
@query(
    "g7_grouping_sets",
    survey_ref="G7",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def g7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir, with_row_id=False)
    li.createOrReplaceTempView("_li_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM _li_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@query(
    "g7_cube",
    survey_ref="G7",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def g7_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus) — completes the grouping
    family next to rollup / pivot / grouping sets."""
    li = load_table(spark, "lineitem", sf_dir, with_row_id=False)
    li.createOrReplaceTempView("_li_cube")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) AS sum_qty "
        "FROM _li_cube GROUP BY CUBE (l_returnflag, l_linestatus)"
    )


# -------------------------------------------------------- subqueries
@query(
    "sq_scalar_subquery",
    survey_ref="J3,G7",
    oracle="""
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > (
  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(24,8))) AS DOUBLE) / count(*) FROM part
)
""",
)
def sq_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts above mean price — scalar subquery with a decimal-exact
    mean so the threshold is engine-identical at the boundary."""
    p = load_table(spark, "part", sf_dir, with_row_id=False)
    p.createOrReplaceTempView("_part_sq")
    return spark.sql(
        "SELECT p_partkey, p_retailprice FROM _part_sq WHERE p_retailprice > "
        "(SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(24,8))) AS DOUBLE) / count(*) FROM _part_sq)"
    )


@query(
    "sq_in_subquery",
    survey_ref="J3",
    oracle="""
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
""",
)
def sq_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir, with_row_id=False)
    c = load_table(spark, "customer", sf_dir, with_row_id=False)
    o.createOrReplaceTempView("_ord_sq")
    c.createOrReplaceTempView("_cust_sq")
    return spark.sql(
        "SELECT o_orderkey, o_custkey FROM _ord_sq WHERE o_custkey IN "
        "(SELECT c_custkey FROM _cust_sq WHERE c_mktsegment = 'MACHINERY')"
    )


# -------------------------------------------- scalar function batteries
@query(
    "dt_date_functions",
    survey_ref="§2.10",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS d,
       CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
FROM orders
""",
)
def dt_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir, with_row_id=False)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias("days_since"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    )


@query(
    "str_functions",
    survey_ref="§2.10",
    oracle="""
SELECT c_custkey,
       upper(c_name) AS uname,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
       replace(c_name, '#', '-') AS replaced,
       instr(c_name, '#') AS hash_pos,
       length(c_name) AS name_len,
       substr(c_name, 1, 8) AS prefix,
       concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nat
FROM customer
""",
)
def str_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir, with_row_id=False)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("replaced"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.concat(F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string")).alias("seg_nat"),
    )


@query(
    "arr_functions",
    survey_ref="§2.10,M2",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(embedding[1]::DOUBLE, 4) AS first_val,
       round(embedding[64]::DOUBLE, 4) AS last_val,
       round(list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'sum'), 4) AS l1_norm,
       len(list_filter(embedding, x -> x > 0)) AS n_positive
FROM embeddings
""",
)
def arr_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("first_val"),
        F.round(F.element_at("embedding", 64).cast("double"), 4).alias("last_val"),
        F.expr(
            "round(aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), CAST(0.0 AS DOUBLE), (a, v) -> a + v), 4)"
        ).alias("l1_norm"),
        F.expr("size(filter(embedding, x -> x > 0))").alias("n_positive"),
    )


# ------------------------------------------------- frame-sample plan
@query(
    "mm_frame_sample",
    survey_ref="§2.14 multimodal",
    oracle=f"""
WITH hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
dec AS (SELECT doc_id, 32 + {_byte('h', 0)} % 97 AS width FROM hx)
SELECT doc_id, CAST(i AS INT) AS frame_pos,
       CAST((i * width) // 8 AS INT) AS frame_idx
FROM dec, range(0, 8) t(i)
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: 8 evenly spaced frame indices per
    blob via pure sequence arithmetic over the decoded metadata (the
    frame *decode* is the env-stubbed step; the sampling plan — which
    frames a 100 TB video pipeline actually fetches — is real and
    value-checked).  No Python, no shuffle beyond the decode stage."""
    from scdataset_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, "documents", sf_dir, with_row_id=False)
    decoded = decode_images(with_fake_image(docs)).select("doc_id", "width")
    planned = frame_sample_plan(decoded, n_frames=8)
    return planned.select(
        "doc_id", F.posexplode("frame_indices").alias("frame_pos", "frame_idx")
    )


# ------------------------------------------------- salted aggregation
@query(
    "skew_salted_count",
    survey_ref="G1,G7",
    oracle="""
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS count
FROM lineitem GROUP BY 1, 2
""",
)
def skew_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys (operators/skew.py):
    count within (key, salt) first — spreading each hot key over 16
    reducers — then combine per key.  The salt is the deterministic
    seeded mix of ``row_id`` (xxhash64 of all columns when no row_id),
    so recompute/repartition never changes the result.  The oracle is
    the plain GROUP BY the salting must be transparent to."""
    from scdataset_spark.operators.skew import salted_count

    li = load_table(spark, "lineitem", sf_dir)
    return salted_count(li, ["l_returnflag", "l_linestatus"], salts=16)


@query(
    "w5_distribution",
    survey_ref="W5",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)
def w5_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window battery — ntile / percent_rank / cume_dist
    over orders per priority class.  Demonstrates the analytic-function
    surface; for a pathologically hot partition the bucketed
    ``plans.plan.grouped_bucketed_rank`` posture applies (see O19
    notes)."""
    orders = load_table(spark, "orders", sf_dir, with_row_id=False)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )
