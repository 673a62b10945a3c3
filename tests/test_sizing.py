"""The shared input-size probe (``session.input_probe``) and the gates
it feeds.

Every size-gated physical shape reads its input bytes from the one
probe, and unknown bytes (``None``) mean the scale shape.  The fallback
cases run on a file-backed frame whose ``inputFiles()`` is patched to
list files the driver cannot stat: object-store URIs, or a local file
that is missing.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scdataset_spark.session import _cluster_width, input_probe
from tests._helpers import plan_text
from tests.conftest import SF_DIR_SMALL


def test_local_bytes_match_file_sizes(spark, tmp_path):
    """Local files are statted after URI decoding: a directory name
    with a space and a percent sign still yields the exact bytes."""
    d = tmp_path / "a b%c"
    spark.range(100).repartition(3).write.parquet(str(d))
    parts = [f for f in os.listdir(d) if f.startswith("part-")]
    n_files, nbytes = input_probe(spark.read.parquet(str(d)))
    assert n_files == len(parts)
    assert nbytes == sum(os.path.getsize(d / f) for f in parts)


@pytest.mark.parametrize("case", ["object_store", "missing_local_file"])
def test_unstatable_inputs_take_the_scale_shapes(spark, monkeypatch, case):
    from scdataset_spark.catalog import ingest_parts, load_table, table_ingest_parts
    from scdataset_spark.operators import similarity as sim
    from scdataset_spark.operators import strategies as st
    from scdataset_spark.operators._cache import widen_if_narrow
    from scdataset_spark.plans.plan import adaptive_rank_buckets

    li = load_table(spark, "lineitem", SF_DIR_SMALL)
    emb = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
    assert input_probe(li)[1] is not None  # statable before the patch

    # >= 8x width files, so widen_if_narrow's object-store branch decides
    n = 8 * _cluster_width(li)
    if case == "object_store":
        files = [f"s3a://bucket/lineitem/part-{i:05d}.parquet" for i in range(n)]
    else:
        real = li.inputFiles()
        files = real + [
            f"file://{SF_DIR_SMALL}/missing-{i:05d}.parquet"
            for i in range(n - len(real))
        ]
    # the session's concrete DataFrame class (pyspark's classic one)
    monkeypatch.setattr(type(li), "inputFiles", lambda self: list(files))

    assert input_probe(li) == (n, None)

    base = li.withColumn("pos0", F.col("row_id"))
    # the blocks' running sum takes a keyed exchange on the mix-key bucket
    assert "hashpartitioning(_bucket" in plan_text(st._block_permute_pos(base, 64, s=1))

    draws = st.BlockWeightedSampling(
        block_size=16, weight_col="l_quantity", total_size=300, replace=True
    ).plan(li, seed=5)
    assert "_lo" in plan_text(draws)  # min/max range buckets

    q = emb.where("vec_id < 3").select(F.col("vec_id").alias("q_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("c_id"), "embedding")
    assert "_salt" in plan_text(sim.brute_force_topk(q, c, k=5))

    assert adaptive_rank_buckets(li) == min(4096, max(64, 4 * _cluster_width(li)))
    assert widen_if_narrow(li) is li
    assert table_ingest_parts(li) == ingest_parts(spark)
