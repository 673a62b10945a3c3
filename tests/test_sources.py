"""S3-S6 source adapters + multimodal plumbing + fetch_callback hook."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from scdataset_spark.catalog import ensure_ingested, load_table
from scdataset_spark.operators.multimodal import decode_images, frame_sample_plan, with_fake_image
from scdataset_spark.operators.strategies import Streaming
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.plans.plan import with_batches
from scdataset_spark.sources.anndata_ingest import h5ad_to_parquet
from scdataset_spark.sources.hf_sparse import densify_sparse_rows
from tests.conftest import SF_DIR_SMALL


class TestHFSparse:
    def test_densify_scatter(self, spark):
        """Ragged (genes, expressions) → dense with zeros elsewhere
        (reference hf_tahoe_to_tensor semantics)."""
        rows = [
            (0, [0, 3], [1.5, 2.5]),
            (1, [], []),
            (2, [9], [7.0]),
        ]
        df = spark.createDataFrame(
            rows, "row_id bigint, genes array<int>, expressions array<float>"
        )
        out = {r.row_id: r.dense for r in densify_sparse_rows(df, num_genes=10).collect()}
        assert out[0][0] == 1.5 and out[0][3] == 2.5 and sum(out[0]) == 4.0
        assert sum(out[1]) == 0.0
        assert out[2][9] == 7.0 and len(out[2]) == 10


class TestCustomDataSource:
    def test_partitioned_deterministic_read(self, spark):
        from scdataset_spark.sources.synthetic_cells import SyntheticCellsDataSource

        try:
            spark.dataSource.register(SyntheticCellsDataSource)
        except Exception:
            pass
        df = (
            spark.read.format("synthetic_cells")
            .option("n_rows", 500)
            .option("seed", 7)
            .option("partitions", 4)
            .load()
        )
        assert df.count() == 500
        assert df.select("cell_id").distinct().count() == 500
        assert df.rdd.getNumPartitions() == 4
        # deterministic re-read
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, df.collect()))
        assert a == b
        plates = {r.plate for r in df.select("plate").distinct().collect()}
        assert plates <= set(range(1, 15))


class TestAnnDataGate:
    def test_graceful_not_implemented(self):
        with pytest.raises(NotImplementedError, match="anndata is not installed"):
            h5ad_to_parquet("/nonexistent.h5ad", "/tmp/out.parquet")


class TestAnnDataIngest:
    """S3 real ingest round-trip: only the .h5ad file-format open is
    gated; the ingest itself runs on any AnnData-shaped object."""

    def _mk(self, tmp_path, dense: bool, chunk_rows: int):
        from scdataset_spark.sources.anndata_ingest import (
            SyntheticAnnData,
            anndata_to_parquet,
        )

        adata = SyntheticAnnData(500, n_genes=32, max_nnz=6, seed=77, dense=dense)
        out = str(tmp_path / f"ann_{dense}_{chunk_rows}.parquet")
        n = anndata_to_parquet(adata, out, chunk_rows=chunk_rows,
                               obs_columns=["total_counts"])
        assert n == 500
        return adata, out

    def test_sparse_roundtrip_matches_dense_ingest(self, spark, tmp_path):
        """CSR ingest + late densify == dense ingest, cell by cell."""
        adata_s, p_sparse = self._mk(tmp_path, dense=False, chunk_rows=100)
        _, p_dense = self._mk(tmp_path, dense=True, chunk_rows=500)

        sp = spark.read.parquet(p_sparse)
        assert set(sp.columns) == {"row_id", "genes", "expressions", "obs_names",
                                   "total_counts"}
        densified = {
            r["row_id"]: list(r["dense"])
            for r in densify_sparse_rows(sp, num_genes=32).collect()
        }
        dn = {r["row_id"]: list(r["X"]) for r in
              spark.read.parquet(p_dense).collect()}
        assert densified == dn

        # obs ride-along: total_counts equals the row sum
        for r in sp.select("row_id", "expressions", "total_counts").collect():
            assert sum(r["expressions"]) == pytest.approx(r["total_counts"])

    def test_chunking_yields_multiple_row_groups(self, tmp_path):
        import pyarrow.parquet as pq

        _, out = self._mk(tmp_path, dense=False, chunk_rows=100)
        assert pq.ParquetFile(out).num_row_groups == 5

    def test_obs_names_preserved(self, spark, tmp_path):
        _, out = self._mk(tmp_path, dense=False, chunk_rows=128)
        rows = spark.read.parquet(out).select("row_id", "obs_names").collect()
        assert all(r["obs_names"] == f"cell_{r['row_id']}" for r in rows)


class TestIncrementalIngest:
    """Append-only ingest: row_id continues, k-step == one-shot, exact
    dedup-on-ingest."""

    def test_two_step_equals_one_shot(self, spark, tmp_path):
        from scdataset_spark.sources.incremental import append_increment

        cust = load_table(spark, "customer", SF_DIR_SMALL, with_row_id=False)
        lo = cust.where("c_custkey <= 750")
        hi = cust.where("c_custkey > 750")

        two = str(tmp_path / "two_step")
        assert append_increment(spark, two, lo, ["c_custkey"]) == lo.count()
        assert append_increment(spark, two, hi, ["c_custkey"]) == hi.count()

        one = str(tmp_path / "one_shot")
        append_increment(spark, one, cust, ["c_custkey"])

        a = sorted(map(tuple, spark.read.parquet(two).collect()))
        b = sorted(map(tuple, spark.read.parquet(one).collect()))
        assert a == b
        # row_id dense 0..n-1 after both appends
        n = cust.count()
        ids = sorted(r.row_id for r in spark.read.parquet(two).collect())
        assert ids == list(range(n))

    def test_append_to_empty_table_continues_from_zero(self, spark, tmp_path):
        from scdataset_spark.sources.incremental import append_increment

        cust = load_table(spark, "customer", SF_DIR_SMALL, with_row_id=False)
        out = str(tmp_path / "empty_first")
        # first append writes _SUCCESS but zero rows (empty increment)
        none = cust.where("c_custkey < 0")
        assert append_increment(spark, out, none, ["c_custkey"]) == 0
        # next append must start at row_id 0, not crash on NULL max
        some = cust.where("c_custkey <= 10")
        n = append_increment(spark, out, some, ["c_custkey"])
        ids = sorted(r.row_id for r in spark.read.parquet(out).collect())
        assert ids == list(range(n))

    def test_dedup_on_ingest(self, spark, tmp_path):
        from scdataset_spark.sources.incremental import append_increment

        cust = load_table(spark, "customer", SF_DIR_SMALL, with_row_id=False)
        half = cust.where("c_custkey <= 750")
        out = str(tmp_path / "dedup")
        n1 = append_increment(spark, out, half, ["c_custkey"], dedup_on=["c_custkey"])
        # replay the same increment: everything is a duplicate
        n2 = append_increment(spark, out, half, ["c_custkey"], dedup_on=["c_custkey"])
        assert n1 == half.count() and n2 == 0
        # mixed increment: only genuinely-new keys append
        mixed = cust.where("c_custkey > 700")
        n3 = append_increment(spark, out, mixed, ["c_custkey"], dedup_on=["c_custkey"])
        assert n3 == cust.where("c_custkey > 750").count()
        assert spark.read.parquet(out).count() == cust.count()

    def test_dedup_within_increment_on_existing_table(self, spark, tmp_path):
        """Duplicate keys INSIDE one increment must collapse even when the
        table already exists (regression: the anti-join only removed keys
        already in the table, so [5,5,6] appended both 5s)."""
        from scdataset_spark.sources.incremental import append_increment

        out = str(tmp_path / "inc_dup")
        base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        assert append_increment(spark, out, base, ["k"], dedup_on=["k"]) == 2
        inc = spark.createDataFrame(
            [(5, "x1"), (5, "x2"), (6, "y")], "k int, v string"
        )
        n = append_increment(spark, out, inc, ["k"], dedup_on=["k"])
        assert n == 2
        rows = {r.k: r.v for r in spark.read.parquet(out).collect()}
        assert set(rows) == {1, 2, 5, 6}
        # deterministic survivor: first in (order_cols) arrival order —
        # for k=5 both rows tie on k, so orderBy("k") keeps ONE row
        # stably; crucially not both
        assert rows[6] == "y"
        # k-step == one-shot determinism with intra-increment dups
        one = str(tmp_path / "inc_dup_oneshot")
        append_increment(spark, one, base.unionByName(inc), ["k"], dedup_on=["k"])
        assert spark.read.parquet(one).count() == 4


class TestFetchCallback:
    def test_external_store_fetch(self, spark):
        """T1 fetch_callback: the plan carries only (row_id, pos); the
        callback pulls feature values from an external store by row_id
        (the reference's custom-fetch surface, e.g. memmap/SQL)."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        n = li.count()
        planned = with_batches(
            Streaming().plan(li, seed=1).select("row_id", "pos"),
            batch_size=64,
            fetch_factor=8,
        ).select("row_id", "pos", "fetch_id")

        def fetch_from_store(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.copy()
            pdf["value"] = pdf["row_id"].to_numpy() * 3.0  # fake store lookup
            return pdf

        out = run_hook_pipeline(
            planned,
            "row_id bigint, pos bigint, fetch_id bigint, value double",
            batch_size=64,
            fetch_callback=fetch_from_store,
        )
        got = out.orderBy("pos").limit(5).collect()
        assert out.count() == n
        assert all(r.value == r.row_id * 3.0 for r in got)


class TestMultimodal:
    def test_decode_shapes_and_determinism(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        dec = decode_images(with_fake_image(docs))
        rows = {r.doc_id: r for r in dec.collect()}
        assert len(rows) == docs.count()
        r0 = rows[0]
        assert 32 <= r0.width < 129 and 32 <= r0.height < 129
        assert 0 <= r0.mean_byte <= 255
        # deterministic: same bytes → same metadata
        again = {r.doc_id: r for r in decode_images(with_fake_image(docs)).collect()}
        assert rows[0] == again[0]

    def test_pil_path_gated_not_inverted(self, spark):
        """decode_images must be PIL-independent (it is the
        oracle-checked stub); the REAL decoder is a separate function
        that fails loudly — not the stub breaking — when Pillow is
        absent.  Guards against the inverted-gate regression where
        installing Pillow would have broken mm_binary_decode."""
        from scdataset_spark.operators import multimodal as mm

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).limit(4)
        # the stub path never consults HAVE_PIL
        assert decode_images(with_fake_image(docs)).count() == 4
        if not mm.HAVE_PIL:
            with pytest.raises(NotImplementedError, match="Pillow"):
                mm.decode_images_pil(with_fake_image(docs))
        else:  # pragma: no cover - Pillow not in this container
            # fake md5 blobs are not valid images; the gate itself opens
            assert callable(mm.decode_images_pil)

    def test_frame_sample_plan(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        dec = decode_images(with_fake_image(docs))
        plan = frame_sample_plan(dec, n_frames=8)
        r = plan.first()
        assert len(r.frame_indices) == 8
        assert r.frame_indices == sorted(r.frame_indices)


class TestMLlib:
    def test_hashed_tfidf_pipeline_smoke(self, spark):
        from scdataset_spark.ml import hashed_tfidf_pipeline

        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False).limit(50)
        out = hashed_tfidf_pipeline(docs)
        assert "tfidf_vec" in out.columns
        v = out.select("tfidf_vec").first()[0]
        assert v.size == 1024 and len(v.indices) > 0

    def test_brp_lsh_neighbors(self, spark):
        from pyspark.ml.functions import array_to_vector

        from scdataset_spark.ml import brp_lsh_neighbors

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False).withColumn(
            "vec", array_to_vector("embedding")
        )
        key = e.where("vec_id = 0").first()["vec"]
        nn = brp_lsh_neighbors(e, "vec", key, k=5)
        assert nn.count() == 5


class TestSlicedIngest:
    def test_sliced_ingest_matches_oneshot(self, spark, tmp_path, monkeypatch):
        """Bounded-scratch chunked ingest (ensure_ingested slices>1)
        must produce byte-identical row_ids to the one-shot numbering:
        l_orderkey is the leading order column, so slice-local ranks +
        cumulative slice counts == the global rank."""
        import scdataset_spark.catalog as cat
        from tests.conftest import SF_DIR_SMALL

        monkeypatch.setattr(
            cat, "ingest_dir", lambda sf_dir, parts=None: str(tmp_path / "ingest")
        )
        cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("lineitem",), slices=4)
        sliced = spark.read.parquet(str(tmp_path / "ingest" / "lineitem.parquet"))
        oneshot = cat.load_table(
            spark, "lineitem", SF_DIR_SMALL, with_row_id=True, use_ingested=False
        )
        cols = sorted(oneshot.columns)
        a = sorted(map(tuple, sliced.select(*cols).collect()))
        b = sorted(map(tuple, oneshot.select(*cols).collect()))
        assert a == b
        # partial-crash safety: _SUCCESS exists only because ALL slices landed
        import os
        files = os.listdir(str(tmp_path / "ingest" / "lineitem.parquet"))
        assert "_SUCCESS" in files
        assert {f.split("-")[0] for f in files if f.startswith("slice")} == {
            f"slice{s:04d}" for s in range(4)
        }

    def test_sliced_ingest_served_by_load_table(self, spark, tmp_path, monkeypatch):
        import scdataset_spark.catalog as cat
        from tests.conftest import SF_DIR_SMALL

        monkeypatch.setattr(
            cat, "ingest_dir", lambda sf_dir, parts=None: str(tmp_path / "ingest")
        )
        cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("lineitem",), slices=3)
        served = cat.load_table(spark, "lineitem", SF_DIR_SMALL)
        n = served.count()
        assert n > 0
        # row_id is a dense 0..n-1 sequence after stitching
        row = served.agg(
            {"row_id": "min"}
        ).collect()[0]
        assert row[0] == 0
        assert served.agg({"row_id": "max"}).collect()[0][0] == n - 1
        assert served.select("row_id").distinct().count() == n


class TestIngestCacheKey:
    def test_key_is_the_absolute_normalised_path(self, tmp_path, monkeypatch):
        from scdataset_spark.catalog import ingest_dir

        a, b = str(tmp_path / "a" / "sf0.1"), str(tmp_path / "b" / "sf0.1")
        assert ingest_dir(a, 8) != ingest_dir(b, 8)
        assert ingest_dir(a, 8) == ingest_dir(str(tmp_path / "a" / "." / "sf0.1") + "/", 8)
        monkeypatch.chdir(tmp_path)
        assert ingest_dir(os.path.join("a", "sf0.1"), 8) == ingest_dir(a, 8)

    def test_same_basename_datasets_read_their_own_ingest(self, spark, tmp_path):
        """Two sources named alike must not share the ingest cache: the
        second one would silently be served the first one's rows."""
        import pyarrow.parquet as pq

        from scdataset_spark.catalog import ensure_ingested, ingest_dir, ingest_parts

        full = pq.read_table(os.path.join(SF_DIR_SMALL, "lineitem.parquet"))
        srcs = {n: tmp_path / side / "sf0.1" for side, n in (("a", 100), ("b", 250))}
        outs = [ingest_dir(str(d), ingest_parts(spark)) for d in srcs.values()]
        try:
            for n, d in srcs.items():
                d.mkdir(parents=True)
                pq.write_table(full.slice(0, n), str(d / "lineitem.parquet"))
                ensure_ingested(spark, str(d), tables=("lineitem",))
            for n, d in srcs.items():
                assert load_table(spark, "lineitem", str(d)).count() == n
        finally:
            for out in outs:
                shutil.rmtree(out, ignore_errors=True)


class TestIngestedServing:
    def test_no_row_id_read_matches_raw(self, spark):
        ensure_ingested(spark, SF_DIR_SMALL)
        raw = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False, use_ingested=False)
        served = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False)
        assert served.columns == raw.columns
        assert served.count() == raw.count()
        a = sorted(map(tuple, raw.select("l_orderkey", "l_linenumber", "l_extendedprice").collect()))
        b = sorted(map(tuple, served.select("l_orderkey", "l_linenumber", "l_extendedprice").collect()))
        assert a == b

    def test_events_types_survive_ingest(self, spark):
        ensure_ingested(spark, SF_DIR_SMALL)
        raw = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False, use_ingested=False)
        served = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        assert dict(served.dtypes)["ts"] == dict(raw.dtypes)["ts"]
        assert served.agg(F.min("ts"), F.max("ts")).collect() == raw.agg(
            F.min("ts"), F.max("ts")
        ).collect()


class TestIngestPublish:
    """The ingest stages every chunk privately and publishes the table
    with one rename: no partial or doubled table is ever served."""

    @staticmethod
    def _rows(df):
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    def test_concurrent_ingests_serve_one_table(self, spark, tmp_path, monkeypatch):
        import threading

        import scdataset_spark.catalog as cat

        monkeypatch.setattr(
            cat, "ingest_dir", lambda sf_dir, parts=None: str(tmp_path / "ingest")
        )
        # both callers pass the _SUCCESS check before either one writes
        both_checked = threading.Barrier(2, timeout=120)
        parts = cat.table_ingest_parts

        def parts_after_both_checked(df):
            both_checked.wait()
            return parts(df)

        monkeypatch.setattr(cat, "table_ingest_parts", parts_after_both_checked)
        errors = []

        def ingest():
            try:
                cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("lineitem",))
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(e)

        threads = [threading.Thread(target=ingest) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not any(t.is_alive() for t in threads) and errors == []
        assert os.listdir(tmp_path / "ingest") == ["lineitem.parquet"]
        served = spark.read.parquet(str(tmp_path / "ingest" / "lineitem.parquet"))
        oneshot = load_table(spark, "lineitem", SF_DIR_SMALL, use_ingested=False)
        assert self._rows(served) == self._rows(oneshot)

    def test_failed_slice_leaves_nothing_served(self, spark, tmp_path, monkeypatch):
        from pyspark.sql.readwriter import DataFrameWriter

        import scdataset_spark.catalog as cat

        root = tmp_path / "ingest"
        monkeypatch.setattr(cat, "ingest_dir", lambda sf_dir, parts=None: str(root))
        write, calls = DataFrameWriter.parquet, []

        def second_write_fails(self, *args, **kwargs):
            calls.append(args)
            if len(calls) == 2:
                raise RuntimeError("injected failure in the second slice")
            return write(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
        with pytest.raises(RuntimeError, match="injected"):
            cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("lineitem",), slices=4)
        assert not os.path.exists(root / "lineitem.parquet")
        assert os.listdir(root) == []  # the staging copy is gone too
        cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("lineitem",), slices=4)
        served = load_table(spark, "lineitem", SF_DIR_SMALL)
        oneshot = load_table(spark, "lineitem", SF_DIR_SMALL, use_ingested=False)
        assert self._rows(served) == self._rows(oneshot)

    def test_pooled_ingest_keeps_the_job_group(self, spark, tmp_path, monkeypatch):
        import scdataset_spark.catalog as cat

        monkeypatch.setattr(
            cat, "ingest_dir", lambda sf_dir, parts=None: str(tmp_path / "ingest")
        )
        sc = spark.sparkContext
        sc.setJobGroup("ingest-job-group-probe", "pooled ingest")
        try:
            cat.ensure_ingested(spark, SF_DIR_SMALL, tables=("orders", "events"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        assert sc.statusTracker().getJobIdsForGroup("ingest-job-group-probe")
