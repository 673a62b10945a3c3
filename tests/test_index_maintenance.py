"""Persisted ANN/PQ/band indexes: build, append, probe, rebuild and
compaction, the ingest-batch verbs (novel, semantic, ANN), their
run-id replay guards, batch-tag migration and the maintenance lock."""

from __future__ import annotations

import glob
import os
import socket
import warnings

import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from tests._helpers import cand_queries, cands, plan_text
from tests.conftest import SF_DIR, SF_DIR_SMALL


def _forge_int32_batch_tags(spark, path, part_col, sort_cols):
    """Rewrite a persisted index/sidecar with INT32 batch ids — the
    pre-r14 on-disk layout."""
    import shutil

    legacy = spark.read.parquet(path).withColumn(
        "batch_id", F.col("batch_id").cast("int")
    )
    tmp = f"{path}__legacyforge"
    (
        legacy.repartition(part_col).sortWithinPartitions(*sort_cols)
        .write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    )
    shutil.rmtree(path)
    shutil.move(tmp, path)
    assert dict(spark.read.parquet(path).dtypes)["batch_id"] == "int"


class TestPersistedAnnIndex:
    def test_probe_equals_inline_ivf(self, spark, tmp_path):
        """The persisted-index probe must return row-identical results
        to the inline ivf_seeded_topk at the same build parameters —
        the layout changes WHERE the cells live, never the answer."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
            ivf_seeded_topk,
        )

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=8, seed=11, vectorized_assign=False)
        probe = sorted(
            map(tuple, ann_index_topk(spark, path, q, k=3, n_probe=2).collect())
        )
        inline = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=8, n_probe=2, seed=11,
                    vectorized_assign=False,
                ).collect(),
            )
        )
        assert probe == inline and probe

    def test_probe_prunes_partitions(self, spark, tmp_path):
        """The probe's cell scan must carry a PartitionFilters entry on
        the probed set (skipped directories, not a post-scan filter),
        and reading a single query's cells must touch fewer input files
        than the full index holds."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
        )

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=8, seed=11, vectorized_assign=False)
        one_q = q.where("q_id = 1")
        plan = plan_text(ann_index_topk(spark, path, one_q, k=3, n_probe=2))
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cell" in m.group(1), plan[:2000]
        # physical proof: the probed scan reads <= n_probe of 8 cells
        pruned = spark.read.parquet(f"{path}/cells").where(
            F.col("cell").isin([0, 1])
        )
        full = spark.read.parquet(f"{path}/cells")
        n_pruned = pruned.select(F.input_file_name()).distinct().count()
        n_full = full.select(F.input_file_name()).distinct().count()
        assert n_pruned < n_full


class TestAnnIndexAppend:
    def test_append_assigns_with_frozen_centroids_and_probes(self, spark, tmp_path):
        """Appending an increment must (a) assign every new vector the
        cell the STORED centroids dictate (the exact
        assign_nearest_cell contract against the read-back centroid
        frame), (b) grow the cells layout by exactly the increment,
        and (c) make appended vectors probe-visible (a query identical
        to an appended vector finds it at cosine 1, rank 1)."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            append_to_ann_index,
            assign_nearest_cell,
            build_ann_index,
        )

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        first = c.where("c_id % 2 = 0")
        second = c.where("c_id % 2 = 1")
        path = str(tmp_path / "idx")
        build_ann_index(first, path, n_clusters=8, seed=11, vectorized_assign=False)
        n_first = spark.read.parquet(f"{path}/cells").count()
        append_to_ann_index(second, path, vectorized_assign=False)
        cells = spark.read.parquet(f"{path}/cells")
        assert cells.count() == n_first + second.count()
        # (a) appended cells == direct assignment against stored centroids
        cent = spark.read.parquet(f"{path}/centroids")
        expected = {
            r["c_id"]: r["_cell"]
            for r in assign_nearest_cell(
                second.select("c_id", F.col("embedding").alias("_v")),
                cent, "c_id", "_v",
            ).collect()
        }
        got = {
            r["c_id"]: r["cell"]
            for r in cells.join(second.select("c_id"), "c_id", "left_semi").collect()
        }
        assert got == expected and got
        # (c) an appended vector is probe-visible at cosine 1
        probe_q = e.where("vec_id = 1").select(
            (F.col("vec_id") + 1_000_000).alias("q_id"), "embedding"
        )
        hits = ann_index_topk(spark, path, probe_q, k=1, n_probe=1).collect()
        assert hits and hits[0]["c_id"] == 1 and hits[0]["cosine"] >= 0.999999


class TestPersistedPqIndex:
    def test_probe_equals_inline_pq_topk(self, spark, tmp_path):
        """The persisted IVF-PQ probe (code lists + archive fetch) must
        return row-identical results to the inline pq_topk at the same
        build parameters."""
        from scdataset_spark.operators.similarity import (
            build_pq_index,
            pq_index_topk,
            pq_topk,
        )

        q, c = cand_queries(spark, SF_DIR_SMALL, 10), cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "pqidx")
        build_pq_index(
            c, path, n_clusters=8, dim=64, m=8, n_codes=16, seed=11,
            pq_seed=13, vectorized_encode=False, vectorized_assign=False,
        )
        probe = sorted(
            map(
                tuple,
                pq_index_topk(
                    spark, path, q, k=3, refine=3, n_probe=2, dim=64, m=8
                ).collect(),
            )
        )
        inline = sorted(
            map(
                tuple,
                pq_topk(
                    q, c, k=3, refine=3, n_clusters=8, n_probe=2,
                    dim=64, m=8, n_codes=16, seed=11, pq_seed=13,
                    vectorized_encode=False, vectorized_assign=False,
                ).collect(),
            )
        )
        assert probe == inline and probe

    def test_lists_carry_codes_not_vectors(self, spark, tmp_path):
        """The inverted lists must hold only (id, codes, cell) — the
        m-byte payload, never the raw vectors (those live in archive/
        and are fetched per refine·k row)."""
        from scdataset_spark.operators.similarity import build_pq_index

        c = cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "pqidx")
        build_pq_index(
            c, path, n_clusters=8, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        lists = spark.read.parquet(f"{path}/cells")
        assert sorted(lists.columns) == ["_codes", "c_id", "cell", "cell_group"]
        row = lists.first()
        assert len(row["_codes"]) == 8  # m codes per vector
        archive = spark.read.parquet(f"{path}/archive")
        assert sorted(archive.columns) == ["_v", "c_id"]


class TestCellGroupLayout:
    def test_grouped_dirs_probe_equals_inline(self, spark, tmp_path):
        """Past 1024 cells the index layout groups cells into bounded
        partition DIRECTORIES (cell_group) with the per-cell cut on
        row-group stats — the probe must still equal the inline IVF
        exactly, and the directory count must be the grouped one, not
        one-per-cell."""
        from scdataset_spark.operators.similarity import (
            _cell_group_size,
            ann_index_topk,
            build_ann_index,
            ivf_seeded_topk,
        )

        assert _cell_group_size(8) == 1 and _cell_group_size(5333) == 6
        # sf0.1 embeddings (2000 vectors) -> 2000 actual cells -> g=2:
        # the grouped-directory path genuinely fires (1000 dirs, two
        # cells per dir, per-cell cut on row-group stats)
        sf01 = os.path.join(os.path.dirname(SF_DIR_SMALL), "sf0.1")
        e = load_table(spark, "embeddings", sf01, with_row_id=False)
        q = e.where("vec_id < 10").select(F.col("vec_id").alias("q_id"), "embedding")
        c = e.select(F.col("vec_id").alias("c_id"), "embedding")
        path = str(tmp_path / "idx")
        build_ann_index(c, path, n_clusters=2000, seed=11, vectorized_assign=True)
        dirs = [d for d in os.listdir(f"{path}/cells") if d.startswith("cell_group=")]
        assert 0 < len(dirs) <= 1000 < 2000  # grouped, not one-per-cell
        probe = sorted(
            map(tuple, ann_index_topk(spark, path, q, k=3, n_probe=2).collect())
        )
        inline = sorted(
            map(
                tuple,
                ivf_seeded_topk(
                    q, c, k=3, n_clusters=2000, n_probe=2, seed=11,
                    vectorized_assign=True,
                ).collect(),
            )
        )
        assert probe == inline and probe


class TestPqIndexAppend:
    def test_append_encodes_with_frozen_codebook_and_probes(self, spark, tmp_path):
        """Appending an increment to a persisted IVF-PQ layout must
        (a) store EXACTLY the codes pq_encode produces under the
        STORED codebook (quantizer frozen at build time), (b) grow the
        archive by exactly the increment, and (c) make appended
        vectors probe-visible (a query identical to an appended vector
        finds it at cosine 1, rank 1 after the exact re-rank)."""
        from scdataset_spark.operators.similarity import (
            append_to_pq_index,
            build_pq_index,
            pq_encode,
            pq_index_topk,
        )

        c = cands(spark, SF_DIR_SMALL)
        buildset = c.where("c_id < 400")
        inc = c.where("c_id >= 400")
        path = str(tmp_path / "pq")
        build_pq_index(
            buildset, path, n_clusters=8, dim=64, m=8, n_codes=16,
            seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        n0 = spark.read.parquet(f"{path}/archive").count()
        append_to_pq_index(inc, path, dim=64, m=8)
        n1 = spark.read.parquet(f"{path}/archive").count()
        n_inc = inc.count()
        assert n_inc > 0 and n1 == n0 + n_inc

        # (a) encode contract under the stored codebook
        cb = spark.read.parquet(f"{path}/codebook")
        want = pq_encode(
            inc, "c_id", "embedding", 64, 8, 16, codebook=cb, vectorized=False
        )
        wm = {
            r["c_id"]: list(r["_codes"])
            for r in want.groupBy("c_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(subspace, code))),"
                    " s -> s.code)"
                ).alias("_codes")
            )
            .collect()
        }
        sm = {
            r["c_id"]: list(r["_codes"])
            for r in spark.read.parquet(f"{path}/cells")
            .where("c_id >= 400")
            .select("c_id", "_codes")
            .collect()
        }
        assert wm == sm and len(sm) == n_inc

        # (c) probe-visibility with exact re-rank
        some = inc.limit(1).collect()[0]
        qx = spark.createDataFrame(
            [(99999, some["embedding"])], "q_id bigint, embedding array<float>"
        )
        rows = pq_index_topk(
            spark, path, qx, k=3, refine=3, n_probe=2, n_queries=1
        ).collect()
        top = min(rows, key=lambda r: r["rank"])
        assert top["c_id"] == some["c_id"]
        assert abs(top["cosine"] - 1.0) < 1e-6

    def test_append_engine_resolves_from_stored_cell_count(self, spark, tmp_path, monkeypatch):
        """A sub-AUTO_SCALE_ROWS increment appended to an index with
        more than ROUTE_CELLS stored centroids must NOT take the HOF
        Catalyst-fold assignment (the measured GC wall past a few
        hundred centroids): the engine choice factors the STORED cell
        count, not just the increment size (round-11 ADVICE).  Applies
        to both append_to_ann_index and append_to_pq_index."""
        import scdataset_spark.operators.similarity as sim

        c = cands(spark, SF_DIR_SMALL)
        # 4k-vector fixture? sf0.001 has 500 — cap n_clusters accordingly:
        # anything > ROUTE_CELLS proves the flip; 500 centroids < 512,
        # so force ROUTE_CELLS down for the test instead of a huge build
        monkeypatch.setattr(sim, "ROUTE_CELLS", 64)
        path = str(tmp_path / "ann")
        sim.build_ann_index(
            c.where("c_id < 450"), path, n_clusters=128, seed=11,
            vectorized_assign=True,
        )

        def _boom(*a, **k):
            raise AssertionError(
                "HOF assignment chosen for a large-cell-count index"
            )

        monkeypatch.setattr(sim, "assign_nearest_cell", _boom)
        inc = c.where("c_id >= 450")
        sim.append_to_ann_index(inc, path)  # vectorized_assign=None resolves
        # PQ sibling under the same contract
        path2 = str(tmp_path / "pq")
        monkeypatch.undo()
        monkeypatch.setattr(sim, "ROUTE_CELLS", 64)
        sim.build_pq_index(
            c.where("c_id < 450"), path2, n_clusters=128, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=True,
        )
        monkeypatch.setattr(sim, "assign_nearest_cell", _boom)
        sim.append_to_pq_index(inc, path2)


class TestReservedIndexCols:
    def test_build_and_append_reject_reserved_ids(self, spark, tmp_path):
        """An id named like a layout column ('cell', 'cell_group',
        '_v', '_codes') would silently make the probe misread the
        stored schema — builds and appends must reject it up front
        (round-11 ADVICE)."""
        import pytest

        from scdataset_spark.operators.similarity import (
            append_to_ann_index,
            append_to_pq_index,
            build_ann_index,
            build_pq_index,
        )

        c = cands(spark, SF_DIR_SMALL)
        for bad in ("cell", "cell_group", "_v", "_codes"):
            renamed = c.withColumnRenamed("c_id", bad)
            with pytest.raises(ValueError, match="reserved"):
                build_ann_index(renamed, str(tmp_path / "x"), n_clusters=8,
                                cand_id=bad)
            with pytest.raises(ValueError, match="reserved"):
                build_pq_index(renamed, str(tmp_path / "x"), n_clusters=8,
                               cand_id=bad)
            with pytest.raises(ValueError, match="reserved"):
                append_to_ann_index(renamed, str(tmp_path / "x"), cand_id=bad)
            with pytest.raises(ValueError, match="reserved"):
                append_to_pq_index(renamed, str(tmp_path / "x"), cand_id=bad)


class TestProbeJoinFallback:
    def test_large_query_batch_drops_driver_pushdown(self, spark, tmp_path):
        """n_queries forced past AUTO_SCALE_ROWS must flip both probes
        from collected driver-side pushdown (PartitionFilters In(cell),
        archive isin) to plain distributed joins — identical rows, no
        driver lists, no broadcast of the corpus-sized routing frame."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
            build_pq_index,
            pq_index_topk,
        )

        e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
        q = e.where("vec_id < 10").select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        c = cands(spark, SF_DIR_SMALL)
        import re

        ann = str(tmp_path / "ann")
        build_ann_index(c, ann, n_clusters=8, seed=11, vectorized_assign=False)
        on = ann_index_topk(spark, ann, q, k=3, n_probe=2, n_queries=10)
        big = ann_index_topk(spark, ann, q, k=3, n_probe=2,
                             n_queries=10_000_000)
        p_on, p_big = plan_text(on), plan_text(big)
        assert re.search(r"PartitionFilters: \[[^\]]*cell", p_on)
        assert not re.search(r"PartitionFilters: \[[^\]]*cell", p_big)
        assert " IN " not in p_big.replace("\n", " ") or "cell#" not in p_big
        assert sorted(map(tuple, on.collect())) == sorted(
            map(tuple, big.collect())
        )

        pq = str(tmp_path / "pq")
        build_pq_index(
            c, pq, n_clusters=8, dim=64, m=8, n_codes=16, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        on2 = pq_index_topk(spark, pq, q, k=3, refine=3, n_probe=2,
                            n_queries=10)
        big2 = pq_index_topk(spark, pq, q, k=3, refine=3, n_probe=2,
                             n_queries=10_000_000)
        p_big2 = plan_text(big2)
        assert not re.search(r"PartitionFilters: \[[^\]]*cell", p_big2)
        # the archive scan carries no collected id-list filter
        assert not re.search(r"c_id#\d+L? IN \(", p_big2)
        assert sorted(map(tuple, on2.collect())) == sorted(
            map(tuple, big2.collect())
        )


class TestAnnIndexStats:
    def test_occupancy_tracks_appends_and_prunes_columns(self, spark, tmp_path):
        """ann_index_stats: (a) sums to the corpus size with every
        stored cell present, (b) reflects appends (total grows by the
        increment under frozen centroids), (c) reads ONLY the cell
        column — the scan's ReadSchema must not contain the vector
        payload (the monitor must stay cheap on a 100 TB index)."""
        from scdataset_spark.operators.similarity import (
            ann_index_stats,
            append_to_ann_index,
            build_ann_index,
        )

        c = cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "ann")
        build_ann_index(c.where("c_id < 400"), path, n_clusters=8, seed=11,
                        vectorized_assign=False)
        stats0 = ann_index_stats(spark, path)
        rows0 = stats0.collect()
        assert sum(r["n_vectors"] for r in rows0) == 400
        assert {r["cell"] for r in rows0} == set(range(8))
        append_to_ann_index(c.where("c_id >= 400"), path)
        rows1 = ann_index_stats(spark, path).collect()
        assert sum(r["n_vectors"] for r in rows1) == c.count()
        plan = plan_text(stats0)
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>.*cells", plan)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert any("cell" in s and "_v" not in s for s in schemas), plan
        assert all("_v" not in s for s in schemas), plan


class TestRebuildIndex:
    """rebuild_ann_index — the third lifecycle verb: a rebuild from
    the index's OWN storage must equal a fresh build over the current
    corpus, for both persisted layouts, and must re-resolve geometry
    from the current (post-append) corpus size."""

    def test_ann_rebuild_equals_fresh_build_on_union(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            append_to_ann_index,
            build_ann_index,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "ann")
        build_ann_index(
            c.where("c_id % 2 = 0"), path, n_clusters=8, seed=11,
            vectorized_assign=False,
        )
        append_to_ann_index(
            c.where("c_id % 2 = 1"), path, vectorized_assign=False
        )
        rebuild_ann_index(
            spark, path, f"{path}__rb", n_clusters=8, seed=11,
            vectorized_assign=False,
        )
        fresh = str(tmp_path / "ann_fresh")
        build_ann_index(c, fresh, n_clusters=8, seed=11, vectorized_assign=False)

        q = c.where("c_id < 20").select(
            F.col("c_id").alias("q_id"), "embedding"
        )
        got = sorted(
            map(tuple, ann_index_topk(
                spark, f"{path}__rb", q, k=3, n_probe=2, n_queries=20
            ).collect())
        )
        want = sorted(
            map(tuple, ann_index_topk(
                spark, fresh, q, k=3, n_probe=2, n_queries=20
            ).collect())
        )
        assert got == want and len(got) > 0

    def test_pq_rebuild_equals_fresh_build_on_union(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            append_to_pq_index,
            build_pq_index,
            pq_index_topk,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR_SMALL)
        path = str(tmp_path / "pq")
        kw = dict(
            n_clusters=8, dim=64, m=8, n_codes=16, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        build_pq_index(c.where("c_id < 400"), path, **kw)
        append_to_pq_index(
            c.where("c_id >= 400"), path, dim=64, m=8,
            vectorized_encode=False, vectorized_assign=False,
        )
        # n_codes defaults to the stored codebook's size (16)
        rebuild_ann_index(
            spark, path, f"{path}__rb", n_clusters=8, seed=11, pq_seed=13,
            vectorized_assign=False, vectorized_encode=False,
        )
        fresh = str(tmp_path / "pq_fresh")
        build_pq_index(c, fresh, **kw)

        q = c.where("c_id < 20").select(
            F.col("c_id").alias("q_id"), "embedding"
        )
        got = sorted(
            map(tuple, pq_index_topk(
                spark, f"{path}__rb", q, k=3, refine=3, n_probe=2,
                n_queries=20,
            ).collect())
        )
        want = sorted(
            map(tuple, pq_index_topk(
                spark, fresh, q, k=3, refine=3, n_probe=2, n_queries=20
            ).collect())
        )
        assert got == want and len(got) > 0

    def test_rebuild_reresolves_cells_from_current_corpus(self, spark, tmp_path):
        """buckets geometry is re-resolved: an index built with a
        pinned tiny cell count rebuilds (n_clusters=None) to the
        auto-resolved count for the CURRENT corpus — the floor of 8,
        not the stored 2."""
        from scdataset_spark.operators.similarity import (
            build_ann_index,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR_SMALL).where("c_id < 200")
        path = str(tmp_path / "tiny")
        build_ann_index(c, path, n_clusters=2, seed=11, vectorized_assign=False)
        assert spark.read.parquet(f"{path}/centroids").count() == 2
        rebuild_ann_index(
            spark, path, f"{path}__rb", n_clusters=None,
            vectorized_assign=False,
        )
        assert spark.read.parquet(f"{path}__rb/centroids").count() == 8

    def test_rebuild_rejects_in_place_overwrite(self, spark, tmp_path):
        import pytest

        from scdataset_spark.operators.similarity import (
            build_ann_index,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR_SMALL).where("c_id < 100")
        path = str(tmp_path / "x")
        build_ann_index(c, path, n_clusters=2, seed=11, vectorized_assign=False)
        with pytest.raises(ValueError, match="fresh out_path"):
            rebuild_ann_index(spark, path, path + "/", n_clusters=2)


class TestAnnRecall:
    def test_recall_counts_and_denominator(self, spark):
        """hits = |ann ∩ exact| per query; denominator is the per-query
        EXACT size (not k), and a query the ANN missed entirely still
        reports at recall 0 (exact side drives the output rows)."""
        from scdataset_spark.operators.similarity import ann_recall

        ann = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "q_id int, c_id int"
        )
        exact = spark.createDataFrame(
            [(1, 10), (1, 12), (2, 21), (3, 30), (3, 31)],
            "q_id int, c_id int",
        )
        rows = {r.q_id: r for r in ann_recall(ann, exact).collect()}
        assert rows[1].hits == 1 and rows[1].n_exact == 2
        assert abs(rows[1].recall - 0.5) < 1e-9
        assert rows[2].hits == 0 and rows[2].n_exact == 1
        assert rows[3].hits == 0 and rows[3].n_exact == 2
        assert rows[3].recall == 0.0
        assert set(rows) == {1, 2, 3}


class TestMaintenanceLock:
    def test_acquire_release_roundtrip(self, tmp_path):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )

        idx = str(tmp_path / "idx")
        os.makedirs(idx)
        lock = acquire_maintenance_lock(idx, "delivery")
        assert lock and os.path.isdir(lock)
        with pytest.raises(RuntimeError, match="in-flight delivery"):
            acquire_maintenance_lock(idx, "compaction")
        release_maintenance_lock(lock)
        assert not os.path.exists(lock)
        lock2 = acquire_maintenance_lock(idx, "compaction")
        release_maintenance_lock(lock2)

    def test_missing_index_dir_skips_locking(self, tmp_path):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )

        assert acquire_maintenance_lock(str(tmp_path / "nope"), "delivery") is None
        release_maintenance_lock(None)  # no-op

    def test_dead_same_host_owner_is_reclaimed(self, tmp_path):
        import socket

        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )

        idx = str(tmp_path / "idx")
        os.makedirs(idx)
        lock = acquire_maintenance_lock(idx, "delivery")
        # forge a dead owner: pids this high are never alive
        with open(os.path.join(lock, "owner"), "w") as f:
            f.write(f"{socket.gethostname()}\n99999999\ndelivery\n")
        lock2 = acquire_maintenance_lock(idx, "compaction")
        assert lock2
        release_maintenance_lock(lock2)

    def test_foreign_host_owner_is_not_reclaimed(self, tmp_path):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
        )

        idx = str(tmp_path / "idx")
        os.makedirs(idx)
        lock = acquire_maintenance_lock(idx, "delivery")
        with open(os.path.join(lock, "owner"), "w") as f:
            f.write("some-other-host\n1\ndelivery\n")
        with pytest.raises(RuntimeError, match="delete the lock"):
            acquire_maintenance_lock(idx, "compaction")
        # cleanup for tmp_path teardown
        os.remove(os.path.join(lock, "owner"))
        os.rmdir(lock)

    def test_band_compaction_refuses_during_delivery(self, spark, tmp_path):
        """The race ADVICE r13 #4 names: a compaction starting while a
        delivery is in flight.  Simulated by running the compaction
        from INSIDE the delivery's sink callback — exactly the window
        between the delivery's precompact check and its append."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators import dedup as dd

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)

        def sink(novel):
            with pytest.raises(RuntimeError, match="in-flight delivery"):
                dd.compact_band_index(spark, path)

        ingest = dd.novel_ingest_batches(path, sink=sink)
        ingest(docs.where("doc_id % 10 = 8"), 0)
        # after the delivery returns, compaction proceeds normally
        rep = dd.compact_band_index(spark, path).first()
        assert rep.n_rows > 0
        assert not os.path.exists(f"{path}__maintenance_lock")

    def test_ann_delivery_refuses_during_compaction_lock(self, spark, tmp_path):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )
        from scdataset_spark.operators.similarity import (
            ann_ingest_batches,
            build_ann_index,
        )
        from scdataset_spark.catalog import load_table

        e = load_table(spark, "embeddings", SF_DIR, with_row_id=False).select(
            F.col("vec_id").alias("c_id"), "embedding"
        )
        path = str(tmp_path / "ann")
        build_ann_index(e.where("c_id % 4 = 0"), path, n_clusters=4, seed=7)
        lock = acquire_maintenance_lock(path, "compaction")
        ingest = ann_ingest_batches(path)
        with pytest.raises(RuntimeError, match="in-flight compaction"):
            ingest(e.where("c_id % 4 = 1"), 0)
        release_maintenance_lock(lock)
        ingest(e.where("c_id % 4 = 1"), 0)  # proceeds once released
        assert not os.path.exists(f"{path}__maintenance_lock")


class TestNovelIngestRunId:
    def _docs(self, spark):
        from scdataset_spark.catalog import load_table

        return load_table(spark, "documents", SF_DIR, with_row_id=False)

    def test_fresh_checkpoint_batch0_dedups_against_prior_run(
        self, spark, tmp_path
    ):
        """Without run_id, a restarted stream with a fresh checkpoint
        reuses batch_id 0 and the replay guard silently excludes the
        PREVIOUS run's batch-0 novels from the probe (their dups sail
        through).  With distinct run_ids the second run's batch 0 sees
        run 1's novels as history."""
        from scdataset_spark.operators import dedup as dd

        docs = self._docs(spark)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        got: dict[str, set] = {}

        def sink_for(key):
            def _s(novel):
                got[key] = {r.doc_id for r in novel.collect()}

            return _s

        delivery = docs.where("doc_id % 10 = 8")
        # run 1, batch 0: ingest the delivery's novels
        dd.novel_ingest_batches(path, sink_for("run1"), run_id="ckpt-A")(
            delivery, 0
        )
        # run 2 (FRESH checkpoint id), batch 0, SAME docs re-delivered:
        # everything collides with run 1's appended bands -> zero novel
        dd.novel_ingest_batches(path, sink_for("run2"), run_id="ckpt-B")(
            delivery, 0
        )
        assert len(got["run1"]) > 0
        assert got["run2"] == set()

    def test_same_run_replay_still_self_excludes(self, spark, tmp_path):
        """A true replay (same run_id, same batch_id) must NOT collide
        with its own earlier partial append — same novels re-emitted."""
        from scdataset_spark.operators import dedup as dd

        docs = self._docs(spark)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        got: list[set] = []
        ingest = dd.novel_ingest_batches(
            path, lambda df: got.append({r.doc_id for r in df.collect()}),
            run_id="ckpt-A",
        )
        delivery = docs.where("doc_id % 10 = 8")
        ingest(delivery, 0)
        ingest(delivery, 0)  # replay of the SAME delivery
        assert got[1] == got[0]


class TestSemanticIngestBatches:
    """semantic_ingest_batches (r14): the embedding-cosine sibling of
    novel_ingest_batches — screen each delivery against the persisted
    ANN index, sink novels, append only novels."""

    def _corpus(self, spark):
        from scdataset_spark.queries.llm import emb_corpus

        return emb_corpus(spark, SF_DIR)

    def _build(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import build_ann_index

        c = self._corpus(spark)
        base = c.where("vec_id < 1000000 AND vec_id % 10 <= 3")
        path = str(tmp_path / "semann")
        build_ann_index(base, path, n_clusters=8, seed=11,
                        cand_id="vec_id", vec="v", vectorized_assign=False)
        return c, path

    def _ingestor(self, got, path, **kw):
        from scdataset_spark.operators.similarity import (
            semantic_ingest_batches,
        )

        return semantic_ingest_batches(
            path,
            sink=lambda df: got.append({r.vec_id for r in df.collect()}),
            threshold=0.98, n_probe=2, cand_id="vec_id", vec="v", **kw,
        )

    def test_cumulative_screen_and_base_dedup(self, spark, tmp_path):
        """Delivery 1: replicas of base vectors collide, new vectors are
        novel.  Delivery 2: replicas of delivery 1's NOVELS collide —
        only possible because delivery 1's kept vectors were appended."""
        c, path = self._build(spark, tmp_path)
        got = []
        ingest = self._ingestor(got, path)
        d1 = c.where(
            "(vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 0)"
            " OR (vec_id < 1000000 AND vec_id % 10 = 5)"
        )
        d2 = c.where(
            "(vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 5)"
            " OR (vec_id < 1000000 AND vec_id % 10 IN (6, 7))"
        )
        ingest(d1, 0)
        ingest(d2, 1)
        originals_d1 = {r.vec_id for r in d1.where("vec_id < 1000000").collect()}
        replicas_d1 = {r.vec_id for r in d1.where("vec_id >= 1000000").collect()}
        # every genuinely-new vector is novel (the screen can only have
        # false NEGATIVES on dups, never drop a true novel) ...
        assert originals_d1 <= got[0]
        # ... and >= 90% of the planted base replicas are screened out
        # (IVF bounded recall at n_probe=2: a replica routed entirely
        # outside its original's probed cells is legitimately missed —
        # the oracle replays the same approximation, so correctness is
        # exact parity while recall is a measured contract)
        leaked1 = got[0] & replicas_d1
        assert replicas_d1 and len(leaked1) <= len(replicas_d1) * 0.1
        originals_d2 = {r.vec_id for r in d2.where("vec_id < 1000000").collect()}
        replicas_of_n1 = {r.vec_id for r in d2.where("vec_id >= 1000000").collect()}
        assert originals_d2 <= got[1]
        # cumulative: replicas of DELIVERY 1 novels collide only because
        # delivery 1's kept vectors were appended
        leaked2 = got[1] & replicas_of_n1
        assert replicas_of_n1 and len(leaked2) <= len(replicas_of_n1) * 0.1

    def test_streamed_equals_direct(self, spark, tmp_path):
        """availableNow deliveries through foreachBatch reach the same
        per-delivery novel sets as direct callback invocations."""
        c, path = self._build(spark, tmp_path)
        inc = c.where(
            "(vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 0)"
            " OR (vec_id < 1000000 AND vec_id % 10 = 5)"
        )
        src = str(tmp_path / "increments")
        inc.where("vec_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(src)
        inc.where("vec_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
        got_stream = []
        q = (
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(self._ingestor(got_stream, path))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        # direct twin on a fresh index (deliveries split the same way;
        # stream delivery order follows file order)
        c2, path2 = self._build(spark, tmp_path / "twin")
        got_direct = []
        ingest = self._ingestor(got_direct, path2)
        ingest(inc.where("vec_id % 2 = 0"), 0)
        ingest(inc.where("vec_id % 2 = 1"), 1)
        assert set().union(*got_stream) == set().union(*got_direct)
        assert sorted(map(len, got_stream)) == sorted(map(len, got_direct))

    def test_replay_reemits_identical_novels(self, spark, tmp_path):
        """A delivery containing an original AND its near-replica: both
        are novel on first attempt (the screen probes the INDEX, not the
        delivery).  On replay, the sidecar batch-tag exclusion must hide
        the delivery's own committed append, re-emitting the identical
        set — without it the replica would collide with its own
        delivery's original."""
        c, path = self._build(spark, tmp_path)
        got = []
        ingest = self._ingestor(got, path, run_id="ckpt-A")
        pair = c.where(
            "(vec_id < 1000000 AND vec_id % 10 = 5)"
            " OR (vec_id >= 1000000 AND (vec_id - 1000000) % 10 = 5)"
        )
        ingest(pair, 0)
        assert len(got[0]) == pair.count()  # both halves novel
        ingest(pair, 0)  # true replay: same run, same batch
        assert got[1] == got[0]

    def test_fresh_run_batch0_sees_prior_history(self, spark, tmp_path):
        """run-id namespacing: a NEW checkpoint's batch 0 must dedup
        against a previous run's batch-0 appends."""
        c, path = self._build(spark, tmp_path)
        got = []
        d1 = c.where("vec_id < 1000000 AND vec_id % 10 = 5")
        self._ingestor(got, path, run_id="ckpt-A")(d1, 0)
        self._ingestor(got, path, run_id="ckpt-B")(d1, 0)
        assert len(got[0]) > 0 and got[1] == set()

    def test_pq_layout_refused(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import build_pq_index

        c = self._corpus(spark).where("vec_id < 1000000 AND vec_id % 10 <= 3")
        path = str(tmp_path / "pq")
        build_pq_index(c, path, n_clusters=4, dim=64, m=8, seed=11,
                       cand_id="vec_id", vec="v")
        got = []
        with pytest.raises(ValueError, match="PQ layout"):
            self._ingestor(got, path)(self._corpus(spark).where(
                "vec_id < 1000000 AND vec_id % 10 = 5"), 0)


class TestIngestLifecycleExample:
    def test_decide_loop_end_to_end(self, spark, tmp_path):
        """The WHEN-to-compact decision contract across all three
        persisted ingest indexes (examples/ingest_index_lifecycle.py):
        after n deliveries the files-per-dir signal crosses the
        documented threshold (due=True), compaction resets it
        (due=False), and the read surface is unchanged (gate keys,
        band rows, ANN probe results)."""
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "ingest_index_lifecycle",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "examples", "ingest_index_lifecycle.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        trace = mod.run(spark, str(tmp_path), log=lambda *_: None)
        for fam in ("gate", "band", "ann"):
            assert trace[fam]["due_before"], fam
            assert not trace[fam]["due_after"], fam
            assert trace[fam]["fpd_after"] <= 1.0, fam
        assert trace["ann"]["probe_identical"]
        assert trace["ann"]["probe_rows"] > 0
        assert trace["gate"]["keys"] > 0 and trace["band"]["rows"] > 0


class TestBatchTagMigration:
    def test_compaction_normalizes_legacy_int32_band_index(
        self, spark, tmp_path
    ):
        """Migration contract: a pre-r14 band index stores batch_id as
        INT32; post-r14 namespaced appends write BIGINT, and parquet
        refuses a cross-file type change.  One compaction rewrites the
        legacy files to BIGINT, after which tagged appends and probes
        work."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators import dedup as dd

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        # forge the legacy layout: rewrite the index with INT32 batch ids
        legacy = spark.read.parquet(path).withColumn(
            "batch_id", F.col("batch_id").cast("int")
        )
        import shutil

        tmp = str(tmp_path / "legacy")
        (
            legacy.repartition("_bb").sortWithinPartitions("_bb", "band_sig")
            .write.mode("overwrite").partitionBy("_bb").parquet(tmp)
        )
        shutil.rmtree(path)
        shutil.move(tmp, path)
        assert dict(spark.read.parquet(path).dtypes)["batch_id"] == "int"
        # the migration: one compaction
        dd.compact_band_index(spark, path)
        assert dict(spark.read.parquet(path).dtypes)["batch_id"] == "bigint"
        # namespaced (BIGINT-tagged) ingest now appends and probes cleanly
        got: list[set] = []
        ingest = dd.novel_ingest_batches(
            path, lambda df: got.append({r.doc_id for r in df.collect()}),
            run_id="ckpt-A",
        )
        ingest(docs.where("doc_id % 10 = 8"), 0)
        ingest(docs.where("doc_id % 10 = 8"), 1)  # all dup now
        assert len(got[0]) > 0 and got[1] == set()
        spark.read.parquet(path).count()  # mixed-type read would throw


class TestReclaimRaceGuard:
    """ADVICE r14 (medium): two contenders can both observe the same
    dead owner; the slower one's unconditional rename would yank the
    faster one's freshly re-acquired LIVE lock aside and rmtree it —
    both then "hold" the lock.  The reclaim must re-verify, after its
    atomic rename, that it renamed the lock it inspected."""

    def _forge_dead_lock(self, tmp_path):
        from scdataset_spark.operators import _maintenance as mm

        idx = str(tmp_path / "idx")
        os.makedirs(idx)
        lock = idx + mm.LOCK_SUFFIX
        os.mkdir(lock)
        with open(os.path.join(lock, "owner"), "w") as f:
            # pids this high are never alive
            f.write(f"{socket.gethostname()}\n99999999\ndelivery\n")
        return idx, lock

    def test_reclaim_race_restores_live_lock(self, tmp_path, monkeypatch):
        """Simulate the exact interleaving: between OUR liveness probe
        and OUR rename, the other contender reclaims and re-acquires —
        the path now holds its LIVE lock.  The post-rename owner check
        must put it back and surface the standard in-flight error, not
        destroy it."""
        from scdataset_spark.operators import _maintenance as mm

        idx, lock = self._forge_dead_lock(tmp_path)
        real_rename = os.rename

        def racy_rename(src, dst):
            if src == lock and ".stale." in str(dst):
                # the other contender won the reclaim and re-acquired:
                # what we are about to rename is now a LIVE lock
                with open(os.path.join(lock, "owner"), "w") as f:
                    f.write(
                        f"{socket.gethostname()}\n{os.getpid()}\ndelivery\n"
                    )
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", racy_rename)
        with pytest.raises(RuntimeError, match="in-flight delivery"):
            mm.acquire_maintenance_lock(idx, "compaction")
        # the live lock survived intact, and no stale debris remains
        assert os.path.isdir(lock)
        with open(os.path.join(lock, "owner")) as f:
            assert f.read().split("\n")[1] == str(os.getpid())
        assert not [p for p in os.listdir(tmp_path) if ".stale." in p]

    def test_mid_acquisition_lock_is_restored(self, tmp_path, monkeypatch):
        """A renamed-aside dir whose owner file is not readable (the
        other contender was BETWEEN mkdir and its owner write) is not
        provably the inspected stale lock — restore it, never rmtree."""
        from scdataset_spark.operators import _maintenance as mm

        idx, lock = self._forge_dead_lock(tmp_path)
        real_rename = os.rename

        def racy_rename(src, dst):
            if src == lock and ".stale." in str(dst):
                os.remove(os.path.join(lock, "owner"))
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", racy_rename)
        with pytest.raises(RuntimeError, match="delete the lock"):
            mm.acquire_maintenance_lock(idx, "compaction")
        assert os.path.isdir(lock)  # restored, not destroyed

    def test_plain_dead_owner_reclaim_still_works(self, tmp_path):
        """The no-race path is unchanged: a genuinely dead same-host
        owner is reclaimed and the caller acquires."""
        from scdataset_spark.operators import _maintenance as mm

        idx, lock = self._forge_dead_lock(tmp_path)
        got = mm.acquire_maintenance_lock(idx, "compaction")
        assert got == lock and os.path.isdir(lock)
        mm.release_maintenance_lock(got)


class TestLegacyDtypeEnforcement:
    """ADVICE r14: the 'compact once before resuming ingest' migration
    was documented but unenforced — an append onto a pre-r14 INT32
    index poisons the directory with mixed types, and the failure (and
    possibly the migration itself) only surfaces at the NEXT read.
    Every ingest path must now refuse PRE-append, with the hint."""

    def test_band_ingest_refuses_pre_append(self, spark, tmp_path):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators import dedup as dd

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        _forge_int32_batch_tags(spark, path, "_bb", ["_bb", "band_sig"])
        ingest = dd.novel_ingest_batches(
            path, sink=lambda df: df.count(), run_id="ckpt-A"
        )
        with pytest.raises(RuntimeError, match="compact_band_index"):
            ingest(docs.where("doc_id % 10 = 8"), 0)
        # nothing was appended: the directory is still uniformly INT32
        # and still readable (the failure arrived BEFORE the poison)
        assert dict(spark.read.parquet(path).dtypes)["batch_id"] == "int"
        # the documented migration still works from this state
        dd.compact_band_index(spark, path)
        ingest(docs.where("doc_id % 10 = 8"), 0)  # now clean

    def test_unique_gate_refuses_pre_append(self, spark, tmp_path):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.streaming.events import unique_gate_batches

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        idx_dir = str(tmp_path / "uniqidx")
        gate = unique_gate_batches(["doc_id"], lambda df: None, idx_dir)
        gate(docs.where("doc_id % 10 = 0"), 0)
        path = f"{idx_dir}/doc_id"
        _forge_int32_batch_tags(spark, path, "_kb", ["_kb", "_k"])
        with pytest.raises(RuntimeError, match="compact_unique_index"):
            gate(docs.where("doc_id % 10 = 1"), 1)
        assert dict(spark.read.parquet(path).dtypes)["batch_id"] == "int"

    def test_ann_sidecar_refuses_pre_append(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            ann_ingest_batches,
            build_ann_index,
        )
        from scdataset_spark.catalog import load_table

        e = load_table(spark, "embeddings", SF_DIR, with_row_id=False).select(
            F.col("vec_id").alias("c_id"), "embedding"
        )
        path = str(tmp_path / "ann")
        build_ann_index(e.where("c_id % 4 = 0"), path, n_clusters=4, seed=7)
        ingest = ann_ingest_batches(path)
        ingest(e.where("c_id % 4 = 1"), 0)  # creates the sidecar
        side = f"{path}/_ingested_ids"
        _forge_int32_batch_tags(spark, side, "_kb", ["_kb", "_k"])
        with pytest.raises(RuntimeError, match="compact_ann_index"):
            ingest(e.where("c_id % 4 = 2"), 1)
        assert dict(spark.read.parquet(side).dtypes)["batch_id"] == "int"


class TestLegacyRunIdWarning:
    """ADVICE r14: run_id=None keeps the cross-lineage replay-guard
    hole as the silent default.  The first delivery of a None-run_id
    callback instance now warns when the index already holds rows
    tagged with its raw batch id (ambiguous with a true replay — the
    warning says so); passing run_id stays silent."""

    def test_band_ingest_warns_once_on_tag_collision(self, spark, tmp_path):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators import dedup as dd

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        # prior lineage (also legacy): its batch 0 appends land with tag 0
        dd.novel_ingest_batches(path, sink=lambda df: df.count())(
            docs.where("doc_id % 10 = 8"), 0
        )
        # fresh lineage restarts at batch 0 → tag collision → warn
        ingest2 = dd.novel_ingest_batches(path, sink=lambda df: df.count())
        with pytest.warns(UserWarning, match="run_id"):
            ingest2(docs.where("doc_id % 10 = 9"), 0)
        # once per callback instance: the next delivery is silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            ingest2(docs.where("doc_id % 10 = 9"), 1)

    def test_namespaced_ingest_never_warns(self, spark, tmp_path):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators import dedup as dd

        docs = load_table(spark, "documents", SF_DIR, with_row_id=False)
        path = str(tmp_path / "bandidx")
        dd.write_band_index(docs.where("doc_id % 10 < 8"), path)
        dd.novel_ingest_batches(
            path, sink=lambda df: df.count(), run_id="ckpt-A"
        )(docs.where("doc_id % 10 = 8"), 0)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            dd.novel_ingest_batches(
                path, sink=lambda df: df.count(), run_id="ckpt-B"
            )(docs.where("doc_id % 10 = 9"), 0)

    def test_semantic_ingest_warns_on_tag_collision(self, spark, tmp_path):
        from scdataset_spark.queries.llm import emb_corpus
        from scdataset_spark.operators.similarity import (
            build_ann_index,
            semantic_ingest_batches,
        )

        c = emb_corpus(spark, SF_DIR)
        base = c.where("vec_id < 1000000 AND vec_id % 10 <= 3")
        path = str(tmp_path / "semann")
        build_ann_index(base, path, n_clusters=8, seed=11,
                        cand_id="vec_id", vec="v", vectorized_assign=False)
        d1 = c.where("vec_id < 1000000 AND vec_id % 10 = 5")
        semantic_ingest_batches(
            path, sink=lambda df: df.count(), cand_id="vec_id", vec="v"
        )(d1, 0)
        d2 = c.where("vec_id < 1000000 AND vec_id % 10 = 6")
        with pytest.warns(UserWarning, match="run_id"):
            semantic_ingest_batches(
                path, sink=lambda df: df.count(), cand_id="vec_id", vec="v"
            )(d2, 0)


class TestSemanticIngestLockContract:
    """VERDICT r14 task 5: semantic_ingest_batches composes BOTH a
    probe and an append under ONE lock acquisition — a compaction
    attempt DURING a semantic delivery must be refused, a semantic
    delivery during a compaction must be refused, and the dead-owner
    reclaim path must work through the semantic verb."""

    def _build(self, spark, tmp_path):
        from scdataset_spark.queries.llm import emb_corpus
        from scdataset_spark.operators.similarity import build_ann_index

        c = emb_corpus(spark, SF_DIR)
        base = c.where("vec_id < 1000000 AND vec_id % 10 <= 3")
        path = str(tmp_path / "semann")
        build_ann_index(base, path, n_clusters=8, seed=11,
                        cand_id="vec_id", vec="v", vectorized_assign=False)
        return c, path

    def test_compaction_refused_during_semantic_delivery(
        self, spark, tmp_path
    ):
        from scdataset_spark.operators.similarity import (
            compact_ann_index,
            semantic_ingest_batches,
        )

        c, path = self._build(spark, tmp_path)
        hit = []

        def sink(novel):
            # we are INSIDE the delivery (lock held): compaction refused
            with pytest.raises(RuntimeError, match="in-flight delivery"):
                compact_ann_index(spark, path)
            hit.append(novel.count())

        ingest = semantic_ingest_batches(
            path, sink=sink, cand_id="vec_id", vec="v", run_id="ckpt-A"
        )
        ingest(c.where("vec_id < 1000000 AND vec_id % 10 = 5"), 0)
        assert hit and hit[0] > 0
        # lock released after the delivery: compaction proceeds
        assert compact_ann_index(spark, path).count() > 0
        assert not os.path.exists(f"{path}__maintenance_lock")

    def test_semantic_delivery_refused_during_compaction(
        self, spark, tmp_path
    ):
        from scdataset_spark.operators._maintenance import (
            acquire_maintenance_lock,
            release_maintenance_lock,
        )
        from scdataset_spark.operators.similarity import (
            semantic_ingest_batches,
        )

        c, path = self._build(spark, tmp_path)
        ingest = semantic_ingest_batches(
            path, sink=lambda df: df.count(), cand_id="vec_id", vec="v",
            run_id="ckpt-A",
        )
        lock = acquire_maintenance_lock(path, "compaction")
        with pytest.raises(RuntimeError, match="in-flight compaction"):
            ingest(c.where("vec_id < 1000000 AND vec_id % 10 = 5"), 0)
        release_maintenance_lock(lock)
        ingest(c.where("vec_id < 1000000 AND vec_id % 10 = 5"), 0)

    def test_dead_owner_reclaim_through_semantic_verb(self, spark, tmp_path):
        from scdataset_spark.operators import _maintenance as mm
        from scdataset_spark.operators.similarity import (
            semantic_ingest_batches,
        )

        c, path = self._build(spark, tmp_path)
        lock = path + mm.LOCK_SUFFIX
        os.mkdir(lock)
        with open(os.path.join(lock, "owner"), "w") as f:
            f.write(f"{socket.gethostname()}\n99999999\ncompaction\n")
        got = []
        ingest = semantic_ingest_batches(
            path, sink=lambda df: got.append(df.count()),
            cand_id="vec_id", vec="v", run_id="ckpt-A",
        )
        ingest(c.where("vec_id < 1000000 AND vec_id % 10 = 5"), 0)
        assert got and got[0] > 0
        assert not os.path.exists(lock)  # reclaimed then released


class TestCompactAnnIndex:
    def test_ann_probe_identical_and_files_collapse(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            append_to_ann_index,
            build_ann_index,
            compact_ann_index,
        )

        c = cands(spark, SF_DIR)
        path = str(tmp_path / "ann")
        build_ann_index(
            c.where("c_id % 4 = 0"), path, n_clusters=8, seed=11,
            vectorized_assign=False,
        )
        for r in (1, 2, 3):  # three appends -> per-append small files
            append_to_ann_index(
                c.where(f"c_id % 4 = {r}"), path, vectorized_assign=False
            )
        q = cand_queries(spark, SF_DIR, 20)
        before = sorted(map(tuple, ann_index_topk(
            spark, path, q, k=3, n_probe=2, n_queries=20
        ).collect()))
        files_before = len(glob.glob(f"{path}/cells/cell_group=*/part-*.parquet"))

        rep = {r.component: r for r in compact_ann_index(spark, path).collect()}
        assert rep["cells"].files_after < rep["cells"].files_before
        assert rep["cells"].n_rows == c.count()
        files_after = len(glob.glob(f"{path}/cells/cell_group=*/part-*.parquet"))
        assert files_after == rep["cells"].files_after < files_before
        # no backup left behind after a successful compaction
        assert not glob.glob(f"{path}/*__precompact")

        after = sorted(map(tuple, ann_index_topk(
            spark, path, q, k=3, n_probe=2, n_queries=20
        ).collect()))
        assert after == before and len(after) > 0

    def test_pq_probe_identical_and_archive_compacts(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            append_to_pq_index,
            build_pq_index,
            compact_ann_index,
            pq_index_topk,
        )

        c = cands(spark, SF_DIR)
        path = str(tmp_path / "pq")
        build_pq_index(
            c.where("c_id % 3 = 0"), path, n_clusters=8, dim=64, m=8,
            n_codes=16, seed=11, pq_seed=13,
            vectorized_encode=False, vectorized_assign=False,
        )
        for r in (1, 2):
            append_to_pq_index(
                c.where(f"c_id % 3 = {r}"), path, dim=64, m=8,
                vectorized_encode=False, vectorized_assign=False,
            )
        q = cand_queries(spark, SF_DIR, 20)
        before = sorted(map(tuple, pq_index_topk(
            spark, path, q, k=3, refine=3, n_probe=2, n_queries=20
        ).collect()))

        rep = {r.component: r for r in compact_ann_index(spark, path).collect()}
        assert set(rep) == {"cells", "archive"}
        assert rep["archive"].files_after < rep["archive"].files_before
        assert rep["archive"].n_rows == c.count()

        after = sorted(map(tuple, pq_index_topk(
            spark, path, q, k=3, refine=3, n_probe=2, n_queries=20
        ).collect()))
        assert after == before and len(after) > 0

    def test_compacted_cells_stay_cell_sorted(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from scdataset_spark.operators.similarity import (
            append_to_ann_index,
            build_ann_index,
            compact_ann_index,
        )

        c = cands(spark, SF_DIR)
        path = str(tmp_path / "ann")
        build_ann_index(
            c.where("c_id % 2 = 0"), path, n_clusters=8, seed=11,
            vectorized_assign=False,
        )
        append_to_ann_index(
            c.where("c_id % 2 = 1"), path, vectorized_assign=False
        )
        compact_ann_index(spark, path)
        files = glob.glob(f"{path}/cells/cell_group=*/part-*.parquet")
        assert files
        for f in files:
            cells = pq.read_table(f, columns=["cell"]).column("cell").to_pylist()
            assert cells == sorted(cells), f"unsorted cells in {f}"

    def test_refuses_missing_index_and_leftover_backup(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            build_ann_index,
            compact_ann_index,
        )

        with pytest.raises(ValueError, match="no persisted index"):
            compact_ann_index(spark, str(tmp_path / "nope"))

        c = cands(spark, SF_DIR).where("c_id < 200")
        path = str(tmp_path / "ann")
        build_ann_index(c, path, n_clusters=4, seed=11, vectorized_assign=False)
        # simulate a swap that died between its two renames
        os.rename(f"{path}/cells", f"{path}/cells__precompact")
        q = cand_queries(spark, SF_DIR, 20)
        with pytest.raises(RuntimeError, match="__precompact"):
            ann_index_topk(spark, path, q, k=3, n_probe=2, n_queries=20)
        with pytest.raises(RuntimeError, match="__precompact"):
            compact_ann_index(spark, path)
        # recovery is one rename; probe works again
        os.rename(f"{path}/cells__precompact", f"{path}/cells")
        got = ann_index_topk(
            spark, path, q, k=3, n_probe=2, n_queries=20
        ).collect()
        assert len(got) > 0


class TestRebuildGeometryValidation:
    def test_rejects_mismatched_m_and_dim(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            build_pq_index,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR).where("c_id < 400")
        path = str(tmp_path / "pq")
        build_pq_index(
            c, path, n_clusters=4, dim=64, m=8, n_codes=16, seed=11,
            pq_seed=13, vectorized_encode=False, vectorized_assign=False,
        )
        with pytest.raises(ValueError, match="contradicts the stored layout"):
            rebuild_ann_index(spark, path, f"{path}__rb", m=4)
        with pytest.raises(ValueError, match="contradicts the stored layout"):
            rebuild_ann_index(spark, path, f"{path}__rb", dim=32)

    def test_rejects_missing_path_with_clear_error(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import rebuild_ann_index

        with pytest.raises(ValueError, match="no persisted index"):
            rebuild_ann_index(spark, str(tmp_path / "typo"), str(tmp_path / "o"))

    def test_rejects_symlinked_in_place_alias(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            build_ann_index,
            rebuild_ann_index,
        )

        c = cands(spark, SF_DIR).where("c_id < 100")
        path = str(tmp_path / "real")
        build_ann_index(c, path, n_clusters=2, seed=11, vectorized_assign=False)
        alias = str(tmp_path / "alias")
        os.symlink(path, alias)
        with pytest.raises(ValueError, match="fresh out_path"):
            rebuild_ann_index(spark, path, alias, n_clusters=2)


class TestPqAdcAgreement:
    def test_agreement_bounds_and_self_consistency(self, spark, tmp_path):
        """Agreement is in [0, 1] per query, the denominator is the
        exact-on-probed-cells top-k size, and with refine·k covering
        every probed candidate the ADC cut can drop nothing, so
        agreement is exactly 1.0."""
        from scdataset_spark.operators.similarity import (
            build_pq_index,
            pq_adc_agreement,
        )

        c = cands(spark, SF_DIR)
        path = str(tmp_path / "pq")
        build_pq_index(
            c, path, n_clusters=8, dim=64, m=8, n_codes=16, seed=11,
            pq_seed=13, vectorized_encode=False, vectorized_assign=False,
        )
        q = cand_queries(spark, SF_DIR, 20)
        rep = pq_adc_agreement(
            spark, path, q, k=3, refine=3, n_probe=2
        ).collect()
        assert len(rep) == 20
        for r in rep:
            assert 0.0 <= r.agreement <= 1.0
            assert r.n_exact <= 3 and r.adc_hits <= r.n_exact
        # a refine window as large as the probed candidate pool keeps
        # every exact neighbor: agreement == 1.0 for every query
        wide = pq_adc_agreement(
            spark, path, q, k=3, refine=100000, n_probe=2
        ).collect()
        assert all(r.agreement == 1.0 for r in wide)


class TestLifecycleExample:
    def test_example_runs_end_to_end_at_sf001(self, spark, tmp_path):
        """The lifecycle example (build -> probe -> append -> compact ->
        monitor -> decide -> rebuild) runs end-to-end at sf0.01 in CI
        time, uses a >=100-query seeded sample for the recall monitor,
        and the rebuild restores recall to at least the appended index's
        level (fresh geometry can only help at fixed n_probe)."""
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "index_lifecycle",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "examples",
                "index_lifecycle.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)

        out = mod.run(spark, SF_DIR, str(tmp_path), verbose=False)
        assert out["n_queries"] >= 100
        assert out["files_after"] < out["files_before"]
        assert 0.0 <= out["current_recall"] <= 1.0
        assert out["rebuild_reason"] in ("occupancy", "recall", "none")
        assert out["rebuild_needed"] == (
            out["occ_ratio"] > mod.OCC_HOT_RATIO
            or out["recall_drop"] > mod.RECALL_DROP
        )
        # at fixture scale the cell budget re-resolves to the same floor
        # (64 cells for 500 vectors), so the rebuild resamples geometry
        # rather than right-sizing it — recall must not crater, but a
        # small fixture-noise move either way is expected
        assert out["rebuilt_recall"] >= out["current_recall"] - 0.1


class TestAnnIngestBatches:
    def _build(self, spark, tmp_path, frac="c_id % 4 = 0"):
        from scdataset_spark.operators.similarity import build_ann_index

        c = cands(spark, SF_DIR)
        path = str(tmp_path / "ann")
        build_ann_index(c.where(frac), path, n_clusters=8, seed=11,
                        vectorized_assign=False)
        return c, path

    def test_streamed_ingest_equals_one_shot_append(self, spark, tmp_path):
        """availableNow deliveries through the foreachBatch ingest (with
        OVERLAPPING ids across deliveries) must leave the index
        probe-identical to a single append of the distinct union, and
        the per-batch reports must show the overlap being skipped."""
        from scdataset_spark.operators.similarity import (
            ann_index_topk,
            ann_ingest_batches,
            append_to_ann_index,
        )

        c, path = self._build(spark, tmp_path)
        incoming = c.where("c_id % 4 != 0")
        src = str(tmp_path / "increments")
        # delivery overlap: ids % 4 == 1 appear in BOTH files
        incoming.where("c_id % 4 in (1, 2)").coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        incoming.where("c_id % 4 in (1, 3)").coalesce(1).write.mode(
            "append"
        ).parquet(src)

        reports = []
        q = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)  # two real deliveries
            .parquet(src)
            .writeStream.foreachBatch(
                ann_ingest_batches(
                    path, on_report=lambda b, n, new: reports.append((b, n, new))
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)

        total_new = sum(new for _, _, new in reports)
        assert total_new == incoming.count()  # every id exactly once
        assert sum(n for _, n, _ in reports) > total_new  # overlap skipped

        # reference: same corpus via one batch append
        from scdataset_spark.operators.similarity import build_ann_index

        ref = str(tmp_path / "ref")
        build_ann_index(c.where("c_id % 4 = 0"), ref, n_clusters=8, seed=11,
                        vectorized_assign=False)
        append_to_ann_index(incoming, ref, vectorized_assign=False)
        qf = cand_queries(spark, SF_DIR, 20)
        got = sorted(map(tuple, ann_index_topk(
            spark, path, qf, k=3, n_probe=2, n_queries=20).collect()))
        want = sorted(map(tuple, ann_index_topk(
            spark, ref, qf, k=3, n_probe=2, n_queries=20).collect()))
        assert got == want and len(got) > 0

    def test_replay_of_committed_batch_appends_nothing(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import ann_ingest_batches

        c, path = self._build(spark, tmp_path)
        batch = c.where("c_id % 4 = 1")
        reports = []
        ingest = ann_ingest_batches(
            path, on_report=lambda b, n, new: reports.append((b, n, new))
        )
        ingest(batch, 7)
        ingest(batch, 7)  # replay of the SAME fully-committed batch
        assert reports[0][2] == batch.count()
        assert reports[1][2] == 0

    def test_consistency_detects_crash_window_and_rebuild_repairs(
        self, spark, tmp_path
    ):
        from scdataset_spark.operators.similarity import (
            ann_ingest_batches,
            ann_ingest_consistency,
            append_to_ann_index,
            rebuild_ann_index,
        )

        c, path = self._build(spark, tmp_path)
        batch = c.where("c_id % 4 = 1")
        ann_ingest_batches(path)(batch, 0)
        clean = ann_ingest_consistency(spark, path).first()
        assert clean.duplicate_ids == 0

        # simulate the crash window: the delivery's cells append landed,
        # the sidecar append didn't, and the replay re-appended
        append_to_ann_index(batch, path, vectorized_assign=False)
        dirty = ann_ingest_consistency(spark, path).first()
        assert dirty.duplicate_ids == batch.count()

        rebuild_ann_index(spark, path, f"{path}__rb", n_clusters=8, seed=11,
                          vectorized_assign=False)
        rebuilt = spark.read.parquet(f"{path}__rb/cells")
        assert rebuilt.count() == rebuilt.select("c_id").distinct().count()

    def test_compaction_covers_the_sidecar(self, spark, tmp_path):
        from scdataset_spark.operators.similarity import (
            ann_ingest_batches,
            compact_ann_index,
        )

        c, path = self._build(spark, tmp_path)
        ingest = ann_ingest_batches(path)
        ingest(c.where("c_id % 4 = 1"), 0)
        ingest(c.where("c_id % 4 = 2"), 1)
        rep = {r.component: r for r in compact_ann_index(spark, path).collect()}
        assert "_ingested_ids" in rep
        assert rep["_ingested_ids"].files_after <= rep["_ingested_ids"].files_before


class TestNovelIngestBatches:
    BASE = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet white black gray",
    ]
    NOVEL1 = [
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "quick brown fox jumps over the lazy dog again and again",
    ]

    def _docs(self, spark, texts, start_id):
        return spark.createDataFrame(
            [(start_id + i, t) for i, t in enumerate(texts)],
            ["doc_id", "text"],
        )

    def test_delivery2_deduped_against_delivery1_novels(self, spark, tmp_path):
        """The cumulative property a static novel_documents index cannot
        give a stream: delivery 2 contains near-copies of delivery 1's
        (kept) documents with NO counterpart in the base corpus — the
        growing index rejects them, the static index would admit them."""
        from scdataset_spark.operators.dedup import (
            lsh_bands,
            novel_documents,
            novel_ingest_batches,
            with_minhash,
            with_shingles,
            write_band_index,
        )

        base = self._docs(spark, self.BASE, 0)
        d1 = self._docs(spark, self.NOVEL1, 100)
        # near-copies of d1 (one trailing token changed) + one new doc
        d2 = self._docs(
            spark,
            [t.rsplit(" ", 1)[0] + " changed" for t in self.NOVEL1]
            + ["completely fresh content with entirely different tokens here now"],
            200,
        )
        path = str(tmp_path / "bands")
        write_band_index(base, path)
        got = {}
        ingest = novel_ingest_batches(
            path, sink=lambda df: got.update({r.doc_id: r.batch_id for r in df.collect()})
        )
        ingest(d1, 0)
        ingest(d2, 1)
        assert {k for k, v in got.items() if v == 0} == {100, 101}
        # near-copies of d1 rejected; only the fresh doc admitted
        assert {k for k, v in got.items() if v == 1} == {202}

        # the static index admits the near-copies — the exact gap the
        # growing index closes
        static = novel_documents(d2, existing=base)
        assert {r.doc_id for r in static.collect()} == {200, 201, 202}

    def test_stream_equals_direct_calls(self, spark, tmp_path):
        from scdataset_spark.operators.dedup import (
            novel_ingest_batches,
            write_band_index,
        )
        from scdataset_spark.queries.llm import corpus

        c = corpus(spark, SF_DIR)
        path = str(tmp_path / "bands")
        write_band_index(c.where("doc_id % 10 < 8"), path)
        incoming = c.where("doc_id % 10 >= 8")
        src = str(tmp_path / "increments")
        incoming.where("doc_id % 10 = 8").coalesce(1).write.mode("overwrite").parquet(src)
        incoming.where("doc_id % 10 = 9").coalesce(1).write.mode("append").parquet(src)

        got = set()
        q = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                novel_ingest_batches(
                    path, sink=lambda df: got.update(r.doc_id for r in df.collect())
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)

        ref = str(tmp_path / "bands_ref")
        write_band_index(c.where("doc_id % 10 < 8"), ref)
        want = set()
        ingest = novel_ingest_batches(
            ref, sink=lambda df: want.update(r.doc_id for r in df.collect())
        )
        # stream file order == write order for the parquet source
        ingest(incoming.where("doc_id % 10 = 8"), 0)
        ingest(incoming.where("doc_id % 10 = 9"), 1)
        assert got == want and 0 < len(got) < incoming.count()

    def test_replay_reports_same_novel_set(self, spark, tmp_path):
        from scdataset_spark.operators.dedup import (
            novel_ingest_batches,
            write_band_index,
        )
        from scdataset_spark.queries.llm import corpus

        c = corpus(spark, SF_DIR)
        path = str(tmp_path / "bands")
        write_band_index(c.where("doc_id % 10 < 8"), path)
        batch = c.where("doc_id % 10 = 8")
        runs = []
        ingest = novel_ingest_batches(
            path, sink=lambda df: runs.append({r.doc_id for r in df.collect()})
        )
        ingest(batch, 0)
        ingest(batch, 0)  # replay: own earlier bands excluded by batch_id
        assert runs[0] == runs[1] and len(runs[0]) > 0

    def test_compact_band_index_preserves_decisions(self, spark, tmp_path):
        import glob

        from scdataset_spark.operators.dedup import (
            compact_band_index,
            novel_ingest_batches,
            write_band_index,
        )
        from scdataset_spark.queries.llm import corpus

        c = corpus(spark, SF_DIR)
        path = str(tmp_path / "bands")
        write_band_index(c.where("doc_id % 10 < 7"), path)
        got = []
        ingest = novel_ingest_batches(
            path, sink=lambda df: got.append({r.doc_id for r in df.collect()})
        )
        ingest(c.where("doc_id % 10 = 7"), 0)
        rep = compact_band_index(spark, path).first()
        assert rep.files_after <= rep.files_before
        assert not glob.glob(f"{path}__precompact")
        # a replay across the compaction boundary reaches the same verdicts
        ingest(c.where("doc_id % 10 = 7"), 1)  # pure replay, new batch_id
        assert got[1] == set()  # everything now duplicate
        ingest(c.where("doc_id % 10 = 8"), 2)
        assert len(got[2]) > 0
