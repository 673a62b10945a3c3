"""Job-free batch plans, MultiIndexable container, batch export, hook
pipeline drop_last."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.strategies import BlockShuffling, Streaming
from scdataset_spark.pipeline.export import _streamed, iterate_batches
from scdataset_spark.pipeline.hooks import fetch_hooks, run_hook_pipeline
from scdataset_spark.pipeline.multiindexable import MultiIndexable
from scdataset_spark.plans.plan import _is_fetch_ordered, with_batches
from scdataset_spark.session import python_stage_partitions

from tests._helpers import assert_no_jobs, plan_text
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def zipped(spark):
    d = load_table(spark, "documents", SF_DIR_SMALL)
    e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
    df = d.join(e, d.doc_id == e.vec_id).select("row_id", "text", "embedding", "label")
    return df


class TestBatchPlanJobFree:
    def test_with_batches_plan_construction_runs_no_job(self, spark):
        # O12's posture: building the fetch/batch plan is pure plan
        # algebra; only exact_num_batches' closed form (pure Python) or
        # an explicit action may run anything
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        assert_no_jobs(
            spark.sparkContext,
            "o12-batch-plan-lazy",
            lambda: with_batches(
                Streaming(assume_dense=True).plan(li, seed=42),
                batch_size=32,
                fetch_factor=16,
                drop_last=True,
            ),
        )


class TestMultiIndexable:
    def test_ctor_forms_and_dict_api(self, zipped):
        mi = MultiIndexable(zipped, ["text", "embedding", "label"])
        assert mi.keys() == ["text", "embedding", "label"]
        assert len(mi) == 3
        assert "embedding" in mi and "nope" not in mi
        named = MultiIndexable(zipped, {"txt": "text", "vec": "embedding"})
        assert named.keys() == ["txt", "vec"]
        auto = MultiIndexable(zipped)  # all non-id columns
        assert set(auto.keys()) == {"text", "embedding", "label"}

    def test_validation_errors(self, zipped):
        with pytest.raises(ValueError, match="not in DataFrame"):
            MultiIndexable(zipped, ["missing_modality"])
        with pytest.raises(ValueError, match="id column"):
            MultiIndexable(zipped.drop("row_id"), ["text"])

    def test_projection_positional_and_named(self, zipped):
        mi = MultiIndexable(zipped, ["text", "embedding"])
        by_name = mi["embedding"]
        by_pos = mi[1]
        assert by_name.columns == ["row_id", "embedding"]
        assert by_pos.columns == ["row_id", "embedding"]

    def test_synchronized_subset_carries_unstructured(self, zipped):
        meta = {"gene_names": ["a", "b"], "source": "test"}
        mi = MultiIndexable(zipped, ["text", "label"], unstructured=meta)
        sub = mi.subset(F.col("label") < 3)
        assert sub.unstructured == meta
        n = sub.to_df().count()
        # every modality sees the same rows — single frame by construction
        assert sub["text"].count() == n
        assert sub["label"].count() == n
        assert n < mi.to_df().count()


def _row_reference(
    planned, batch_size, columns, order_col="pos", drop_last=False
):
    """The row-at-a-time iterator ``iterate_batches`` replaced, kept
    verbatim as the reference its Arrow stream must reproduce."""
    df = planned.select(order_col, *columns).orderBy(order_col)
    buf: list[tuple] = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(tuple(row[c] for c in columns))
        if len(buf) == batch_size:
            yield {c: np.array([r[i] for r in buf]) for i, c in enumerate(columns)}
            buf = []
    if buf and not drop_last:
        yield {c: np.array([r[i] for r in buf]) for i, c in enumerate(columns)}


@pytest.fixture
def contract_frame(spark):
    """1,000 rows in 5 input partitions, out of ``pos`` order.  Within
    the fixture, Arrow record batches hold 7 rows and AQE does not
    coalesce the sort's partitions, so 16-row batches cross both
    record-batch and partition edges.  ``ni`` is null in some batches
    only; ``s`` grows with ``pos``, so its ``<U`` width varies."""
    keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "7")
    spark.conf.set(keys[1], "false")
    df = spark.range(0, 1000, numPartitions=5).selectExpr(
        "(id * 7919) % 1000 AS pos",
        "id * 3 - 500 AS big",
        "id / 7.0 AS dbl",
        "repeat('ab', CAST((id * 7919) % 1000 DIV 100 AS INT)) || 'é' AS s",
        "CASE WHEN id % 97 = 0 THEN NULL ELSE CAST(id AS INT) END AS ni",
        "array(CAST(id AS DOUBLE), id * 0.5, -1.0) AS arr",
    )
    assert df.orderBy("pos").rdd.getNumPartitions() > 1
    yield df
    for k, v in saved.items():
        spark.conf.set(k, v)


def _assert_same_batches(want: list[dict], got: list[dict]) -> None:
    assert len(got) == len(want)
    for w, g in zip(want, got):
        assert list(g) == list(w)
        for k in w:
            assert g[k].dtype == w[k].dtype, k
            assert g[k].shape == w[k].shape, k
            assert g[k].tolist() == w[k].tolist(), k


class TestExport:
    def test_exact_batches_in_plan_order(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=42), batch_size=256, fetch_factor=4)
        batches = list(iterate_batches(planned, 256, ["row_id", "l_quantity"]))
        n = li.count()
        assert sum(len(b["row_id"]) for b in batches) == n
        assert all(len(b["row_id"]) == 256 for b in batches[:-1])
        flat = np.concatenate([b["row_id"] for b in batches])
        assert (np.diff(flat) > 0).all()  # Streaming yields ascending row_id

    def test_drop_last(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=42), batch_size=256, fetch_factor=4)
        batches = list(iterate_batches(planned, 256, ["row_id"], drop_last=True))
        assert all(len(b["row_id"]) == 256 for b in batches)

    @pytest.mark.parametrize(
        "columns", [["big", "dbl", "s", "ni", "arr"], ["pos", "big", "s"]]
    )
    @pytest.mark.parametrize("drop_last", [False, True])
    def test_matches_row_reference(self, contract_frame, columns, drop_last):
        """Same keys, dtypes, shapes, values and order as the row
        iterator; every array writable, and mutating a batch in place
        leaves the batches after it intact."""
        want = list(_row_reference(contract_frame, 16, columns, drop_last=drop_last))
        got = []
        for batch in iterate_batches(contract_frame, 16, columns, drop_last=drop_last):
            got.append({k: v.copy() for k, v in batch.items()})
            for v in batch.values():
                assert v.flags.writeable
                v[:] = v[::-1].copy()
        _assert_same_batches(want, got)
        dtypes = {k: {str(b[k].dtype) for b in got} for k in got[0]}
        # the contract cases the row path defines are all present
        assert dtypes["big"] == {"int64"}
        if "ni" in dtypes:
            assert dtypes["ni"] == {"int64", "object"}
            assert dtypes["arr"] == {"float64"} and got[0]["arr"].shape == (16, 3)
            assert len(dtypes["s"]) > 1 and all(d.startswith("<U") for d in dtypes["s"])
        assert len(got[-1]["big"]) == (16 if drop_last else 1000 % 16)

    @pytest.mark.parametrize("large_var_types", [False, True])
    def test_temporal_decimal_binary_match_row_reference(self, spark, large_var_types):
        """Dates, timestamps, decimals, binaries and strings (some null)
        decode to the row iterator's values; with large var types on,
        the driver must decode against the large string and binary
        layouts the batches were written with."""
        key = "spark.sql.execution.arrow.useLargeVarTypes"
        saved = spark.conf.get(key)
        spark.conf.set(key, str(large_var_types).lower())
        try:
            df = spark.range(0, 300, numPartitions=3).selectExpr(
                "(id * 7919) % 300 AS pos",
                "date_add(DATE'2020-02-27', CAST(id AS INT)) AS d",
                "timestamp_micros(1582761600000000 + id * 3600000123) AS ts",
                "CAST(id * 1.25 - 100 AS DECIMAL(12,2)) AS dec",
                "CASE WHEN id % 13 = 0 THEN NULL"
                " ELSE CAST(repeat('xy', CAST(id % 4 AS INT)) AS BINARY) END AS bin",
                "CASE WHEN id % 17 = 0 THEN NULL ELSE concat('s', id) END AS s",
            )
            cols = ["d", "ts", "dec", "bin", "s", "pos"]
            want = list(_row_reference(df, 16, cols))
            got = list(iterate_batches(df, 16, cols))
        finally:
            spark.conf.set(key, saved)
        _assert_same_batches(want, got)
        assert sum(len(b["pos"]) for b in got) == 300

    def test_empty_frame(self, contract_frame):
        empty = contract_frame.where("big < -1000")
        cols = ["big", "s", "arr"]
        assert list(_row_reference(empty, 16, cols)) == []
        assert list(iterate_batches(empty, 16, cols)) == []

    def test_rejects_nonpositive_batch_size(self, spark):
        with pytest.raises(ValueError, match="batch_size"):
            next(iterate_batches(spark.range(3).withColumnRenamed("id", "pos"), 0, ["pos"]))

    def test_fresh_process_foreign_cwd(self, tmp_path):
        """Executor-side code must pickle by value: run from a directory
        where the package is importable only through the driver's
        sys.path, as a user script would — for the iterate stream and
        for the hook stage's per-fetch function."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from scdataset_spark.session import get_spark
from scdataset_spark.pipeline.export import iterate_batches
from scdataset_spark.pipeline.hooks import run_hook_pipeline
spark = get_spark("fresh_process_iterate", shuffle_partitions=2)
df = spark.range(0, 100, numPartitions=3).selectExpr("99 - id AS pos", "id AS v")
out = [b["v"].tolist() for b in iterate_batches(df, 32, ["v"])]
hooked = run_hook_pipeline(
    df.selectExpr("pos", "v", "pos div 32 AS fetch_id"),
    "pos bigint, v bigint, fetch_id bigint",
    32,
    fetch_transform=lambda p: p.assign(v=-p["v"]),
)
print(json.dumps([out, [b["v"].tolist() for b in iterate_batches(hooked, 32, ["v"])]]))
spark.stop()
"""
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_GRAFT_CPUS"] = "2"
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out, hooked = json.loads(proc.stdout.strip().splitlines()[-1])
        assert [len(b) for b in out] == [32, 32, 32, 4]
        assert sum(out, []) == list(range(99, -1, -1))
        assert [len(b) for b in hooked] == [32, 32, 32, 4]
        assert sum(hooked, []) == list(range(-99, 1))


class TestHookOrder:
    """T1-T4 execution order per reference docs/source/transforms.rst:39-63:
    fetch_transform -> batch_callback (extraction) -> batch_transform."""

    def test_batch_callback_order_and_contract(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=42).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )

        def fetch_transform(pdf):
            pdf = pdf.copy()
            pdf["trace"] = "F"
            return pdf

        def batch_callback(fetch_pdf, batch_indices):
            # reference scdataset.py:550-554: receives the WHOLE fetch
            # + positional indices, returns the extracted batch
            batch = fetch_pdf.iloc[batch_indices].copy()
            batch["trace"] = batch["trace"] + ">C"
            batch["fetch_len"] = len(fetch_pdf)
            return batch

        def batch_transform(batch):
            batch = batch.copy()
            batch["trace"] = batch["trace"] + ">B"
            return batch

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint, trace string, fetch_len bigint",
            batch_size=32,
            fetch_transform=fetch_transform,
            batch_callback=batch_callback,
            batch_transform=batch_transform,
        ).collect()

        n = li.count()
        assert len(out) == n  # extraction covers every row exactly once
        assert {r["trace"] for r in out} == {"F>C>B"}
        # every full fetch is batch_size*fetch_factor rows; the last may
        # be partial — batch_callback must have seen the whole fetch
        full, partial = 128, n % 128
        assert {r["fetch_len"] for r in out} <= {full, partial} - {0}

    def test_batch_callback_can_reorder(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=1).select("row_id", "pos"),
            batch_size=64,
            fetch_factor=2,
        )

        def reversed_batches(fetch_pdf, batch_indices):
            return fetch_pdf.iloc[batch_indices[::-1]]

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=64,
            batch_callback=reversed_batches,
        )
        rows = sorted(out.collect(), key=lambda r: r["pos"])
        assert len(rows) == li.count()
        # same coverage, custom extraction order inside each batch
        assert [r["pos"] for r in rows] == list(range(len(rows)))


class TestHookCallsPerFetch:
    @pytest.mark.parametrize("shuffle", [False, True])
    def test_fetch_transform_runs_once_per_fetch(self, spark, tmp_path, shuffle):
        """The reference calls each hook once per fetch
        (scdataset.py:523-558); a hook that reads an external store or
        has side effects must not fire twice.  The hook runs on
        executors, so it counts its calls by appending to a file.  With
        ``shuffle_within_fetch`` the hook stage reuses the window's
        exchange."""
        calls = str(tmp_path / "calls.txt")
        planned = with_batches(
            spark.range(640).selectExpr("id AS row_id", "id AS pos"),
            batch_size=16,
            fetch_factor=4,
            shuffle_within_fetch=shuffle,
            seed=3,
        ).select("row_id", "pos", "fetch_id")
        want = [r["row_id"] for r in planned.orderBy("pos").collect()]

        def fetch_transform(pdf):
            with open(calls, "a") as f:
                f.write(f"{pdf['fetch_id'].iloc[0]}\n")
            return pdf

        out = run_hook_pipeline(
            planned,
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=16,
            fetch_transform=fetch_transform,
        )
        batches = list(iterate_batches(out, 16, ["row_id"]))
        assert np.concatenate([b["row_id"] for b in batches]).tolist() == want
        assert (want == list(range(640))) != shuffle
        with open(calls) as f:
            assert sorted(map(int, f.read().split())) == list(range(640 // 64))


def _scrambled(spark, n):
    """``n`` rows whose ``pos`` is a permutation of ``row_id``, so pos
    order and row order differ."""
    return spark.range(n, numPartitions=3).selectExpr(
        "id AS row_id", f"(id * 7919) % {n} AS pos"
    )


class TestFetchOrderedStream:
    """``iterate_batches`` streams ``run_hook_pipeline``'s own output
    without a sort.  Each frame derived from it keeps the sort, and a
    hook that reorders its fetch cannot break the stream's pos order."""

    @staticmethod
    def _hooked(spark, **hooks):
        planned = with_batches(
            _scrambled(spark, 640), batch_size=16, fetch_factor=4,
            shuffle_within_fetch=True, seed=3,
        ).select("row_id", "pos", "fetch_id")
        out = run_hook_pipeline(
            planned, "row_id bigint, pos bigint, fetch_id bigint", batch_size=16, **hooks
        )
        return planned, out

    def test_iterate_path_has_one_range_exchange(self, spark):
        """One full-data exchange, range on ``fetch_id``, shared by the
        window and the hook stage; none above the Python stage.  Building
        the hook stage, partition check included, runs no job."""
        _, out = assert_no_jobs(
            spark.sparkContext, "fetch_ordered_plan", lambda: self._hooked(spark)
        )
        plan = plan_text(_streamed(out, ["row_id"])[0])
        exchanges = re.findall(r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (.*)$", plan, re.M)
        assert len(exchanges) == 1, exchanges
        assert re.match(r"rangepartitioning\(fetch_id#\d+L ASC NULLS FIRST, \d+\)", exchanges[0])
        tree = plan.split("\n\n")[0].splitlines()
        stage = next(i for i, line in enumerate(tree) if "FlatMapGroupsInPandas" in line)
        assert not [line for line in tree[:stage] if "Exchange" in line]

    @pytest.mark.parametrize("derive", ["where", "repartition"])
    def test_derived_frame_is_sorted(self, spark, derive):
        planned, out = self._hooked(spark)
        derived = out.where("row_id % 3 != 0") if derive == "where" else out.repartition(3)
        assert "rangepartitioning(pos" in plan_text(_streamed(derived, ["row_id"])[0])
        want = list(_row_reference(derived, 16, ["pos", "row_id"]))
        _assert_same_batches(want, list(iterate_batches(derived, 16, ["pos", "row_id"])))
        assert (np.diff(np.concatenate([b["pos"] for b in want])) > 0).all()

    @pytest.mark.parametrize("hook", ["fetch_transform", "batch_transform"])
    def test_reordering_hook_keeps_pos_order(self, spark, hook):
        planned, out = self._hooked(spark, **{hook: lambda pdf: pdf.iloc[::-1]})
        assert vars(out)["_partitions_in_pos_order"]
        want = list(_row_reference(planned, 16, ["pos", "row_id"]))
        _assert_same_batches(want, list(iterate_batches(out, 16, ["pos", "row_id"])))

    def test_hook_that_breaks_pos_order_raises(self, spark):
        """The unsorted stream checks the order it relies on: a hook
        that rewrites ``pos`` against the fetch order gets an error,
        not silently misordered batches."""
        _, out = self._hooked(spark, fetch_transform=lambda pdf: pdf.assign(pos=-pdf["pos"]))
        with pytest.raises(ValueError, match="not in pos order"):
            list(iterate_batches(out, 16, ["row_id"]))


def _partition_log(tmp_path):
    """A hook that appends ``partition start end`` per fetch to a file
    in ``tmp_path``, sleeping ``delay(fetch_id)`` seconds first, and
    a reader of that log: ``{partition: (first start, last end)}``."""
    log = str(tmp_path / "fetches.txt")

    def hook(delay):
        def fetch_transform(pdf):
            import time

            from pyspark import TaskContext

            t0 = time.time()
            time.sleep(delay(int(pdf["fetch_id"].iloc[0])))
            with open(log, "a") as f:
                f.write(f"{TaskContext.get().partitionId()} {t0} {time.time()}\n")
            return pdf

        return fetch_transform

    def spans():
        out: dict[int, tuple[float, float]] = {}
        if os.path.exists(log):
            with open(log) as f:
                for line in f:
                    p, t0, t1 = line.split()
                    lo, hi = out.get(int(p), (float(t0), float(t1)))
                    out[int(p)] = (min(lo, float(t0)), max(hi, float(t1)))
        return out

    return hook, spans


class TestArrowTransport:
    """The driver transport: JVM-encoded Arrow partitions fetched by
    single-partition jobs, up to ``_cluster_width`` in flight, handed
    out in partition order, cancelled on close."""

    @staticmethod
    def _hooked(spark, fetch_transform, n=2560):
        planned = with_batches(
            _scrambled(spark, n), batch_size=16, fetch_factor=4
        ).select("row_id", "pos", "fetch_id")
        out = run_hook_pipeline(
            planned, "row_id bigint, pos bigint, fetch_id bigint", batch_size=16,
            fetch_transform=fetch_transform,
        )
        return planned, out

    def test_slow_first_partition_still_yields_first(self, spark, tmp_path):
        hook, spans = _partition_log(tmp_path)
        planned, out = self._hooked(spark, hook(lambda fetch: 2.0 if fetch == 0 else 0.0))
        got = list(iterate_batches(out, 16, ["pos", "row_id"]))
        # partition 0 finished last, yet its rows came first
        done = spans()
        assert max(done, key=lambda p: done[p][1]) == 0
        _assert_same_batches(list(_row_reference(planned, 16, ["pos", "row_id"])), got)

    def test_in_flight_jobs_bounded_by_cluster_width(self, spark, tmp_path, monkeypatch):
        import time

        from scdataset_spark.pipeline import export

        monkeypatch.setattr(export, "_cluster_width", lambda df: 2)
        hook, spans = _partition_log(tmp_path)
        planned, out = self._hooked(spark, hook(lambda fetch: 0.05))
        assert out.rdd.getNumPartitions() > 3
        stream = iterate_batches(out, 16, ["pos", "row_id"])
        got = [next(stream)]
        time.sleep(2)
        # partition 0 handed out: partitions 1 and 2 may run, no others
        assert set(spans()) <= {0, 1, 2}
        got += list(stream)
        done = sorted(spans().values())
        assert len(done) == out.rdd.getNumPartitions()
        for i, (start, _) in enumerate(done):
            assert sum(t0 <= start < t1 for t0, t1 in done[:i]) < 2
        _assert_same_batches(list(_row_reference(planned, 16, ["pos", "row_id"])), got)

    def test_close_cancels_outstanding_jobs(self, spark, tmp_path):
        import threading
        import time

        hook, _ = _partition_log(tmp_path)
        _, out = self._hooked(spark, hook(lambda fetch: 60.0 if fetch >= 10 else 0.0))
        sc = spark.sparkContext
        sc.setJobGroup("iterate_close", "close cancels the partition jobs")
        before = set(threading.enumerate())
        try:
            stream = iterate_batches(out, 16, ["row_id"])
            assert len(next(stream)["row_id"]) == 16
            t0 = time.time()
            stream.close()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert time.time() - t0 < 20
        assert not [
            t for t in set(threading.enumerate()) - before if t.name.startswith("iterate_batches")
        ]
        tracker = sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup("iterate_close")]
        assert [j for j in jobs if j.status == "FAILED"]
        assert not [j for j in jobs if j.status == "RUNNING"]

    def test_frame_without_jvm_raises(self, spark, monkeypatch):
        """A frame without ``_jdf`` (what a Spark Connect frame is) gets
        pyspark's ``JVM_ATTRIBUTE_NOT_SUPPORTED`` error from
        ``iterate_batches``, not a stream by another route."""
        from pyspark.errors import PySparkAttributeError

        from scdataset_spark.pipeline import export

        class NoJvmFrame:
            def __init__(self, df):
                self._df = df

            def __getattr__(self, name):
                if name == "_jdf":
                    raise PySparkAttributeError(
                        errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                        messageParameters={"attr_name": name},
                    )
                return getattr(self._df, name)

        streamed = export._streamed

        def no_jvm(*args):
            df, unsorted = streamed(*args)
            return NoJvmFrame(df), unsorted

        monkeypatch.setattr(export, "_streamed", no_jvm)
        with pytest.raises(PySparkAttributeError, match="JVM_ATTRIBUTE_NOT_SUPPORTED"):
            next(iterate_batches(spark.range(64).selectExpr("id AS pos"), 16, ["pos"]))


class TestFetchOrderedCheck:
    def test_tracks_attribute_direction_and_count(self, spark):
        """The check the hook stage uses to skip its own exchange."""
        n = python_stage_partitions(spark.range(1))
        planned = with_batches(
            _scrambled(spark, 640), batch_size=16, fetch_factor=4, shuffle_within_fetch=True
        )
        assert _is_fetch_ordered(planned)
        assert _is_fetch_ordered(planned.select("pos", "fetch_id").where("pos > 3"))
        # the same name on other values, another order, another count,
        # and a frame with no window at all
        assert not _is_fetch_ordered(planned.withColumn("fetch_id", -F.col("fetch_id")))
        base = with_batches(_scrambled(spark, 640), batch_size=16, fetch_factor=4)
        assert not _is_fetch_ordered(base)
        assert not _is_fetch_ordered(base.repartitionByRange(n, F.col("fetch_id").desc()))
        assert not _is_fetch_ordered(base.repartitionByRange(n + 1, "fetch_id"))
        assert _is_fetch_ordered(base.repartitionByRange(n, "fetch_id"))
        # a range on another column, renamed to fetch_id
        other = base.repartitionByRange(n, "batch_id").drop("fetch_id")
        assert not _is_fetch_ordered(other.withColumnRenamed("batch_pos", "fetch_id"))


class TestRetryDeterminism:
    def test_failed_hook_attempts_give_the_clean_batches(self, tmp_path):
        """Every first attempt of the hook stage raises and is retried;
        the batches and their order must equal a clean run's, on both
        input shapes.  Runs in a child process on ``local[2,2]`` (two
        attempts per task), so the shared session keeps its master."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark import TaskContext
from scdataset_spark.operators.strategies import BlockShuffling
from scdataset_spark.pipeline.export import iterate_batches
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.plans.plan import with_batches
from scdataset_spark.session import get_spark
spark = get_spark("retry_determinism", shuffle_partitions=2)
spark.sparkContext.setLogLevel("OFF")
rows = spark.range(0, 3000, numPartitions=3).selectExpr("id AS row_id", "id * 0.5 AS v")

def flaky(pdf):
    if TaskContext.get().attemptNumber() == 0:
        with open({str(tmp_path / "failed.txt")!r}, "a") as f:
            f.write(str(shuffle) + "\\n")
        raise RuntimeError("first attempt fails")
    return pdf

out = {{"master": spark.sparkContext.master}}
for shuffle in (False, True):
    planned = with_batches(
        BlockShuffling(block_size=16, assume_dense=True).plan(rows, seed=3),
        32, fetch_factor=4, shuffle_within_fetch=shuffle, seed=5,
    ).select("row_id", "pos", "fetch_id", "v")
    out[f"want-{{shuffle}}"] = [r["row_id"] for r in planned.orderBy("pos").collect()]
    for name, hook in (("clean", None), ("flaky", flaky)):
        hooked = run_hook_pipeline(
            planned, "row_id bigint, pos bigint, fetch_id bigint, v double",
            batch_size=32, fetch_transform=hook,
        )
        out[f"{{name}}-{{shuffle}}"] = [
            [b["row_id"].tolist(), b["v"].tolist()] for b in iterate_batches(hooked, 32, ["row_id", "v"])
        ]
print(json.dumps(out))
spark.stop()
"""
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_MASTER="local[2,2]")
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["master"] == "local[2,2]"
        failed = (tmp_path / "failed.txt").read_text().split()
        assert {"False", "True"} <= set(failed)
        for shuffle in ("False", "True"):
            clean, flaky = out[f"clean-{shuffle}"], out[f"flaky-{shuffle}"]
            assert flaky == clean
            assert [len(b[0]) for b in clean] == [32] * (3000 // 32) + [3000 % 32]
            assert sum((b[0] for b in clean), []) == out[f"want-{shuffle}"]


class TestHookPipelineParallelism:
    def test_python_stage_keeps_configured_partitions(self, spark):
        """On both input shapes, with and without a ``with_batches``
        window, the Python stage runs behind the explicit-count range
        exchange, which AQE does not coalesce."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1).select("row_id", "pos", "l_quantity")
        n_conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        for shuffle in (False, True):
            planned = with_batches(
                base, batch_size=16, fetch_factor=16, shuffle_within_fetch=shuffle
            )
            out = run_hook_pipeline(
                planned,
                "row_id bigint, pos bigint, fetch_id bigint, l_quantity double",
                batch_size=16,
            )
            exchange = (
                rf"rangepartitioning\(fetch_id#\d+L ASC NULLS FIRST, {n_conf}\), "
                "REPARTITION_BY_NUM"
            )
            assert len(re.findall(exchange, plan_text(out))) == 1
            assert out.rdd.getNumPartitions() == n_conf


class TestSortBeforeFetch:
    def test_fetch_callback_sees_row_id_sorted_frame(self, spark):
        """O8/reference scdataset.py:224: the external-store fetch gets
        row_id-ASCENDING indices (sequential I/O), while the output
        stays in the strategy's pos order."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            BlockShuffling(block_size=32).plan(li, seed=9).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )

        def fetch_callback(pdf):
            assert (pdf["row_id"].diff().dropna() > 0).all(), "fetch not sorted"
            pdf = pdf.copy()
            pdf["fetched"] = pdf["row_id"] * 2
            return pdf

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint, fetched bigint",
            batch_size=32,
            fetch_callback=fetch_callback,
        )
        rows = out.orderBy("pos").collect()
        assert len(rows) == li.count()
        assert all(r["fetched"] == 2 * r["row_id"] for r in rows)
        # output order is the strategy's pos order, not fetch order
        assert [r["pos"] for r in rows] == sorted(r["pos"] for r in rows)

    def test_fetch_callback_without_row_id_raises(self):
        import pandas as pd

        process = fetch_hooks(4, fetch_callback=lambda pdf: pdf)
        with pytest.raises(ValueError, match="row_id"):
            process(pd.DataFrame({"pos": [1, 0], "fetch_id": [0, 0]}))


class TestHookDropLast:
    def test_per_fetch_drop_last(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=42).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )
        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=32,
            drop_last=True,
        )
        n = li.count()
        # per-fetch drop: only the trailing partial batch of the last
        # (partial) fetch disappears
        expected = (n // 128) * 128 + ((n % 128) // 32) * 32
        assert out.count() == expected


class TestArrowExport:
    def test_arrow_fetch_files_roundtrip(self, spark, tmp_path):
        import os

        import pyarrow.ipc as ipc

        from scdataset_spark.pipeline.export import write_arrow_fetches

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=4), batch_size=64, fetch_factor=8
        )
        out = str(tmp_path / "arrow_epoch")
        manifest = write_arrow_fetches(
            planned, out, columns=["row_id", "l_quantity"]
        ).collect()
        n_fetches = planned.select("fetch_id").distinct().count()
        assert len(manifest) == n_fetches
        assert sum(m["n_rows"] for m in manifest) == li.count()
        # every file is a readable IPC stream, pos-ordered rows
        total = 0
        for m in sorted(manifest, key=lambda m: m["fetch_id"]):
            assert os.path.exists(m["path"])
            with ipc.open_stream(m["path"]) as r:
                t = r.read_all()
            assert t.num_rows == m["n_rows"]
            rid = t.column("row_id").to_pylist()
            assert rid == sorted(rid)  # Streaming: pos order == row_id order
            total += t.num_rows
        assert total == li.count()

    def test_export_sweeps_orphaned_temp_files(self, spark, tmp_path):
        """A write attempt killed between its temp write and its rename
        leaves ``fetch_*.arrow.tmp.<uuid>``; the next export removes it."""
        from scdataset_spark.pipeline.export import write_arrow_fetches

        out = tmp_path / "arrow_epoch"
        out.mkdir()
        stale = out / "fetch_00000000.arrow.tmp.0123456789abcdef"
        stale.write_bytes(b"partial")
        planned = with_batches(
            Streaming().plan(spark.range(40).withColumnRenamed("id", "row_id"), seed=1),
            batch_size=8,
            fetch_factor=2,
        )
        write_arrow_fetches(planned, str(out), columns=["row_id"])
        assert not stale.exists()
        assert not list(out.glob("*.tmp.*"))


class TestShuffleWithinFetch:
    """shuffle_within_fetch (reference _shuffle_before_yield,
    scdataset.py:533-548): the fetched buffer is permuted before batch
    slicing.  Invariants beyond the o18 oracle's row-level check."""

    def test_permutes_within_fetch_only(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        plain = with_batches(base, batch_size=8, fetch_factor=4)
        shuf = with_batches(
            base, batch_size=8, fetch_factor=4, shuffle_within_fetch=True, seed=5
        )
        a = {r.row_id: (r.fetch_id, r.pos) for r in plain.collect()}
        b = {r.row_id: (r.fetch_id, r.pos) for r in shuf.collect()}
        assert a.keys() == b.keys()
        # same fetch for every row (permutation is fetch-local) ...
        assert all(a[k][0] == b[k][0] for k in a)
        # ... but the order inside fetches genuinely changed
        assert any(a[k][1] != b[k][1] for k in a)
        # pos stays a dense permutation of 0..n-1
        assert sorted(p for _, p in b.values()) == list(range(len(b)))

    def test_drop_last_composes(self, spark):
        """Per-fetch drop_last must act on the POST-shuffle batch ids:
        every surviving batch is full, and the kept count matches the
        plain variant (drop_last drops the same number of trailing
        rows per fetch regardless of the permutation)."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        kwargs = dict(batch_size=7, fetch_factor=3, drop_last=True)
        plain = with_batches(base, **kwargs)
        shuf = with_batches(base, shuffle_within_fetch=True, seed=9, **kwargs)
        sizes = shuf.groupBy("batch_id").count().select("count").distinct().collect()
        assert [r["count"] for r in sizes] == [7]
        assert shuf.count() == plain.count()

    def test_deterministic_per_seed(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        one = with_batches(base, batch_size=8, fetch_factor=4,
                           shuffle_within_fetch=True, seed=5)
        two = with_batches(base, batch_size=8, fetch_factor=4,
                           shuffle_within_fetch=True, seed=5)
        other = with_batches(base, batch_size=8, fetch_factor=4,
                             shuffle_within_fetch=True, seed=6)
        assert one.collect() == two.collect()
        assert one.collect() != other.collect()
