"""Batch export to an ML trainer (S7, reference ``scdataset.py:538-561``).

Three export paths:

- ``iterate_batches``: driver-side iterator yielding exact
  ``batch_size`` dicts of numpy arrays in plan order — the reference's
  DataLoader-yield analogue, for single-consumer training loops.  The
  frame is sorted on ``pos`` and streamed partition by partition,
  nothing collected whole.  The exact frame ``hooks.run_hook_pipeline``
  returns is already in ``pos`` order partition by partition (fetch
  order, each fetch ``pos``-sorted; see that module's doc), so it
  streams without the sort: no range exchange, no sampling job that
  would run the hooks a second time, and the first batch arrives when
  the first partition is done.
  Both frames cross to the driver through one transport: the JVM
  encodes each partition as Arrow record batches
  (``toArrowBatchRdd``), one single-partition job fetches it, and up to
  ``session._cluster_width`` of those jobs run at once from a driver
  thread pool — the reference's ``num_workers`` DataLoader workers
  fetching ahead.  Partitions are handed out strictly in partition
  order, so the driver holds at most that many fetched partitions ahead
  of the one it is handing out (the reference likewise caps its
  prefetch buffer by RAM).  The pool threads keep the caller's job
  group; the jobs run outside any SQL execution, so they carry no
  ``spark.sql.execution.id`` (count them by job group).  Closing the
  iterator cancels the jobs still running.
  The driver decodes each numeric column to numpy once per record
  batch.  Batches are contiguous slices of those arrays; a remainder
  carries across record-batch and partition edges.  Other columns
  (strings, nulls, arrays, ...) are built per batch from their Python
  values.  The arrays keep the dtypes ``np.array`` gives a
  ``collect()`` row's values (see the function doc) and are writable.

- ``write_epoch_plan``: the scale path.  Materializes one epoch as
  parquet partitioned by ``fetch_id`` with rows sorted by ``pos``
  inside each fetch — trainers (one or many ranks) then read their
  round-robin share of fetch files directly, which is exactly the
  reference's rank/worker partitioning (O13/O14) expressed as files.
  No driver bottleneck, resumable, shardable.

- ``write_arrow_fetches``: the same hand-off as Arrow IPC files, one
  per fetch, written by the executors.

Torch conversion is a thin optional wrapper — torch is not a hard
dependency of the engine.
"""

from __future__ import annotations

import uuid
from collections import deque
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import closing

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import StructField, StructType

from scdataset_spark.pipeline.hooks import _zip_importer_pruner
from scdataset_spark.session import _cluster_width


def iterate_batches(
    planned: DataFrame,
    batch_size: int,
    columns: list[str],
    drop_last: bool = False,
) -> Iterator[dict[str, np.ndarray]]:
    """Yield dicts of numpy arrays in ``pos`` order, exactly
    ``batch_size`` rows per batch; only the final global partial batch
    may be shorter, and ``drop_last`` drops it.  (``with_batches``'
    ``drop_last`` instead drops each fetch's partial batch.)

    Keys are ``columns`` (duplicates collapse; ``pos`` may be one of
    them).  Each value is the array ``np.array(values)`` would build
    from the batch's Python values, as a ``collect()`` row gives them:
    integral columns are ``int64``, floating ``float64``, boolean
    ``bool``, strings ``<U<longest in the batch>``, equal-length arrays
    of numbers a 2-D block of those dtypes; a batch that holds a null
    turns its column into an ``object`` array of Python values with
    ``None``.  Every array is writable and no two batches share memory:
    a caller may mutate a batch in place without touching another.

    The frame streams partition by partition in partition order, up to
    ``session._cluster_width`` single-partition jobs in flight; each
    partition crosses as JVM-encoded Arrow record batches (see the
    module doc).  The driver holds at most that many fetched partitions
    besides the one it is handing out.  The jobs keep the caller's job
    group but carry no SQL execution id; closing the iterator cancels
    the ones still running.  It is sorted on ``pos`` first, except when
    ``planned`` is the very object ``run_hook_pipeline`` returned: its
    partitions are already in ``pos`` order, so it streams as it is.
    Any frame derived from it (``.where``, ``.select``, a join) is
    sorted.  The unsorted stream checks its ``pos`` order as it goes
    and raises ``ValueError`` if a hook changed ``pos`` against the
    fetch order.  Columns must be types Spark can hand to Arrow;
    ``batch_size`` must be at least 1."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    names = list(dict.fromkeys(columns))
    df, unsorted = _streamed(planned, names or ["pos"])
    fields = df.schema.fields
    k = df.columns.index("pos") if unsorted else None
    last = -np.inf

    seg: list[tuple[list, int, int]] = []  # ([(arrow, numeric)] per column, lo, hi)
    held = 0
    with closing(_arrow_partitions(df)) as stream:
        for rb in stream:
            if not rb.num_rows:
                continue
            cols = [(a, _numeric(a)) for a in rb.columns]
            if unsorted:
                p = cols[k][1]
                if p is None or p[0] < last or (p[1:] < p[:-1]).any():
                    raise ValueError(
                        "run_hook_pipeline's output is not in pos order: a hook "
                        "changed pos, or fetch_id does not grow with pos"
                    )
                last = p[-1]
            lo, n = 0, rb.num_rows
            while lo < n:
                take = min(batch_size - held, n - lo)
                seg.append((cols, lo, lo + take))
                held += take
                lo += take
                if held == batch_size:
                    yield _assemble(seg, names, fields)
                    seg, held = [], 0
    if seg and not drop_last:
        yield _assemble(seg, names, fields)


def _arrow_partitions(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """``df``'s Arrow record batches, partition after partition in
    partition order: THE driver transport of ``iterate_batches``.

    The JVM encodes each partition (``toArrowBatchRdd``); one
    single-partition job per partition fetches its frames, run from a
    thread pool with up to ``width = _cluster_width(df)`` jobs in
    flight.  Partition ``i + width`` is submitted when partition ``i``
    is handed out, so the driver holds at most ``width`` fetched
    partitions besides the current one.  The pool is built at the first
    ``next()``, so its threads take the job group current then.  Every
    job carries one private job tag; closing the stream cancels the jobs
    still running and joins the pool."""
    from pyspark import inheritable_thread_target
    from pyspark.core.rdd import _load_from_socket
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = df.sparkSession
    sc = spark.sparkContext
    # the schema pyspark's own toArrow decodes the JVM's batches with
    schema = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    n = jrdd.getNumPartitions()
    width = min(_cluster_width(df), n)
    if not width:
        return
    tag = f"iterate_batches-{uuid.uuid4().hex}"

    @inheritable_thread_target(spark)
    def fetch(i: int) -> list[bytes]:
        sc.addJobTag(tag)
        sock = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, [i])
        return list(_load_from_socket(sock, NoOpSerializer()))

    pool = ThreadPoolExecutor(max_workers=width, thread_name_prefix="iterate_batches")
    pending = deque(pool.submit(fetch, i) for i in range(width))
    try:
        for i in range(n):
            frames = pending.popleft().result()
            if i + width < n:
                pending.append(pool.submit(fetch, i + width))
            for frame in frames:
                yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)
    finally:
        # a job submitted just after a cancel escapes it: repeat until
        # every outstanding fetch has ended
        while not all(f.done() for f in pending):
            sc.cancelJobsWithTag(tag)
            wait(pending, timeout=0.1)
        pool.shutdown()


def _streamed(planned: DataFrame, ship: list[str]) -> tuple[DataFrame, bool]:
    """The frame ``iterate_batches`` streams, ``ship`` in ``pos`` order
    partition by partition, and whether it streams unsorted.  It is
    sorted unless it is the exact object ``run_hook_pipeline`` returned
    (a private marker on that object, not on its plan).  Unsorted,
    ``pos`` also rides along, last when not shipped, so the driver can
    check the order it relies on."""
    if vars(planned).get("_partitions_in_pos_order", False) and "pos" in planned.columns:
        return planned.select(*dict.fromkeys([*ship, "pos"])), True
    keep = dict.fromkeys(["pos", *ship])
    return planned.select(*keep).orderBy("pos").select(*ship), False


def _numeric(arr: pa.Array) -> np.ndarray | None:
    """A null-free integral, floating or boolean column as the array
    ``np.array`` builds from its Python values.  Every slice of it gets
    that dtype too, so one decode per record batch serves all of its
    batches.  None for any other column."""
    t = arr.type
    if arr.null_count:
        return None
    if pa.types.is_integer(t):
        dtype = np.int64
    elif pa.types.is_floating(t):
        dtype = np.float64
    elif pa.types.is_boolean(t):
        dtype = np.bool_
    else:
        return None
    return arr.to_numpy(zero_copy_only=False).astype(dtype)


def _assemble(
    seg: list[tuple[list, int, int]], names: list[str], fields: list[StructField]
) -> dict[str, np.ndarray]:
    """One batch from its record-batch segments: slices of the decoded
    numeric arrays where every segment has one, else ``np.array`` of the
    batch's Python values as ``collect()`` gives them (strings, nulls,
    arrays and every other type, whose dtype or shape depends on the
    batch)."""
    out = {}
    for j, name in enumerate(names):
        done = [cols[j][1] for cols, _, _ in seg]
        if all(d is not None for d in done):
            parts = [d[lo:hi] for d, (_, lo, hi) in zip(done, seg)]
            out[name] = parts[0] if len(parts) == 1 else np.concatenate(parts)
            continue
        arr = pa.concat_arrays([cols[j][0].slice(lo, hi - lo) for cols, lo, hi in seg])
        rows = ArrowTableToRowsConversion.convert(
            pa.table([arr], names=["v"]), StructType([fields[j]]), return_as_tuples=True
        )
        out[name] = np.array([r[0] for r in rows])
    return out


def write_epoch_plan(
    planned: DataFrame,
    path: str,
    columns: list[str],
) -> None:
    """Write one epoch as fetch-partitioned parquet (see module doc).

    ``repartition(fetch_id)`` + ``sortWithinPartitions(fetch_id, pos)``
    keeps one fetch per task and yield order inside each file — sorted,
    block-local I/O for the trainer, the reference's headline
    optimization preserved across the export boundary.

    The sort MUST lead with ``fetch_id``: Spark's partitioned-file
    writer requires its input ordered by the partition columns and
    silently inserts its own (unstable) sort when it isn't — a
    ``pos``-only sortWithinPartitions gets obliterated and fetch files
    come out pos-UNsorted (caught by the multi-process consumer test).
    Leading with ``fetch_id`` satisfies the writer's required ordering,
    so no extra sort is added and the ``pos`` suborder survives."""
    (
        planned.select("fetch_id", "pos", *columns)
        .repartition("fetch_id")
        .sortWithinPartitions("fetch_id", "pos")
        .write.partitionBy("fetch_id")
        .mode("overwrite")
        .parquet(path)
    )


def to_torch(batch: dict[str, np.ndarray]):  # pragma: no cover - torch optional
    """Optional torch conversion; gated import (torch is not baked in)."""
    try:
        import torch
    except ImportError:
        raise NotImplementedError(
            "torch is not installed in this environment; consume numpy batches"
        ) from None
    return {k: torch.from_numpy(np.ascontiguousarray(v)) for k, v in batch.items()}


def write_arrow_fetches(
    planned: DataFrame,
    out_dir: str,
    columns: list[str],
) -> DataFrame:
    """Arrow-IPC export: one ``fetch_{id}.arrow`` stream file per fetch,
    rows pos-sorted inside — the zero-copy trainer hand-off (torch/JAX
    readers mmap Arrow record batches directly; no parquet decode on
    the hot loop).  Files are written BY THE EXECUTORS (one fetch group
    = one task = one file, same layout discipline as
    ``write_epoch_plan``), so there is no driver bottleneck; ``out_dir``
    must be a shared filesystem path in a real cluster.

    The export runs EAGERLY (exactly once, results checkpointed) and
    stale ``fetch_*.arrow`` files from a previous export into the same
    directory are removed first, with the ``fetch_*.arrow.tmp.*`` files
    of attempts killed before their rename — a trainer globbing the
    directory sees only this epoch's files.  Returns the materialized
    manifest DataFrame (fetch_id, n_rows, path).

    The per-fetch writer first drops the Python worker's zip importers
    (``hooks._zip_importer_pruner``), so the worker's next task does not
    re-read ``pyspark.zip`` in its set-up.
    """
    import glob
    import os

    os.makedirs(out_dir, exist_ok=True)
    for pattern in ("fetch_*.arrow", "fetch_*.arrow.tmp.*"):
        for stale in glob.glob(os.path.join(out_dir, pattern)):
            os.remove(stale)

    prune_zip_importers = _zip_importer_pruner()

    def write_fetch(pdf):
        # function-local import + def: pickled by value to the workers
        prune_zip_importers()
        import os
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.ipc as ipc

        pdf = pdf.sort_values("pos").reset_index(drop=True)
        fetch_id = int(pdf["fetch_id"].iloc[0])
        path = os.path.join(out_dir, f"fetch_{fetch_id:08d}.arrow")
        table = pa.Table.from_pandas(pdf[out_cols], preserve_index=False)
        # per-attempt unique tmp: speculative/zombie duplicate attempts
        # must not interleave writes before the atomic rename
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with ipc.new_stream(tmp, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, path)
        return pd.DataFrame(
            {"fetch_id": [fetch_id], "n_rows": [len(pdf)], "path": [path]}
        )

    # dedupe: callers may list pos/fetch_id among columns
    out_cols = list(dict.fromkeys(columns))
    sel = list(dict.fromkeys(["fetch_id", "pos", *columns]))
    manifest = planned.select(*sel).groupBy("fetch_id").applyInPandas(
        write_fetch, schema="fetch_id bigint, n_rows bigint, path string"
    )
    # localCheckpoint(eager): the write happens NOW, exactly once; re-
    # evaluating the returned manifest cannot re-run the export tasks
    return manifest.localCheckpoint(eager=True)


def epoch_plans(strategy, df: DataFrame, seed: int, start_epoch: int = 0):
    """Auto-incrementing-epoch generator (reference
    ``scdataset.py:466-475``: each full iteration re-shuffles without a
    manual ``set_epoch``): yields ``(epoch, plan)`` pairs, one
    deterministic plan per epoch — ``next()`` is the Spark analogue of
    starting the next pass over an ``IterableDataset``.

    >>> # for epoch, plan in epoch_plans(BlockShuffling(64), df, seed=1):
    >>> #     train_one_epoch(with_batches(plan, 64, 16)); ...
    """
    epoch = start_epoch
    while True:
        yield epoch, strategy.plan(df, seed=seed, epoch=epoch)
        epoch += 1
