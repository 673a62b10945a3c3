"""Batch export to an ML trainer (S7, reference ``scdataset.py:538-561``).

Three export paths:

- ``iterate_batches``: driver-side iterator yielding exact
  ``batch_size`` dicts of numpy arrays in plan order — the reference's
  DataLoader-yield analogue, for single-consumer training loops.  The
  frame is sorted on ``order_col`` and streamed one partition at a
  time (``toLocalIterator`` with prefetch — nothing is collected
  whole).  The exact frame ``hooks.run_hook_pipeline`` returns is
  already in ``pos`` order partition by partition (fetch order, each
  fetch ``pos``-sorted; see that module's doc), so with
  ``order_col="pos"`` it streams without the sort: no range exchange,
  no sampling job that would run the hooks a second time, and the
  first batch arrives when the first partition is done.  Partitions
  cross to the driver as Arrow record batches: a ``mapInArrow`` stage
  writes each record batch as one Arrow IPC blob, the driver reads it
  with ``pyarrow.ipc`` and decodes each numeric column to numpy once
  per record batch.  Batches are contiguous slices of those arrays; a
  remainder carries across record-batch and partition edges.  Other
  columns (strings, nulls, arrays, ...) are built per batch from their
  Python values.  The arrays keep the dtypes ``np.array`` gives a
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

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import StructField, StructType


def iterate_batches(
    planned: DataFrame,
    batch_size: int,
    columns: list[str],
    order_col: str = "pos",
    drop_last: bool = False,
) -> Iterator[dict[str, np.ndarray]]:
    """Yield dicts of numpy arrays in ``order_col`` order, exactly
    ``batch_size`` rows per batch; only the final global partial batch
    may be shorter, and ``drop_last`` drops it.  (``with_batches``'
    ``drop_last`` instead drops each fetch's partial batch.)

    Keys are ``columns`` (duplicates collapse; ``order_col`` may be one
    of them).  Each value is the array ``np.array(values)`` would build
    from the batch's Python values, as a ``collect()`` row gives them:
    integral columns are ``int64``, floating ``float64``, boolean
    ``bool``, strings ``<U<longest in the batch>``, equal-length arrays
    of numbers a 2-D block of those dtypes; a batch that holds a null
    turns its column into an ``object`` array of Python values with
    ``None``.  Every array is writable and no two batches share memory:
    a caller may mutate a batch in place without touching another.

    The frame streams one partition at a time (``toLocalIterator`` with
    prefetch); each partition crosses as Arrow record batches (see the
    module doc).  It is sorted on ``order_col`` first, except when
    ``order_col`` is ``"pos"`` and ``planned`` is the very object
    ``run_hook_pipeline`` returned: its partitions are already in
    ``pos`` order, so it streams as it is.  Any frame derived from it
    (``.where``, ``.select``, a join) is sorted.  The unsorted stream
    checks its ``pos`` order as it goes and raises ``ValueError`` if a
    hook changed ``pos`` against the fetch order.  Columns must be types
    Spark can hand to Arrow; ``batch_size`` must be at least 1."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    names = list(dict.fromkeys(columns))
    df, unsorted = _streamed(planned, order_col, names or [order_col])
    fields = df.schema.fields
    k = df.columns.index("pos") if unsorted else None
    last = -np.inf

    def to_ipc(batches):
        # function-local import + def: pickled by value to the workers
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows:
                sink = pa.BufferOutputStream()
                with pa.ipc.new_stream(sink, rb.schema) as w:
                    w.write_batch(rb)
                blob = pa.array([sink.getvalue().to_pybytes()], pa.binary())
                yield pa.RecordBatch.from_arrays([blob], ["ipc"])

    seg: list[tuple[list, int, int]] = []  # ([(arrow, numeric)] per column, lo, hi)
    held = 0
    for row in df.mapInArrow(to_ipc, "ipc binary").toLocalIterator(prefetchPartitions=True):
        rb = pa.ipc.open_stream(pa.py_buffer(row[0])).read_next_batch()
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


def _streamed(
    planned: DataFrame, order_col: str, ship: list[str]
) -> tuple[DataFrame, bool]:
    """The frame ``iterate_batches`` streams, ``ship`` in ``order_col``
    order partition by partition, and whether it streams unsorted.  It
    is sorted unless it is the exact object ``run_hook_pipeline``
    returned and the order is its ``pos`` (a private marker on that
    object, not on its plan).  Unsorted, ``pos`` also rides along, last
    when not shipped, so the driver can check the order it relies on."""
    if (
        order_col == "pos"
        and vars(planned).get("_partitions_in_pos_order", False)
        and "pos" in planned.columns
    ):
        return planned.select(*dict.fromkeys([*ship, "pos"])), True
    keep = dict.fromkeys([order_col, *ship])
    return planned.select(*keep).orderBy(order_col).select(*ship), False


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
    order_col: str = "pos",
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
    """
    import glob
    import os

    os.makedirs(out_dir, exist_ok=True)
    for pattern in ("fetch_*.arrow", "fetch_*.arrow.tmp.*"):
        for stale in glob.glob(os.path.join(out_dir, pattern)):
            os.remove(stale)

    def write_fetch(pdf):
        # function-local import + def: pickled by value to the workers
        import os
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.ipc as ipc

        pdf = pdf.sort_values(order_col).reset_index(drop=True)
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

    # dedupe: callers may list order_col/fetch_id among columns
    out_cols = list(dict.fromkeys(columns))
    sel = list(dict.fromkeys(["fetch_id", order_col, *columns]))
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
