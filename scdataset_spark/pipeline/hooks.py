"""Transform-hook pipeline (T1-T4): the reference's four user hooks as a
single Arrow-vectorized ``applyInPandas`` stage.

Reference execution order (``src/scdataset/scdataset.py:523-558``,
diagram ``docs/source/transforms.rst:39-63``):

    strategy → fetch_callback → fetch_transform
             → batch_callback → batch_transform → yield

On Spark the *fetch* is the natural Arrow chunk: the planned frame is
grouped by ``fetch_id`` (one group = one fetch = ``batch_size *
fetch_factor`` rows, the reference's amortized-vectorized unit), the
user's ``fetch_transform`` runs once per fetch on a pandas DataFrame,
then batches are sliced inside the same stage and ``batch_transform``
runs per batch — exactly the reference's granularity, with Spark's
scheduler playing the role of DataLoader workers (one fetch group = one
task; reference O14 worker splitting is subsumed).

``fetch_callback`` (T1 — the raw read) is Spark's own columnar scan; a
custom source belongs in ``sources/``, not here.

Partition order: the stage's input is partitioned once by range on
``fetch_id`` (``plans.plan._fetch_ordered``; a ``with_batches`` window
already did it, and then no second exchange is added).  So every fetch
is one group of one partition, groups run in ascending ``fetch_id``
within a partition, and partition ``i`` holds only fetches below those
of partition ``i + 1``.  Each fetch's output leaves the stage sorted by
``pos`` when ``pos`` is an output column, even if a hook reordered it.
With ``with_batches``' ``fetch_id = pos div fetch_size`` (hooks keeping
each row's ``pos``), the output in partition order is therefore in
``pos`` order, and ``export.iterate_batches`` streams it without a
global sort, which would run every hook a second time to sample it.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame

from scdataset_spark.plans.plan import _fetch_ordered, _is_fetch_ordered


def run_hook_pipeline(
    planned: DataFrame,
    output_schema: str,
    batch_size: int,
    fetch_callback: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    fetch_transform: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    batch_callback: Callable[[pd.DataFrame, "object"], pd.DataFrame] | None = None,
    batch_transform: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    drop_last: bool = False,
) -> DataFrame:
    """Run the hook pipeline over a planned frame (needs ``pos``,
    ``fetch_id`` columns from plans.with_batches / a strategy).

    ``fetch_callback`` (T1) is the custom-store fetch: it receives the
    fetch's *plan* rows (row_id/pos) sorted on ``row_id`` and returns
    them enriched with data columns pulled from an external store
    (memmap, HTTP, SQL — the reference's ``fetch_callback(collection,
    indices)``).  When None, the data is assumed to already ride on the
    planned frame (Spark's columnar scan was the fetch).

    ``batch_callback`` (T3) is the custom batch *extraction*
    (reference ``src/scdataset/scdataset.py:48-59,540-558``): it
    receives the whole post-``fetch_transform`` fetch frame plus the
    batch's positional indices (a ``numpy.ndarray``) and returns the
    batch — the default being positional indexing
    (``fetch.iloc[batch_indices]``), exactly the reference's
    ``fetched_data[batch_indices]``.

    Returns a DataFrame with ``output_schema``; the hooks see pandas
    frames sorted by ``pos`` (the strategy's yield order), matching the
    reference contract that hooks observe fetch/batch order
    (``docs/source/transforms.rst:39-63``).  Each hook runs once per
    fetch, through :func:`fetch_hooks`.

    The input is range-partitioned on ``fetch_id`` unless Spark's plan
    shows it already is (see the module doc); the returned frame's
    partitions hold its fetches in ascending ``fetch_id``, each sorted
    by ``pos`` when the output has ``pos``.  ``iterate_batches`` streams
    exactly this returned object in that order with no sort; a frame
    derived from it is sorted as usual.  That order is ``pos`` order
    when ``fetch_id`` grows with ``pos`` (``with_batches`` builds it so)
    and the hooks keep each row's ``pos``; the stream checks this and
    raises if it does not hold.
    """
    process_fetch = fetch_hooks(
        batch_size, fetch_callback, fetch_transform, batch_callback, batch_transform, drop_last
    )
    # the explicit partition count of the fetch-ordered exchange keeps
    # AQE's byte-based coalescing from putting this per-ROW Python stage
    # on a few cores (measured at sf0.1: 11/32 tasks, 0.99 s vs 0.70 s)
    if not _is_fetch_ordered(planned):
        planned = _fetch_ordered(planned)
    out = planned.groupBy("fetch_id").applyInPandas(process_fetch, schema=output_schema)
    out._partitions_in_pos_order = True  # this object only; see iterate_batches
    return out


def fetch_hooks(
    batch_size: int,
    fetch_callback: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    fetch_transform: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    batch_callback: Callable[[pd.DataFrame, "object"], pd.DataFrame] | None = None,
    batch_transform: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    drop_last: bool = False,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """THE per-fetch hook function, in the reference's order: sort on
    ``row_id`` → ``fetch_callback`` → sort on ``pos`` →
    ``fetch_transform`` → per ``batch_size`` slice ``batch_callback`` →
    ``batch_transform``; the fetch leaves sorted on ``pos`` when it has
    one.  :func:`run_hook_pipeline` ships it to the executors and
    ``autoconfig.estimate_sample_bytes_measured`` runs it on its sample.
    Each call first drops the worker's zip importers that the next
    task's set-up would re-read (see :func:`_zip_importer_pruner`).
    The returned function is nested and names nothing of this package,
    so cloudpickle ships it by value: a worker never has to import
    ``scdataset_spark``."""

    def in_pos_order(pdf: pd.DataFrame) -> pd.DataFrame:
        # O(n) monotonicity probe before the O(n log n) sort+copy: the
        # group usually already arrives in plan (pos) order, and the
        # hooks' contract is about ORDER, not about which object holds it
        if pdf["pos"].is_monotonic_increasing:
            return pdf
        return pdf.sort_values("pos", ignore_index=True)

    def run_hooks(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if fetch_callback is not None:
            # reference scdataset.py:224,520: indices are ALWAYS sorted
            # before the external fetch (sequential I/O against the
            # store); yield order is restored by the pos sort below.
            # Missing row_id is a broken contract, not a silent fallback.
            if "row_id" not in pdf.columns:
                raise ValueError(
                    "fetch_callback requires a row_id column on the planned "
                    "frame (the fetch reads the store in row_id order)"
                )
            if not pdf["row_id"].is_monotonic_increasing:
                pdf = pdf.sort_values("row_id", ignore_index=True)
            pdf = fetch_callback(pdf)
        pdf = in_pos_order(pdf)
        if fetch_transform is not None:
            pdf = fetch_transform(pdf)
        if batch_callback is None and batch_transform is None and not drop_last:
            # batches are contiguous slices of the fetch and no batch
            # hook runs — slicing and re-concatenating would be a no-op
            return pdf
        n = len(pdf)
        out = []
        for start in range(0, n, batch_size):
            stop = min(start + batch_size, n)
            if drop_last and stop - start < batch_size:
                continue
            if batch_callback is not None:
                batch = batch_callback(pdf, np.arange(start, stop))
            else:
                # contiguous iloc slice: a view-backed block take, no
                # positional-index fancy indexing
                batch = pdf.iloc[start:stop]
            if batch_transform is not None:
                batch = batch_transform(batch)
            out.append(batch)
        if not out:
            return pdf.iloc[0:0]
        return pd.concat(out, ignore_index=True)

    prune_zip_importers = _zip_importer_pruner()

    def process_fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        prune_zip_importers()
        out = run_hooks(pdf)
        # the stage's partition-order contract: a fetch leaves in pos
        # order even when a hook reordered it
        return in_pos_order(out) if "pos" in out.columns else out

    return process_fetch


def _zip_importer_pruner() -> Callable[[], None]:
    """A function that drops from ``sys.path_importer_cache`` the zip
    importers a Python worker's next task would re-read.

    Spark reuses a Python worker across tasks, and each task's set-up
    calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), which makes every
    ``zipimport.zipimporter`` in that cache re-read its archive's whole
    directory.  A worker that imports pyspark from ``pyspark.zip`` holds
    one importer per imported sub-package besides the top-level ones of
    ``pyspark.zip``, the py4j archive and Spark's core jar: 16 directory
    reads, 0.1-0.3 s of worker CPU per task before its first row
    (4 cores, ``artifacts/pr20/``).  The function drops every
    sub-package importer (non-empty ``prefix``) and the top-level
    importers of the archives ``pyspark`` and ``py4j`` came from and of
    jars, so the next set-up re-reads none of them; only a user's own
    top-level archives stay and are refreshed as before.  A later import
    still resolves: the path hook builds a new importer from
    ``zipimport._zip_directory_cache`` without reading the archive.
    The loader stages' per-fetch functions call it first.

    The function is nested and imports what it uses, so cloudpickle
    ships it by value, as it ships :func:`fetch_hooks`."""

    def prune() -> None:
        import sys
        import zipimport

        loaders = [getattr(sys.modules.get(m), "__loader__", None) for m in ("pyspark", "py4j")]
        spark_archives = {ld.archive for ld in loaders if isinstance(ld, zipimport.zipimporter)}
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter) and (
                finder.prefix
                or finder.archive in spark_archives
                or finder.archive.endswith(".jar")
            ):
                sys.path_importer_cache.pop(path, None)

    return prune
