"""Auto-configuration advisor (C1-C3, reference
``src/scdataset/experimental/auto_config.py:278-525``).

The reference probes the machine with psutil, measures a 16-row sample
through the hook pipeline, and derives ``fetch_factor`` from the RAM
inequality ``2 * batch * workers * sample_bytes < 0.2 * RAM`` (clamped
to [1, 256]), block-size presets (ff/2, ff, 2ff) and
``prefetch = ff + 1``.

This module keeps the same math but emits *Spark* knobs: shuffle
partition count, ``files.maxPartitionBytes``, Arrow batch size, and the
fetch/block parameters for the planner.  Pure driver-side arithmetic —
the only Spark job is the optional row-size sample.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def estimate_row_bytes(df: DataFrame, sample_rows: int = 16, id_col: str = "row_id") -> float:
    """C2: average serialized row size from a deterministic sample (the
    ``sample_rows`` smallest ids — reference uses the first n rows).

    Sizes scalar columns from the schema and variable-width columns
    (strings, arrays) from the sampled data.
    """
    fixed = 0.0
    var_exprs = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("bigint", "double", "timestamp"):
            fixed += 8
        elif t in ("int", "float", "date"):
            fixed += 4
        elif t in ("smallint",):
            fixed += 2
        elif t in ("boolean", "tinyint"):
            fixed += 1
        elif t == "string":
            var_exprs.append(F.octet_length(F.col(f.name)))
        elif t.startswith("array"):
            elem = 4 if "float" in t or "int>" in t else 8
            var_exprs.append(F.size(F.col(f.name)) * elem)
    if not var_exprs:
        return fixed
    total_var = sum(var_exprs[1:], var_exprs[0])
    sample = df.orderBy(id_col).limit(sample_rows)
    avg_var = sample.agg(F.avg(total_var)).first()[0] or 0.0
    return fixed + float(avg_var)


def estimate_sample_bytes_measured(
    df: DataFrame,
    n_samples: int = 16,
    id_col: str = "row_id",
    fetch_callback=None,
    fetch_transform=None,
    batch_callback=None,
    batch_transform=None,
) -> float:
    """C2, measured through the hooks (reference
    ``src/scdataset/experimental/auto_config.py:164-275``
    ``estimate_sample_size``): pull the ``n_samples`` smallest-id rows
    to the driver and run them through the SAME user hooks the training
    pipeline will run — fetch_callback → fetch_transform →
    batch_callback → batch_transform — then measure actual pandas
    memory.  A transform that inflates rows (tokenize, densify, decode)
    is *measured*, not schema-guessed; :func:`estimate_row_bytes` stays
    the zero-hook fast path.

    Driver-side by design: 16 rows, exactly like the reference, run
    as one fetch of one batch through ``pipeline.hooks.fetch_hooks``,
    the function the pipeline ships to its executors.
    """
    import numpy as np

    from scdataset_spark.pipeline.hooks import fetch_hooks

    if n_samples <= 0:
        raise ValueError(f"n_samples must be positive, got {n_samples}")
    pdf = df.orderBy(id_col).limit(n_samples).toPandas()
    if len(pdf) == 0:
        return 0.0
    if "pos" not in pdf.columns:
        pdf = pdf.assign(pos=np.arange(len(pdf), dtype=np.int64))
    pdf = fetch_hooks(
        len(pdf), fetch_callback, fetch_transform, batch_callback, batch_transform
    )(pdf)
    return float(pdf.memory_usage(deep=True, index=False).sum()) / len(pdf)


@dataclass
class SuggestedConfig:
    fetch_factor: int
    block_sizes: tuple[int, int, int]
    prefetch_factor: int
    shuffle_partitions: int
    max_partition_bytes: int
    arrow_batch_rows: int

    def spark_confs(self) -> dict[str, str]:
        return {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.files.maxPartitionBytes": str(self.max_partition_bytes),
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(self.arrow_batch_rows),
        }


def _available_ram_bytes() -> int:
    """AVAILABLE (not total) RAM, matching the reference's
    ``psutil.virtual_memory().available`` budget (auto_config.py): on a
    loaded host, budgeting against total RAM would oversize
    fetch_factor/maxPartitionBytes.  Prefers psutil when importable,
    then /proc/meminfo MemAvailable, then total-RAM sysconf, then 8 GiB.

    >>> _available_ram_bytes() > 0
    True
    """
    try:
        import psutil

        return int(psutil.virtual_memory().available)
    except ImportError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return 8 << 30


def suggest_parameters(
    batch_size: int,
    sample_bytes: float,
    total_ram_bytes: int | None = None,
    cores: int | None = None,
    ram_fraction: float = 0.2,
) -> SuggestedConfig:
    """C3: the reference's sizing formula, re-targeted at Spark knobs.

    fetch_factor: largest ff with 2 * batch * workers * sample_bytes * ff
    below ``ram_fraction`` of RAM, clamped to [1, 256] (reference
    ``auto_config.py:449-471``).  workers == cores here: in local mode
    every core runs a task; on a cluster substitute executor cores.
    """
    if batch_size <= 0 or sample_bytes <= 0:
        raise ValueError("batch_size and sample_bytes must be positive")
    cores = cores or os.cpu_count() or 8
    workers = max(1, min(cores // 2, 16))  # reference preset
    if total_ram_bytes is None:
        total_ram_bytes = _available_ram_bytes()
    budget = ram_fraction * total_ram_bytes
    ff = int(budget / (2 * batch_size * workers * sample_bytes))
    ff = max(1, min(ff, 256))
    fetch_bytes = batch_size * ff * sample_bytes
    # one fetch == one partition: size maxPartitionBytes to the fetch,
    # clamped to [8 MiB, 512 MiB] so tasks neither spray nor spill
    mpb = int(min(max(fetch_bytes, 8 << 20), 512 << 20))
    return SuggestedConfig(
        fetch_factor=ff,
        block_sizes=(max(1, ff // 2), ff, 2 * ff),
        prefetch_factor=ff + 1,
        shuffle_partitions=max(cores * 2, 16),
        max_partition_bytes=mpb,
        arrow_batch_rows=max(batch_size * ff, 1000),
    )
