"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configuration below is chosen so
the same code scales to a multi-executor cluster: AQE handles runtime
re-planning (partition coalescing, skew joins), Arrow is enabled for the
pandas-UDF hook pipeline, and the session timezone is pinned to UTC so
date semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "scdataset_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    AQE is on: at 100 TB the static ``shuffle.partitions`` is only an
    upper bound — AQE coalesces small post-shuffle partitions and splits
    skewed ones at runtime, so the same plan works at sf0.001 and at
    cluster scale.
    """
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE decides the FINAL partition count, so start fine-grained:
        # with initialPartitionNum = shuffle.partitions = cores, a
        # billion-row aggregation runs in `cores` tasks whose per-task
        # hash state spills for the whole stage (sf100 ngram-jaccard:
        # 1.9B pair rows / 32 tasks = 60M rows per task, warm 16x for
        # 10x data).  A high initial count costs nothing at small SF —
        # AQE coalesces tiny partitions back down — and bounds per-task
        # state at scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(max(256, 8 * sp))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Shuffle/spill compression is a measured trade, not a free
        # lunch: zstd is ~1.5-2x denser than lz4 on wide-row shuffles —
        # the difference between fitting and filling local scratch on
        # spill-heavy jobs (the sf100 ingest sort exhausted a 53 GB
        # volume under lz4) — but costs ~2x wall on CPU-bound
        # Arrow-shuffle paths (t_hook_pipeline at sf0.1: 1.7-2.0 s warm
        # under lz4 vs 3.4-3.9 s under zstd, measured 3-run A/B).
        # Default stays lz4 (Spark's own default; shuffles here are
        # CPU-bound, not scratch-bound); scratch-constrained runs
        # (scale_audit / make_big_sf ingest) opt into zstd via env.
        .config("spark.io.compression.codec", os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{sp}]"))
    return builder.getOrCreate()


def python_stage_partitions(df) -> int:
    """Partition count for an explicit ``repartition(n, key)`` feeding a
    per-row/per-group Python stage (guide §2.2/§4, r15 t_hook fix):
    AQE's partition coalescing targets BYTES, so the small plan rows
    ahead of an ``applyInPandas``/``mapInPandas`` stage collapse to a
    handful of post-shuffle partitions — and the Python stage, whose
    cost is per-ROW user code rather than bytes, runs on a fraction of
    the cores.  A user-specified partition count is exempt from AQE
    coalescing; size it from ``spark.sql.shuffle.partitions`` (the
    deployment's parallelism knob — not a local constant), falling back
    to ``defaultParallelism`` when the conf is non-numeric (e.g.
    ``"auto"`` on some platforms)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _cluster_width(df) -> int:
    """Target parallelism for widening and width-scaled physical counts:
    the session's ``defaultParallelism``, at least 8."""
    return max(8, df.sparkSession.sparkContext.defaultParallelism)


def input_probe(df) -> tuple[int, int | None]:
    """``(file count, total bytes)`` of the frame's input files — THE
    size estimate behind every size-gated physical shape, driver-side
    and without a Spark job.

    One ``inputFiles()`` call (distinct files over all scan leaves).
    The bytes are ``None`` unless every file is on the local filesystem
    and statable: no file lineage, a non-``file:`` scheme (object
    stores) or an ``OSError`` all give ``None``, and every gate reads
    ``None`` as "take the scale shape" — the safe posture when the size
    is unknown.  The count is reported either way (``widen_if_narrow``
    trusts a large remote file count on its own)."""
    try:
        files = df.inputFiles()
    except Exception:  # no file-backed lineage to list
        return 0, None
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return len(files), None
        try:
            total += os.path.getsize(unquote(p.path))
        except OSError:
            return len(files), None
    return len(files), (total if files else None)
