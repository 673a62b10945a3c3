"""Cold lineitem ingest of a private copy: wall time and Spark job count.

Usage: PYTHONPATH=<tree> python ingest_probe.py SRC_SF_DIR WORK_DIR LABEL
Prints one JSON line {label, ingest_s, jobs, rows}.
"""
import json, os, shutil, sys, time, uuid
from scdataset_spark.catalog import ensure_ingested, ingest_dir, ingest_parts
from scdataset_spark.session import get_spark

src, work, label = sys.argv[1:4]
private = os.path.join(work, f"in-{uuid.uuid4().hex}")
os.makedirs(private)
shutil.copy2(os.path.join(src, "lineitem.parquet"), private) if os.path.isfile(
    os.path.join(src, "lineitem.parquet")) else shutil.copytree(
    os.path.join(src, "lineitem.parquet"), os.path.join(private, "lineitem.parquet"))
spark = get_spark("ingest_probe"); spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
out = ingest_dir(private, ingest_parts(spark))
try:
    sc.setJobGroup("ingest", "ingest")
    t0 = time.perf_counter()
    ensure_ingested(spark, private, tables=["lineitem"])
    dt = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup("ingest"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    rows = spark.read.parquet(os.path.join(out, "lineitem.parquet")).count()
    print(json.dumps({"label": label, "ingest_s": round(dt, 3), "jobs": jobs, "rows": rows}), flush=True)
finally:
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(private, ignore_errors=True)
