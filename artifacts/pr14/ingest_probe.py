"""Lineitem ingest job count and ingested files/bytes, from a checkout root:
    PYTHONPATH=. python ingest_probe.py /path/to/sf0.1 [slices]"""
import json
import os
import shutil
import sys
import tempfile

import scdataset_spark.catalog as cat
from scdataset_spark.session import get_spark

src = sys.argv[1]
slices = int(sys.argv[2]) if len(sys.argv) > 2 else 1
spark = get_spark("ingest_probe")
spark.sparkContext.setLogLevel("ERROR")
work = tempfile.mkdtemp()
private = os.path.join(work, f"in-{os.getpid()}")
os.makedirs(private)
for t in ("lineitem", "orders", "events"):
    shutil.copy(os.path.join(src, f"{t}.parquet"), private)
root = cat.ingest_dir(private, cat.ingest_parts(spark))
sc = spark.sparkContext
sc.setJobGroup("probe", "lineitem ingest")
cat.ensure_ingested(spark, private, tables=("lineitem",), slices=slices)
jobs = len(sc.statusTracker().getJobIdsForGroup("probe"))
sc.setLocalProperty("spark.jobGroup.id", None)
cat.ensure_ingested(spark, private, slices=slices)
out = {"slices": slices, "lineitem_jobs": jobs}
for t in ("lineitem", "orders", "events"):
    d = os.path.join(root, f"{t}.parquet")
    fs = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    out[t] = {"files": len(fs), "bytes": sum(map(os.path.getsize, fs))}
print(json.dumps(out))
shutil.rmtree(root)
shutil.rmtree(work)
spark.stop()
