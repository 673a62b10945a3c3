#!/usr/bin/env python
"""Worker-side probe: zip importers and CPU per Python task.

    python artifacts/pr20/probe_worker_cpu.py REPO [--tasks N]

Runs, in a child Spark session on ``local[1]`` (one reused Python
worker), ``N`` hook-stage epochs (``run_hook_pipeline``, 4 fetches in
one task each) and ``N`` fetch-file exports (``write_arrow_fetches``)
with the engine found at ``REPO``.  A ``sitecustomize`` on the workers'
``PYTHONPATH`` wraps ``importlib.invalidate_caches`` (which PySpark's
worker set-up calls once per task) and logs, per call, the worker's
pid, how many ``zipimport.zipimporter`` objects sit in
``sys.path_importer_cache`` (all of them, and those with a non-empty
``prefix``: one per imported sub-package, and the archives of the
top-level ones) and the call's process CPU time.  The hook's ``fetch_transform`` logs the worker's CPU time at
each fetch, so "CPU before the first fetch" is a task's first fetch
minus the previous task's last one in the same worker.  Prints one JSON
object per stage: the per-task importer counts and CPU figures.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

SITE = '''
import importlib, json, os, sys, time, zipimport

_invalidate = importlib.invalidate_caches


def _logged_invalidate():
    zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    t0 = time.process_time()
    _invalidate()
    rec = {"ev": "invalidate", "pid": os.getpid(), "zips": len(zips),
           "sub": sum(1 for f in zips if f.prefix), "cpu_s": time.process_time() - t0,
           "top": sorted(os.path.basename(f.archive) for f in zips if not f.prefix),
           "at": time.process_time()}
    with open(os.environ["PROBE_LOG"], "a") as f:
        f.write(json.dumps(rec) + "\\n")


importlib.invalidate_caches = _logged_invalidate
'''

DRIVER = '''
import json, os, sys, time
sys.path.insert(0, REPO)
from scdataset_spark.operators.strategies import BlockShuffling
from scdataset_spark.pipeline.export import iterate_batches, write_arrow_fetches
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.plans.plan import with_batches
from scdataset_spark.session import get_spark
spark = get_spark("probe_worker_cpu", shuffle_partitions=1)
spark.sparkContext.setLogLevel("OFF")
rows = spark.range(0, 4096, numPartitions=1).selectExpr("id AS row_id", "id * 0.5 AS v")
planned = with_batches(BlockShuffling(block_size=16).plan(rows, seed=3), 256, fetch_factor=4)
log = os.environ["PROBE_LOG"]


def mark(stage):
    with open(log, "a") as f:
        f.write(json.dumps({"ev": "stage", "stage": stage}) + "\\n")


def hook(pdf):
    import json, os, time
    with open(os.environ["PROBE_LOG"], "a") as f:
        f.write(json.dumps({"ev": "fetch", "pid": os.getpid(), "at": time.process_time()}) + "\\n")
    return pdf


for i in range(TASKS):
    mark("hooks")
    hooked = run_hook_pipeline(
        planned.select("row_id", "pos", "fetch_id", "v"),
        "row_id bigint, pos bigint, fetch_id bigint, v double", 256, fetch_transform=hook,
    )
    n = sum(len(b["v"]) for b in iterate_batches(hooked, 256, ["v"]))
    assert n == 4096, n
for i in range(TASKS):
    mark("writer")
    m = write_arrow_fetches(planned, os.path.join(OUT, f"e{i}"), ["row_id", "pos", "v"]).collect()
    assert sum(r["n_rows"] for r in m) == 4096
mark("end")
spark.stop()
'''


def summarize(lines: list[dict]) -> dict:
    """Per stage: the importer counts and CPU of each task's
    ``invalidate_caches``, and for the hook stage the worker CPU between
    a task's first fetch and the previous task's last fetch."""
    out: dict = {}
    stage = None
    for rec in lines:
        if rec["ev"] == "stage":
            stage = rec["stage"]
            continue
        if stage is None or stage == "end":
            continue
        s = out.setdefault(stage, {"tasks": []})
        if rec["ev"] == "invalidate":
            s["tasks"].append({**rec, "fetches": []})
        elif rec["ev"] == "fetch" and s["tasks"]:
            s["tasks"][-1]["fetches"].append(rec["at"])
    for s in out.values():
        last_fetch = None
        for t in s["tasks"]:
            if t["fetches"] and last_fetch is not None:
                t["cpu_before_first_fetch_s"] = round(t["fetches"][0] - last_fetch, 4)
            if t["fetches"]:
                last_fetch = t["fetches"][-1]
            t["cpu_s"] = round(t["cpu_s"], 4)
            t["n_fetches"] = len(t.pop("fetches"))
            t.pop("at")
            t.pop("ev")
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("repo")
    p.add_argument("--tasks", type=int, default=4)
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        site = os.path.join(tmp, "site")
        os.makedirs(site)
        with open(os.path.join(site, "sitecustomize.py"), "w") as f:
            f.write(SITE)
        log = os.path.join(tmp, "probe.jsonl")
        driver = (
            f"REPO = {os.path.abspath(args.repo)!r}\nOUT = {tmp!r}\nTASKS = {args.tasks}\n" + DRIVER
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(
            PYTHONPATH=site, PROBE_LOG=log, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_MASTER="local[1]"
        )
        proc = subprocess.run([sys.executable, "-c", driver], cwd=tmp, env=env, text=True,
                              capture_output=True, timeout=900)
        if proc.returncode:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        with open(log) as f:
            lines = [json.loads(x) for x in f]
    print(json.dumps({"repo": os.path.abspath(args.repo), **summarize(lines)}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
