"""Benchmark entry point.

    python3 perfbench/run.py --workload epoch_shuffle_iter --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout of the engine, on
``local[nproc]`` with one closed-loop consumer (no think time).  A run:

1. writes the seed's inputs under ``perfbench/_work``;
2. sets up several times (session start + cold ingest of a private copy
   of the inputs) and reports the median as ``setup_s``;
3. runs one untimed warm-up repetition, then timed repetitions until
   ``--seconds`` have passed, checking every repetition's output;
4. with ``--trace 1``, restarts the session with Spark's event log on,
   repeats the timed repetitions with spans and job groups, forces each
   layer's output to a noop sink in turn, and reports the per-layer
   metrics and the tracing overhead instead of the end-to-end ones.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--scale 0.001`` is the
smoke mode (small inputs).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-ups per run; setup_s is their median
FORCINGS = 3  # noop runs per layer in the traced run

# Units of the end-to-end metrics; each workload reports setup_s and the
# ones it names (see workloads.py).
END_TO_END = {
    "setup_s": "s",
    "samples_per_s": "1/s",
    "first_batch_s": "s",
    "docs_per_s": "1/s",
}

# Per-layer metrics of the traced run.  A layer a workload does not use
# reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.ingest_s": "s",
    "catalog.ingest_bytes": "bytes",
    "catalog.ingest_files": "count",
    "strategies.plan_call_s": "s",
    "strategies.plan_call_jobs": "count",
    "strategies.exec_s": "s",
    "strategies.tasks": "count",
    "strategies.shuffle_bytes": "bytes",
    "strategies.scan_nodes": "count",
    "plans.exec_s": "s",
    "plans.shuffle_bytes": "bytes",
    "hooks.exec_s": "s",
    "hooks.tasks": "count",
    "hooks.executor_run_s": "s",
    "export.iterate_s": "s",
    "export.iterate_first_batch_s": "s",
    "export.batch_wait_p50_ms": "ms",
    "export.batch_wait_p99_ms": "ms",
    "export.driver_rows_per_s": "1/s",
    "export.write_s": "s",
    "export.files": "count",
    "export.bytes": "bytes",
    "export.read_s": "s",
    "cache.frames": "count",
    "cache.storage_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
}

# Layers only the curation workload uses.
CURATE_LAYER = {
    "textanalysis.quality_s": "s",
    "textanalysis.tasks": "count",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.lsh_recall": "ratio",
    "dedup.components_s": "s",
    "dedup.components_jobs": "count",
    "similarity.topk_s": "s",
    "similarity.exchanges": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None, help="input scale; 0.001 is the smoke mode")
    return p.parse_args(argv)


# --- session noise -------------------------------------------------------


def cpu_probe() -> float:
    """Fixed single-core Python loop; best of three."""

    def once() -> float:
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * 3 % 7
        return time.perf_counter() - t0

    return min(once() for _ in range(3))


def read_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(task) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes of this process and its
    descendants (the Spark JVM and its Python workers)."""
    total_kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


# --- launch environment --------------------------------------------------


def launch_env(work: str, nproc: int) -> None:
    """Keep every file Spark and Python write inside ``work``, and make
    the engine importable by the Python workers."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def set_event_log(work: str, on: bool) -> None:
    """Event log for the NEXT session: Spark reads ``spark.*`` JVM
    system properties when it builds a session's conf.  Spark 4 needs
    compress and rolling off for one plain JSON-lines file."""
    from pyspark import SparkContext

    props = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    system = SparkContext._jvm.java.lang.System
    for k, v in props.items():
        if on:
            system.setProperty(k, v)
        else:
            system.clearProperty(k)


def stop_all(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Py4JError:  # a call cut short by a signal; the JVM goes below
            pass
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


# --- the run ---------------------------------------------------------------


_T0 = time.perf_counter()


def phase(what: str) -> None:
    """Progress on stderr; stdout carries only the result."""
    print(f"[{time.perf_counter() - _T0:7.1f} s] {what}", file=sys.stderr, flush=True)


def storage(spark) -> tuple[int, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


class Run:
    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ingested: list[str] = []
        self.spark = None

    def session(self):
        from scdataset_spark.session import get_spark

        spark = get_spark("perfbench", shuffle_partitions=self.nproc)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setups(self, wl, gen_dir):
        from scdataset_spark.catalog import ensure_ingested, ingest_dir, ingest_parts

        totals, starts, ingests = [], [], []
        for i in range(SETUPS):
            # a unique basename: the catalog keys its shared ingest
            # cache on the source directory's basename alone
            private = os.path.join(self.work, f"in-{uuid.uuid4().hex}")
            shutil.copytree(gen_dir, private)
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.session()
            starts.append(time.perf_counter() - t0)
            # registered before the ingest, so a terminated run removes it
            out = ingest_dir(private, ingest_parts(self.spark))
            self.ingested.append(out)
            t1 = time.perf_counter()
            ensure_ingested(self.spark, private, tables=wl.tables)
            ingests.append(time.perf_counter() - t1)
            totals.append(starts[-1] + ingests[-1])
            phase(f"set-up {i}: session {starts[-1]:.2f} s, ingest {ingests[-1]:.2f} s")
            if i < SETUPS - 1:
                shutil.rmtree(out, ignore_errors=True)
                shutil.rmtree(private, ignore_errors=True)
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.ingested[-1])
            for f in fs
            if f.endswith(".parquet")
        ]
        layer = {
            "session.start_s": statistics.median(starts),
            "catalog.ingest_s": statistics.median(ingests),
            "catalog.ingest_bytes": sum(os.path.getsize(f) for f in files),
            "catalog.ingest_files": len(files),
        }
        return private, statistics.median(totals), layer

    def reps(self, wl, tracer, prefix: str) -> list:
        """Timed repetitions until the run's seconds have passed (at
        least one is attempted)."""
        done = []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            rep = self.one_rep(wl, tracer, f"{prefix}{i}")
            i += 1
            if rep is not None:
                done.append(rep)
        return done

    def one_rep(self, wl, tracer, rid: str):
        self.attempted += 1
        try:
            with tracer.span("rep", rid):
                rep = wl.rep(tracer, rid)
            rep.extra["cache_frames"], rep.extra["cache_bytes"] = storage(self.spark)
        except Exception as e:  # a failed repetition is counted, not fatal
            rep = None
            error = f"{type(e).__name__}: {e}"
        else:
            error = rep.error
        if error is not None:
            self.failed += 1
            self.errors.append(f"{rid}: {error}")
            return None
        return rep

    def e2e(self, wl, setup_s, reps) -> dict:
        m = {
            "setup_s": setup_s,
            wl.throughput: statistics.median([r.items / r.wall_s for r in reps]),
        }
        if wl.first:
            m[wl.first] = statistics.median([r.first_s for r in reps])
        return m

    def main(self) -> dict:
        from tracing import Tracer
        import datagen
        from workloads import WORKLOADS

        args = self.args
        wl = WORKLOADS[args.workload]()
        launch_env(self.work, self.nproc)
        probe0 = cpu_probe()
        steal0, total0 = read_stat()

        gen_dir = os.path.join(self.work, "gen")
        corpus = datagen.write_inputs(gen_dir, wl.tables, args.seed, args.scale or wl.scale)
        phase("inputs written")
        src, setup_s, layer = self.setups(wl, gen_dir)
        untraced = Tracer(enabled=False)
        wl.prepare(self.spark, src, args.seed, corpus)

        t0 = time.perf_counter()
        warm = self.one_rep(wl, untraced, "warmup")
        layer["session.warmup_s"] = time.perf_counter() - t0
        if warm is not None:
            err = wl.replay_check(warm)
            if err:
                self.failed += 1
                self.errors.append(f"warmup: {err}")
        phase("warm-up done")
        plain = self.reps(wl, untraced, "r")
        phase(
            f"{len(plain)} timed repetitions passed: "
            + ", ".join(f"{r.items / r.wall_s:.0f}/s first {r.first_s:.2f} s" for r in plain)
        )
        if not plain:
            for e in self.errors:
                print("failed " + e, file=sys.stderr)
            raise SystemExit("no repetition passed its check")

        metrics = self.e2e(wl, setup_s, plain)
        units = dict(END_TO_END)
        if args.trace:
            metrics = self.traced(wl, corpus, src, layer, metrics)
            units = {**PER_LAYER, **CURATE_LAYER}
            for k in metrics:
                if k.startswith("trace.overhead_"):
                    units[k] = END_TO_END[k.removeprefix("trace.overhead_")]
        else:
            stop_all(self.spark)
            self.spark = None

        steal1, total1 = read_stat()
        noise = {
            "nproc": self.nproc,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "cpu_probe_start_s": probe0,
            "cpu_probe_end_s": cpu_probe(),
        }
        print("noise " + json.dumps(noise))
        for e in self.errors:
            print("failed " + e)
        print(
            f"failed_ratio {self.failed / self.attempted:.4f} "
            f"({self.failed} of {self.attempted} repetitions)"
        )
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def traced(self, wl, corpus, src, layer, untraced_e2e) -> dict:
        from tracing import EventLog, Tracer

        tracer = Tracer(enabled=True)
        set_event_log(self.work, True)
        self.spark.stop()
        self.spark = self.session()
        set_event_log(self.work, False)
        tracer.bind(self.spark)
        app_id = self.spark.sparkContext.applicationId
        wl.prepare(self.spark, src, self.args.seed, corpus)
        # the new session starts its Python workers again: warm it up
        # untimed and untraced before the traced repetitions
        tracer.enabled = False
        self.one_rep(wl, tracer, "traced-warmup")
        tracer.enabled = True
        traced = self.reps(wl, tracer, "t")
        phase(f"{len(traced)} traced repetitions passed")
        # one layer at a time, each forced to a noop sink from a cleared
        # cache: a layer's self time is its time minus the previous
        # layer's.  Median of FORCINGS runs per layer.
        forced = {}
        for name, df in wl.layers(epoch=10_000):
            for _ in range(FORCINGS):
                self.spark.catalog.clearCache()
                with tracer.span(f"force.{name}", "force"):
                    df.write.format("noop").mode("overwrite").save()
            forced[name] = tracer.find(f"force.{name}")
        lsh = wl.lsh_quality() if wl.name == "curate_near_dedup" else None
        peak = tree_peak_rss_mb()
        self.spark.stop()
        self.spark = None
        log = EventLog.read(os.path.join(self.work, "eventlog", app_id))
        tracer.dump(
            os.path.join(HERE, "_work", f"spans-{self.args.workload}-{self.args.seed}.json")
        )
        stop_all(None)
        phase("event log read")

        def groups(spans) -> set[str]:
            return {f"span{i}" for s in spans for i in tracer.subtree(s["id"])}

        def dur(spans) -> float:
            return statistics.mean(s["end"] - s["start"] for s in spans) if spans else 0.0

        def stat(name, key):
            """Median wall time, or mean count, of a layer's forced runs."""
            if name not in forced:
                return 0
            if key == "wall_s":
                return statistics.median(s["end"] - s["start"] for s in forced[name])
            return log.groups_stats(groups(forced[name]))[key] / len(forced[name])

        def self_stat(name, prev, key):
            """A forced layer's figure minus its predecessor's."""
            if name not in forced:
                return 0.0
            return stat(name, key) - (stat(prev, key) if prev else 0)

        def per_rep(name, key):
            return log.groups_stats(groups(tracer.find(name)))[key] / n

        def ex(key):
            vals = [r.extra[key] for r in traced if key in r.extra]
            return statistics.mean(vals) if vals else 0.0

        n = max(1, len(traced))
        rep_spans = tracer.find("rep")
        run = log.groups_stats(groups(rep_spans))
        gap = sum(
            (s["end"] - s["start"]) - log.busy_s(groups([s]), s["start"], s["end"])
            for s in rep_spans
        )
        waits = [w for r in traced for w in r.extra.get("batch_waits", [])]
        q = statistics.quantiles(waits, n=100) if len(waits) > 100 else [0.0] * 99
        m = dict(layer)
        m.update(
            {
                "session.peak_rss_mb": peak,
                "strategies.plan_call_s": dur(tracer.find("strategies.plan")),
                "strategies.plan_call_jobs": per_rep("strategies.plan", "jobs") if traced else 0,
                "strategies.exec_s": self_stat("strategies", None, "wall_s"),
                "strategies.tasks": stat("strategies", "tasks"),
                "strategies.shuffle_bytes": stat("strategies", "shuffle_bytes"),
                "strategies.scan_nodes": (
                    log.plan_nodes(groups(forced["strategies"][:1]), ("Scan",))
                    if "strategies" in forced
                    else 0
                ),
                "plans.exec_s": self_stat("plans", "strategies", "wall_s"),
                "plans.shuffle_bytes": self_stat("plans", "strategies", "shuffle_bytes"),
                "hooks.exec_s": self_stat("hooks", "plans", "wall_s"),
                "hooks.tasks": self_stat("hooks", "plans", "tasks"),
                "hooks.executor_run_s": self_stat("hooks", "plans", "executor_run_s"),
                "export.iterate_s": ex("iterate_s"),
                "export.iterate_first_batch_s": ex("iterate_first_batch_s"),
                "export.batch_wait_p50_ms": q[49] * 1e3,
                "export.batch_wait_p99_ms": q[98] * 1e3,
                "export.driver_rows_per_s": (
                    statistics.mean(r.items / r.extra["iterate_s"] for r in traced)
                    if traced and "iterate_s" in traced[0].extra
                    else 0.0
                ),
                "export.write_s": dur(tracer.find("export.write_arrow_fetches")),
                "export.files": ex("files"),
                "export.bytes": ex("bytes"),
                "export.read_s": ex("read_s"),
                "cache.frames": ex("cache_frames"),
                "cache.storage_bytes": ex("cache_bytes"),
                "spark.jobs": run["jobs"] / n,
                "spark.stages": run["stages"] / n,
                "spark.tasks": run["tasks"] / n,
                "spark.failed_tasks": run["failed_tasks"] / n,
                "spark.executor_run_s": run["executor_run_s"] / n,
                "spark.executor_cpu_s": run["executor_cpu_s"] / n,
                "spark.gc_s": run["gc_s"] / n,
                "spark.spill_bytes": run["spill_bytes"] / n,
                "spark.driver_gap_s": gap / n,
            }
        )
        names = list(PER_LAYER)
        if lsh is not None:
            names += list(CURATE_LAYER)
            m.update(
                {
                    "textanalysis.quality_s": self_stat("textanalysis", None, "wall_s"),
                    "textanalysis.tasks": stat("textanalysis", "tasks"),
                    "dedup.exact_s": self_stat("dedup.exact", "textanalysis", "wall_s"),
                    "dedup.lsh_s": self_stat("dedup.lsh", "dedup.exact", "wall_s"),
                    "dedup.lsh_candidates": lsh["candidates"],
                    "dedup.lsh_precision": lsh["precision"],
                    "dedup.lsh_recall": lsh["recall"],
                    "dedup.components_s": dur(tracer.find("dedup.components")),
                    "dedup.components_jobs": per_rep("dedup.components", "jobs") if traced else 0,
                    "similarity.topk_s": self_stat("similarity", None, "wall_s"),
                    "similarity.exchanges": log.plan_nodes(
                        groups(forced["similarity"][:1]), ("Exchange", "BroadcastExchange")
                    ),
                }
            )
        # tracing overhead: traced minus untraced end-to-end numbers
        if traced:
            for k, v in self.e2e(wl, 0.0, traced).items():
                if k != "setup_s":
                    m[f"trace.overhead_{k}"] = v - untraced_e2e[k]
                    names.append(f"trace.overhead_{k}")
        return {k: float(m[k]) for k in names}

    def cleanup(self) -> None:
        for d in self.ingested:
            shutil.rmtree(d, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(d))  # only if no other ingest is left there
            except OSError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scdataset_spark")):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.main()
    finally:
        try:
            if run.spark is not None:
                stop_all(run.spark)
        finally:
            run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
