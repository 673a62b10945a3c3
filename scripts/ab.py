#!/usr/bin/env python
"""A/B runner: the repo benchmark in alternating base/change pairs, or a
normalised plan diff, between a base commit and a change.

    python scripts/ab.py bench --base REV [--change REV] --workloads W[,W] --pairs N [--out FILE]
    python scripts/ab.py plans --base REV [--change REV] [QUERY ...]

The base tree is ``git archive REV``; the change tree is ``--change REV``
or, without it, the working tree (tracked plus untracked-not-ignored
files).  Both go into a temporary directory outside the repo.

``bench`` runs ``BENCHMARK.json``'s command with ``--trace 0`` over
seeds 1..N; pair i runs the base first when i is odd.  Besides
``BENCHMARK.json``'s workloads it runs ``curate_near_dedup``, which the
same command knows but ``BENCHMARK.json`` leaves out for its run time
(``perfbench/README.md``); its ``docs_per_s`` gets a verdict with the
bound of ``samples_per_s``.  Both sides run
the change side's instrument (the ``paths`` ``BENCHMARK.json`` lists),
or the working tree's when the change predates the benchmark, so commits
without a benchmark can be measured.  Each run is appended to ``--out``
as one JSON line; a run that exits non-zero, is not ``correct`` or has
``failed > 0`` stops the runner.  The table gives per metric the base
and change medians with their quartiles, the change/base ratio, the
pairs the change won, and a verdict (see ``verdict``).

``plans`` runs ``scripts/dump_plans.py`` in both trees, once for the
headline queries and once more for the QUERY names if any, at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1), normalises expression ids,
``plan_id`` and checkpoint RDD ids and call sites, prints
``same``/``DIFF`` per query and exits 1 on a DIFF.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- trees -------------------------------------------------------------------


def git(*args: str) -> bytes:
    return subprocess.run(["git", "-C", ROOT, *args], check=True, stdout=subprocess.PIPE).stdout


def checkout(rev: str | None, dest: str) -> str:
    """``git archive rev`` into ``dest``, or the working tree when ``rev``
    is None."""
    os.makedirs(dest)
    if rev is not None:
        with tarfile.open(fileobj=io.BytesIO(git("archive", rev))) as tar:
            tar.extractall(dest)
        return dest
    for rel in git("ls-files", "-co", "--exclude-standard", "-z").decode().split("\0"):
        src = os.path.join(ROOT, rel)
        if rel and os.path.isfile(src):  # a tracked file deleted in the tree is skipped
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
    return dest


def trees(base: str, change: str | None, tmp: str) -> tuple[str, str]:
    return checkout(base, os.path.join(tmp, "base")), checkout(change, os.path.join(tmp, "change"))


# --- bench -------------------------------------------------------------------

CURATION = "curate_near_dedup"


def end_to_end(spec: dict) -> list[dict]:
    """``BENCHMARK.json``'s end-to-end metrics plus the curation
    workload's ``docs_per_s``, a throughput like ``samples_per_s``."""
    (samples,) = [m for m in spec["end_to_end"] if m["name"] == "samples_per_s"]
    return spec["end_to_end"] + [{**samples, "name": "docs_per_s"}]


def install_instrument(base: str, change: str, tmp: str) -> dict:
    """Give both trees one benchmark: the change's, else the working tree's."""
    src = change
    if not os.path.isfile(os.path.join(change, "BENCHMARK.json")):
        src = checkout(None, os.path.join(tmp, "instrument"))
    with open(os.path.join(src, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for tree in (base, change):
        if tree == src:
            continue
        for rel in spec["paths"] + ["BENCHMARK.json"]:
            dst = os.path.join(tree, rel)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            if os.path.isdir(os.path.join(src, rel)):
                shutil.copytree(os.path.join(src, rel), dst)
            else:
                shutil.copy2(os.path.join(src, rel), dst)
    return spec


def run_once(spec: dict, tree: str, side: str, workload: str, seed: int, log: str) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]  # fmt: skip
    with open(log, "w") as err:
        proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    noise = next((json.loads(ln[6:]) for ln in lines if ln.startswith("noise ")), None)
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    run = {"side": side, "workload": workload, "seed": seed, "result": result, "noise": noise}
    if proc.returncode != 0 or result is None or not result.get("correct") or result.get("failed", 0) > 0:
        with open(log) as f:
            tail = f.readlines()[-20:]
        sys.exit(
            f"{side} {workload} seed {seed}: exit {proc.returncode}, "
            f"result {json.dumps(result)}; stderr tail:\n{''.join(tail)}"
        )
    return run


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base: list[float], change: list[float], wins: int, better: str, bound: float) -> str:
    """``gain``: the change won at least 9/10 of the pairs and its median
    beats the base's by more than the base IQR.  ``worse``: the change
    median is worse than the base's by more than ``bound`` (relative).
    ``unresolved``: the base IQR exceeds ``bound`` of its median, unless
    every change run beats every base run.  ``same``: anything else."""
    sign = 1.0 if better == "higher" else -1.0
    b1, bm, b3 = quartiles(base)
    cm = quartiles(change)[1]
    gap = sign * (cm - bm)  # > 0: the change is better
    if wins * 10 >= 9 * len(base) and gap > b3 - b1:
        return "gain"
    if -gap > bound * abs(bm):
        return "worse"
    dominates = min(change) > max(base) if better == "higher" else max(change) < min(base)
    if b3 - b1 > bound * abs(bm) and not dominates:
        return "unresolved"
    return "same"


def summarize(runs: list[dict], end_to_end: list[dict]) -> list[dict]:
    """One row per workload and end-to-end metric the runs report.
    ``runs`` are the ``{side, workload, seed, result}`` records; a pair
    is the base and change run of one workload and seed."""
    rows = []
    for wl in dict.fromkeys(r["workload"] for r in runs):
        by = {(r["side"], r["seed"]): r["result"]["metrics"] for r in runs if r["workload"] == wl}
        seeds = sorted(s for side, s in by if side == "change" and ("base", s) in by)
        for m in end_to_end:
            name = m["name"]
            if not all(name in by[(side, s)] for s in seeds for side in ("base", "change")):
                continue
            base = [by[("base", s)][name]["value"] for s in seeds]
            change = [by[("change", s)][name]["value"] for s in seeds]
            sign = 1.0 if m["better"] == "higher" else -1.0
            wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
            bq, cq = quartiles(base), quartiles(change)
            rows.append({
                "workload": wl, "metric": name, "base": bq, "change": cq,
                "ratio": cq[1] / bq[1] if bq[1] else float("nan"),
                "wins": wins, "pairs": len(seeds),
                "verdict": verdict(base, change, wins, m["better"], m["bound"]),
            })  # fmt: skip
    return rows


def fmt(v: float) -> str:
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.3f}"


def table(rows: list[dict]) -> str:
    def med(q):
        return f"{fmt(q[1])} ({fmt(q[0])}-{fmt(q[2])})"

    head = ("workload", "metric", "base median (q1-q3)", "change median (q1-q3)", "change/base", "won", "verdict")
    body = [
        (r["workload"], r["metric"], med(r["base"]), med(r["change"]),
         f"{r['ratio']:.3f}", f"{r['wins']}/{r['pairs']}", r["verdict"])
        for r in rows
    ]  # fmt: skip
    widths = [max(len(str(c)) for c in col) for col in zip(head, *body)]
    return "\n".join("  ".join(str(c).ljust(w) for c, w in zip(line, widths)).rstrip() for line in [head, *body])


def bench(args, tmp: str) -> int:
    base, change = trees(args.base, args.change, tmp)
    spec = install_instrument(base, change, tmp)
    known = {w["name"] for w in spec["workloads"]} | {CURATION}
    workloads = args.workloads.split(",")
    if unknown := [w for w in workloads if w not in known]:
        sys.exit(f"unknown workloads {unknown}; known: {sorted(known)}")
    runs = []
    for wl in workloads:
        for seed in range(1, args.pairs + 1):
            order = [("base", base), ("change", change)]
            for side, tree in order if seed % 2 else order[::-1]:
                print(f"{wl} seed {seed} {side}", file=sys.stderr, flush=True)
                log = os.path.join(tmp, f"{wl}-{seed}-{side}.log")
                runs.append(run_once(spec, tree, side, wl, seed, log))
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(runs[-1]) + "\n")
    print(table(summarize(runs, end_to_end(spec))))
    return 0


# --- plans -------------------------------------------------------------------


def normalise(plan: str) -> str:
    """Drop the session state: expression ids, ``plan_id``, and the id
    and call site of a checkpointed frame's RDD (``MapPartitionsRDD[N]
    at localCheckpoint at SITE:0``, where both differ between two runs
    of one tree, and SITE with what ran before in the process)."""
    plan = re.sub(r"RDD\[[0-9]+\] at (\w+) at \S+:[0-9]+", r"RDD[] at \1", plan)
    return re.sub(r"plan_id=[0-9]+", "plan_id=", re.sub(r"#[0-9]+", "#", plan))


def plans(args, tmp: str) -> int:
    dumps = {}
    for side, tree in zip(("base", "change"), trees(args.base, args.change, tmp)):
        for names in ([], args.queries) if args.queries else ([],):
            cmd = [sys.executable, "scripts/dump_plans.py", "ab", side, *names]
            subprocess.run(cmd, cwd=tree, check=True, stdout=sys.stderr)
        dumps[side] = {
            os.path.basename(p)[: -len(f"_{side}.txt")]: p
            for p in glob.glob(os.path.join(tree, "plans", "ab", f"*_{side}.txt"))
        }
    def text(side: str, q: str) -> str | None:
        if q not in dumps[side]:
            return None
        with open(dumps[side][q]) as f:
            return normalise(f.read())

    diff = False
    for q in sorted(dumps["base"].keys() | dumps["change"].keys()):
        base, change = text("base", q), text("change", q)
        same = base is not None and base == change
        diff |= not same
        print(f"{'same' if same else 'DIFF'} {q}")
    return 1 if diff else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("bench", help="benchmark pairs")
    b.add_argument("--workloads", required=True, help=f"comma-separated BENCHMARK.json workloads or {CURATION}")
    b.add_argument("--pairs", type=int, required=True)
    b.add_argument("--out", help="append each run to this JSONL file")
    q = sub.add_parser("plans", help="normalised plan diff")
    q.add_argument("queries", nargs="*", help="registry queries dumped after the headline set")
    for s in (b, q):
        s.add_argument("--base", required=True, help="base revision")
        s.add_argument("--change", help="change revision (default: the working tree)")
    args = p.parse_args(argv)
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        return bench(args, tmp) if args.cmd == "bench" else plans(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
