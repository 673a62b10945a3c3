"""Repository tooling, without Spark: the slow-lane list in
``tests/conftest.py``, the summary of the A/B runner ``scripts/ab.py``
and the broad ``except`` handlers in ``scdataset_spark/``."""

from __future__ import annotations

import ast
import collections
import functools
import glob
import importlib.util
import json
import os

from tests.conftest import _SLOW_TESTS

TESTS = os.path.dirname(os.path.abspath(__file__))


@functools.cache
def _test_ids(path: str) -> frozenset[str]:
    """``test`` and ``Class::test`` for every test ``path`` defines."""
    with open(path) as f:
        tree = ast.parse(f.read())
    ids = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test"):
            ids.add(node.name)
        elif isinstance(node, ast.ClassDef):
            ids.update(
                f"{node.name}::{m.name}"
                for m in node.body
                if isinstance(m, ast.FunctionDef) and m.name.startswith("test")
            )
    return frozenset(ids)


def test_slow_lane_entries_name_existing_tests():
    """A stale entry would silently move its test into the default lane."""
    stale = []
    for entry in sorted(_SLOW_TESTS):
        file, _, test = entry.partition("::")
        path = os.path.join(TESTS, file)
        if not os.path.isfile(path) or test not in _test_ids(path):
            stale.append(entry)
    assert not stale


def _broad_handlers(node: ast.AST, func: str | None = None):
    """The enclosing function of every bare ``except:`` and ``except
    Exception`` / ``BaseException`` handler (alone or in a tuple) under
    ``node``."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        func = node.name
    if isinstance(node, ast.ExceptHandler):
        t = node.type
        names = t.elts if isinstance(t, ast.Tuple) else [t]
        if t is None or any(
            getattr(n, "id", None) in ("Exception", "BaseException") for n in names
        ):
            yield func
    for child in ast.iter_child_nodes(node):
        yield from _broad_handlers(child, func)


def test_broad_excepts_are_listed():
    """A broad ``except`` turns a real error into a silent fall; the
    only ones left handle errors from outside the program: a frame
    without listable input files, and registry entries whose session
    has stopped."""
    pkg = os.path.join(os.path.dirname(TESTS), "scdataset_spark")
    found = collections.Counter()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        module = os.path.relpath(path, pkg)[:-3].replace(os.sep, ".")
        with open(path) as f:
            found.update((module, func) for func in _broad_handlers(ast.parse(f.read())))
    assert found == {
        ("session", "input_probe"): 1,
        ("operators._cache", "persist_bounded"): 2,
    }


def _ab():
    path = os.path.join(os.path.dirname(TESTS), "scripts", "ab.py")
    spec = importlib.util.spec_from_file_location("ab", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _summary(base, change, better="higher", bound=0.24):
    runs = [
        {"side": side, "workload": "w", "seed": seed,
         "result": {"metrics": {"m": {"value": v, "unit": "1/s"}}}}
        for side, values in (("base", base), ("change", change))
        for seed, v in enumerate(values, 1)
    ]  # fmt: skip
    (row,) = _ab().summarize(runs, [{"name": "m", "better": better, "bound": bound}])
    return row


class TestAbSummary:
    def test_ties_count_for_neither_side(self):
        row = _summary([10, 20, 30, 40], [10, 21, 29, 40])
        assert (row["wins"], row["pairs"]) == (1, 4)
        assert _summary([10, 20, 30, 40], [10, 21, 29, 40], better="lower")["wins"] == 1

    def test_better_direction_flips_wins_and_worse(self):
        base = [100 + i for i in range(10)]
        change = [50 + i for i in range(10)]
        higher = _summary(base, change, better="higher")
        assert (higher["wins"], higher["verdict"]) == (0, "worse")
        lower = _summary(base, change, better="lower")
        assert (lower["wins"], lower["verdict"]) == (10, "gain")
        assert higher["ratio"] == lower["ratio"] == 54.5 / 104.5

    def test_nine_of_ten_inside_base_iqr_is_not_gain(self):
        base = [100 + 10 * i for i in range(10)]  # IQR 45
        change = [b + 1 for b in base[:9]] + [base[9] - 1]
        row = _summary(base, change, bound=0.5)
        assert row["wins"] == 9
        assert row["verdict"] == "same"

    def test_base_iqr_wider_than_bound_is_unresolved(self):
        base = [50, 150] * 5  # IQR 100 on a median of 100
        assert _summary(base, list(base))["verdict"] == "unresolved"
        # unless every change run beats every base run
        assert _summary(base, [151] * 10)["verdict"] == "same"

    def test_curation_throughput_gets_the_samples_bound(self):
        ab = _ab()
        with open(os.path.join(os.path.dirname(TESTS), "BENCHMARK.json")) as f:
            spec = json.load(f)
        (samples,) = [m for m in spec["end_to_end"] if m["name"] == "samples_per_s"]
        (docs,) = [m for m in ab.end_to_end(spec) if m["name"] == "docs_per_s"]
        assert (docs["better"], docs["bound"]) == ("higher", samples["bound"])
        runs = [
            {"side": side, "workload": ab.CURATION, "seed": seed,
             "result": {"metrics": {"setup_s": {"value": 1.0}, "docs_per_s": {"value": v}}}}
            for side, v in (("base", 200.0), ("change", 100.0))
            for seed in (1, 2)
        ]  # fmt: skip
        rows = {r["metric"]: r for r in ab.summarize(runs, ab.end_to_end(spec))}
        assert sorted(rows) == ["docs_per_s", "setup_s"]
        assert rows["docs_per_s"]["verdict"] == "worse"


def test_plan_normalise_drops_session_counters():
    ab = _ab()
    a = "[u#12L], MapPartitionsRDD[103] at localCheckpoint at <unknown>:0, plan_id=7"
    b = "[u#40L], MapPartitionsRDD[102] at localCheckpoint at NativeMethodAccessorImpl.java:0, plan_id=9"
    assert ab.normalise(a) == ab.normalise(b)
    assert ab.normalise(a) != ab.normalise(a.replace("u#", "v#"))
