"""Skew utilities, bucketed co-location, stateful streaming, and
hypothesis property tests for the plan closed forms."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.dedup import with_shingles
from scdataset_spark.operators.skew import cap_hot_tokens, salted_count, write_bucketed
from scdataset_spark.plans.plan import exact_num_batches
from tests._helpers import plan_text
from tests.conftest import SF_DIR_SMALL


class TestSkew:
    def test_salted_count_matches_plain(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        plain = {
            (r.l_returnflag,): r["count"]
            for r in li.groupBy("l_returnflag").count().collect()
        }
        salted = {
            (r.l_returnflag,): r["count"]
            for r in salted_count(li, ["l_returnflag"], salts=8).collect()
        }
        assert plain == salted

    def test_salt_expr_stable_under_repartition(self, spark):
        """The no-row_id salt fallback (xxhash64 of all columns + seed)
        must assign every row the same salt regardless of physical
        layout — recompute/speculation safety.  The old fallback
        (partition_id * 7919 + monotonically_increasing_id) fails this."""
        from scdataset_spark.operators.skew import salt_expr

        docs = (
            load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
            .select("doc_id", "lang")
        )
        assert "row_id" not in docs.columns  # exercises the fallback
        a = {
            r.doc_id: r.s
            for r in docs.withColumn("s", salt_expr(docs, salts=16)).collect()
        }
        rep = docs.repartition(7)
        b = {
            r.doc_id: r.s
            for r in rep.withColumn("s", salt_expr(rep, salts=16)).collect()
        }
        assert a == b
        assert set(a.values()) <= set(range(16)) and len(set(a.values())) > 1

    def test_salted_count_no_row_id(self, spark):
        """salted_count on a frame WITHOUT row_id (deterministic
        xxhash64 fallback) still matches the plain GROUP BY."""
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        plain = {(r.lang,): r["count"] for r in docs.groupBy("lang").count().collect()}
        salted = {
            (r.lang,): r["count"]
            for r in salted_count(docs, ["lang"], salts=8).collect()
        }
        assert plain == salted

    def test_cap_hot_tokens(self, spark):
        docs = load_table(spark, "documents", SF_DIR_SMALL, with_row_id=False)
        sh = with_shingles(docs.select("doc_id", "text"))
        inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
        capped = cap_hot_tokens(inv, "sh", max_df=3)
        dfreq = capped.groupBy("sh").count()
        assert dfreq.agg(F.max("count")).first()[0] <= 3
        # non-hot tokens survive untouched
        total_before = inv.select("sh").distinct().count()
        total_after = capped.select("sh").distinct().count()
        assert 0 < total_after <= total_before

    def test_jaccard_pairs_caps_viral_shingle(self, spark):
        """A planted viral shingle (present in EVERY document) must not
        contribute pair fan-out when max_df bites; genuine near-dup
        pairs must still surface from their distinctive shingles."""
        from scdataset_spark.operators.dedup import jaccard_pairs

        docs = [
            # two near-dups sharing 9 of ~10 distinctive shingles
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam nu"),
            # unrelated documents
            (2, "one two three four five six seven eight nine ten"),
            (3, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
        ]
        viral = " click here to subscribe now"
        df = spark.createDataFrame(
            [(i, t + viral) for i, t in docs], "doc_id bigint, text string"
        )
        sh = with_shingles(df)
        # cap at 3 < 4 docs: the viral tail shingles are dropped
        capped = {
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(sh, threshold=0.3, max_df=3).collect()
        }
        assert capped == {(0, 1)}
        # without the cap the viral shingles join every doc to every doc
        uncapped = jaccard_pairs(sh, threshold=0.0, max_df=None)
        assert uncapped.count() == 6  # all 4C2 pairs share the viral tail

    def test_bucketed_join_skips_shuffle(self, spark):
        # writes to the session's default warehouse (gitignored);
        # clear catalog entries AND orphaned dirs from crashed runs
        import shutil

        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        o = load_table(spark, "orders", SF_DIR_SMALL, with_row_id=False)
        li = load_table(spark, "lineitem", SF_DIR_SMALL, with_row_id=False)
        write_bucketed(o.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"], 8)
        write_bucketed(
            li.select("l_orderkey", "l_quantity"), "b_lineitem", ["l_orderkey"], 8
        )
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        # force the shuffle-join path (tiny test tables would broadcast)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = plan_text(joined, "simple")
            # co-located buckets: sort-merge join with NO Exchange
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestStatefulStreaming:
    def test_running_user_stats_stream(self, spark):
        from scdataset_spark.streaming.events import read_events_stream
        from scdataset_spark.streaming.stateful import running_user_stats

        stream = read_events_stream(spark, SF_DIR_SMALL)
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName("user_stats")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("user_stats")
        ev = load_table(spark, "events", SF_DIR_SMALL, with_row_id=False)
        expected = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        g = {r.user_id: (r.n_events, round(r.total_value, 6), r.last_ts) for r in got.collect()}
        e = {
            r.user_id: (r.n_events, round(r.total_value, 6), r.last_ts)
            for r in expected.collect()
        }
        assert g == e


class TestClosedFormProperties:
    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(0, 5000),
        batch=st.integers(1, 64),
        ff=st.integers(1, 16),
        drop=st.booleans(),
        world=st.integers(1, 6),
    )
    def test_exact_len_simulation(self, n, batch, ff, drop, world):
        """Property: the closed form equals a pure-python simulation of
        the reference loop for ALL configs (hypothesis-driven analogue
        of the reference's ~20 hand-picked edge configs)."""
        fetch = batch * ff
        per_rank = [0] * world
        fetches = [(s, min(s + fetch, n)) for s in range(0, n, fetch)]
        for i, (s, e) in enumerate(fetches):
            size = e - s
            nb = size // batch if drop else -(-size // batch)
            per_rank[i % world] += nb
        for rank in range(world):
            assert per_rank[rank] == exact_num_batches(n, batch, ff, drop, world, rank)

    @settings(max_examples=100, deadline=None)
    @given(k=st.integers(0, 2**33), seed=st.integers(0, 2**20))
    def test_mix_range_and_determinism(self, k, seed):
        from scdataset_spark.sources.synthetic_cells import build_datasource

        # python twin of the SQL mixer (used by the custom source)
        MIX_MOD = 2_147_483_647

        def mix(k, seed):
            h1 = (
                (k % MIX_MOD) * 2_654_435_761
                + (seed % MIX_MOD) * 2_246_822_519 % MIX_MOD
                + 3_266_489_917
            ) % MIX_MOD
            x = h1 ^ (h1 >> 21)
            h2 = (x * 1_597_334_677) % MIX_MOD
            y = h2 ^ (h2 >> 16)
            return (y * 1_103_515_245 + 12_345) % MIX_MOD

        v = mix(k, seed)
        assert 0 <= v < MIX_MOD
        assert v == mix(k, seed)


class TestConnectedComponents:
    def test_chain_clique_and_pair(self, spark):
        """A 5-node chain (worst diameter), a 4-clique, and an isolated
        pair — components must be exact min-ids across multi-hop
        chains."""
        from scdataset_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            # chain 10-11-12-13-14; clique 20..23; pair 30-31
            [(10, 11), (11, 12), (12, 13), (13, 14),
             (20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23),
             (30, 31)],
            "doc_a bigint, doc_b bigint",
        )
        comp = {r.id: r.component for r in connected_components(edges).collect()}
        assert comp == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                        20: 20, 21: 20, 22: 20, 23: 20,
                        30: 30, 31: 30}

    def test_empty_edges(self, spark):
        from scdataset_spark.operators.dedup import connected_components

        edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
        assert connected_components(edges).count() == 0

    def test_driver_shape_labels_shuffled_path(self, spark):
        """A 1,000-node path whose ids are shuffled along it: diameter
        999, and no id order to follow.  The driver shape must label
        every node with the path minimum."""
        import random

        from scdataset_spark.operators.dedup import connected_components

        ids = random.Random(18).sample(range(10_000, 20_000), 1000)
        edges = spark.createDataFrame(
            list(zip(ids, ids[1:])), "doc_a bigint, doc_b bigint"
        )
        comp = {r.id: r.component for r in connected_components(edges).collect()}
        assert comp == {i: min(ids) for i in ids}

    def test_driver_labels_match_union_find(self, spark):
        """The numpy hook-and-shortcut against a plain union-find on
        seeded random graphs, sparse (long chains) to dense (one giant
        component), with ids far apart."""
        import random

        import pyarrow as pa

        from scdataset_spark.operators.dedup import _label_on_driver

        def union_find(pairs):
            parent = {}

            def root(x):
                while parent.setdefault(x, x) != x:
                    x = parent[x]
                return x

            for u, v in pairs:
                ru, rv = root(u), root(v)
                parent[max(ru, rv)] = min(ru, rv)
            return {x: root(x) for x in parent}

        for seed, nodes, n_edges in ((1, 300, 150), (2, 300, 300), (3, 50, 400), (4, 1000, 999)):
            rng = random.Random(seed)
            ids = rng.sample(range(10**12), nodes)
            pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]
            table = pa.table({
                "u": pa.array([max(p) for p in pairs], pa.int64()),
                "v": pa.array([min(p) for p in pairs], pa.int64()),
            })
            got = {r.id: r.component for r in _label_on_driver(spark, table).collect()}
            assert got == union_find(pairs), seed

    def test_curation_sized_graph_runs_at_most_three_jobs(self, spark):
        """A pair graph the size of the curation workload's (74 pairs,
        cliques of 2-4 documents) is labelled on the driver: the edge
        checkpoint and the bounded read, not a job per round."""
        from scdataset_spark.operators.dedup import connected_components

        raw = []
        for base in range(0, 600, 20):
            size = 2 + base // 20 % 3  # cliques of 2, 3 and 4
            raw += [(base + i, base + j) for i in range(size) for j in range(i + 1, size)]
        edges = spark.createDataFrame(raw[:74], "doc_a bigint, doc_b bigint")
        sc = spark.sparkContext
        sc.setJobGroup("components-curation-size", "connected_components")
        try:
            comp = {r.id: r.component for r in connected_components(edges).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("components-curation-size")
        assert len(jobs) <= 3, len(jobs)
        assert all(c == i // 20 * 20 for i, c in comp.items())


class TestConnectedComponentsStar:
    def test_path_graph_1k_within_default_cap(self, spark):
        """1000-node path graph — diameter 999.  The alternating
        large-star/small-star rounds must converge within their DEFAULT
        cap (O(log² n) rounds) and label every node with the path
        minimum."""
        from scdataset_spark.operators.dedup import connected_components_star

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(999)], "doc_a bigint, doc_b bigint"
        )
        comp = {r.id: r.component for r in connected_components_star(edges).collect()}
        assert len(comp) == 1000
        assert set(comp.values()) == {0}

    @staticmethod
    def _three_shapes(edges, monkeypatch) -> list[dict]:
        """``(id → component)`` from the driver shape, from the star
        rounds, and from ``connected_components`` with its driver bound
        forced to 0 (the star rounds behind the same gate)."""
        from scdataset_spark.operators import dedup

        def labels(frame):
            return {r.id: r.component for r in frame.collect()}

        driver = labels(dedup.connected_components(edges))
        star = labels(dedup.connected_components_star(edges))
        monkeypatch.setattr(dedup, "DRIVER_COMPONENTS_MAX_EDGES", 0)
        gated = labels(dedup.connected_components(edges))
        return [driver, star, gated]

    def test_driver_shape_matches_star_on_mixed_graph(self, spark, monkeypatch):
        """The driver shape, the star rounds and the star rounds behind
        the gate must agree exactly on a graph mixing a chain, a clique,
        an isolated pair, duplicate and reversed edges, and self-loops."""
        raw = (
            [(10, 11), (11, 12), (12, 13), (13, 14)]
            + [(20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23)]
            + [(30, 31), (31, 30), (30, 31)]  # reversed + duplicate
            + [(40, 40)]  # self-loop: contributes no edge; node drops out
        )
        edges = spark.createDataFrame(raw, "doc_a bigint, doc_b bigint")
        driver, star, gated = self._three_shapes(edges, monkeypatch)
        assert driver == star == gated
        assert driver[40] == 40  # self-loop-only node is its own component

    def test_empty_edges(self, spark):
        from scdataset_spark.operators.dedup import connected_components_star

        edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
        assert connected_components_star(edges).count() == 0

    def test_one_action_per_round(self, spark, monkeypatch):
        """Per-round cost is ONE action: the round's edge checkpoint
        must be LAZY (the convergence-signature aggregate materializes
        it in its own job) — only the initial raw-edge materialization
        may be eager.  An eager in-loop checkpoint doubles the driver
        round-trips per iteration."""
        # patch the CONCRETE class (Spark 4 splits the API base from
        # pyspark.sql.classic.dataframe.DataFrame; instances dispatch
        # to the latter's method)
        from scdataset_spark.operators.dedup import connected_components_star

        probe = spark.range(1)
        cls = type(probe)
        calls = []
        orig = cls.localCheckpoint

        def recording(self, eager=True):
            calls.append(eager)
            return orig(self, eager=eager)

        monkeypatch.setattr(cls, "localCheckpoint", recording)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
        )
        comp = {r.id: r.component for r in connected_components_star(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert calls, "checkpointing disappeared entirely?"
        assert calls[0] is True  # the raw edge-lineage materialization
        assert all(e is False for e in calls[1:]), (
            f"in-loop checkpoints must be lazy, got {calls}"
        )

    def test_random_graph_matches_star(self, spark, monkeypatch):
        """Seeded random sparse graph, whose giant component has a
        diameter above 20: the three shapes must produce the identical
        (id → component) map."""
        import random

        rng = random.Random(7)
        raw = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        raw = [(a, b) for a, b in raw if a != b]
        edges = spark.createDataFrame(raw, "doc_a bigint, doc_b bigint")
        driver, star, gated = self._three_shapes(edges, monkeypatch)
        assert driver == star == gated


class TestDedupRetryDeterminism:
    def test_failed_text_attempts_give_the_clean_components(self, tmp_path):
        """Half the corpus gets its text from a pandas UDF whose every
        first attempt raises, so those tasks run twice while the other
        half's run once; ``lsh_candidate_pairs`` ->
        ``connected_components`` must give a clean run's ``(id,
        component)`` set.  Each document's copy sits in the other half,
        so a band hash that depended on the attempt would split the
        pair.  Runs in a child process on ``local[2,2]`` (two attempts
        per task), so the shared session keeps its master."""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = f"""
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F
from scdataset_spark.operators import dedup as dd
from scdataset_spark.session import get_spark
spark = get_spark("dedup_retry_determinism", shuffle_partitions=2)
spark.sparkContext.setLogLevel("OFF")

def text(doc_id: pd.Series) -> pd.Series:
    # doc i and its copy 1000 + i share a text no other doc shares a token with
    return doc_id.map(lambda i: " ".join(f"w{{(i % 1000) * 30 + k}}" for k in range(30)))

@F.pandas_udf("string")
def text_of(doc_id: pd.Series) -> pd.Series:
    return text(doc_id)

@F.pandas_udf("string")
def flaky_text_of(doc_id: pd.Series) -> pd.Series:
    if TaskContext.get().attemptNumber() == 0:
        with open({str(tmp_path / "failed.txt")!r}, "a") as f:
            f.write("failed\\n")
        raise RuntimeError("first attempt fails")
    return text(doc_id)

out = {{"master": spark.sparkContext.master}}
for name, udf in (("clean", text_of), ("flaky", flaky_text_of)):
    originals = spark.range(0, 60, numPartitions=2).select(F.col("id").alias("doc_id"))
    copies = spark.range(1000, 1060, numPartitions=2).select(F.col("id").alias("doc_id"))
    docs = originals.withColumn("text", udf("doc_id")).unionByName(
        copies.withColumn("text", text_of("doc_id"))
    )
    sigs = dd.with_minhash(dd.with_shingles(docs), num_hashes=12)
    comp = dd.connected_components(dd.lsh_candidate_pairs(sigs, num_hashes=12, bands=4))
    out[name] = sorted([r["id"], r["component"]] for r in comp.collect())
print(json.dumps(out))
spark.stop()
"""
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_MASTER="local[2,2]")
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["master"] == "local[2,2]"
        assert (tmp_path / "failed.txt").read_text().split()
        assert out["flaky"] == out["clean"]
        # every original pairs with its copy: 60 components of two
        assert len(out["clean"]) == 120
        assert all(c == i % 1000 for i, c in out["clean"])


class TestCappedSessionsStateful:
    def test_closed_chunks_match_batch_twin_across_restarts(self, spark, tmp_path):
        """The applyInPandasWithState capped-session operator must emit
        exactly the batch operator's CLOSED chunks, with open chunks
        surviving in checkpointed state across availableNow restarts."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from scdataset_spark.streaming.events import capped_session_stats
        from scdataset_spark.streaming.stateful import capped_sessions_stateful

        base = 1_700_000_000_000_000
        MIN = 60_000_000
        data = tmp_path / "data"
        data.mkdir()
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")

        def write(name, rows):
            t = pa.Table.from_pydict(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([base + r[1] for r in rows], pa.timestamp("us")),
                    "event_id": pa.array(list(range(len(rows))), pa.int64()),
                }
            )
            pq.write_table(t, str(data / name))

        def run():
            stream = spark.readStream.schema(
                "user_id bigint, ts timestamp, event_id bigint"
            ).parquet(str(data))
            q = (
                capped_sessions_stateful(stream, gap_minutes=10, cap_minutes=30)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            # compare in epoch-µs: PySpark converts timestamps to naive
            # driver-LOCAL datetimes on collect; .timestamp() inverts
            # the same local conversion, so this is TZ-independent
            return sorted(
                (
                    r["user_id"],
                    int(r["session_start"].timestamp() * 1e6),
                    int(r["session_end"].timestamp() * 1e6),
                    r["n_events"],
                    r["duration_us"],
                )
                for r in spark.read.parquet(sink).collect()
            )

        # user 1: one 45-min-active session (cap 30 => 2 chunks, first
        # closes at the cap boundary) then a gap and a new session;
        # user 2: a single short session, still open at stream end
        u1 = [(1, 0), (1, 5 * MIN), (1, 35 * MIN), (1, 60 * MIN), (1, 61 * MIN)]
        u2 = [(2, 0), (2, 1 * MIN)]
        write("f1.parquet", u1 + u2)
        got1 = run()
        # closed: u1 chunk [0,5m] (cap-split at 30m) and u1 chunk [35m]
        # (gap-closed by 60m); open: u1 [60m,61m], u2 [0,1m]
        assert got1 == sorted(
            [
                (1, base, base + 5 * MIN, 2, 5 * MIN),
                (1, base + 35 * MIN, base + 35 * MIN, 1, 0),
            ]
        )

        # a much-later event per user closes the open chunks
        write("f2.parquet", [(1, 120 * MIN), (2, 120 * MIN)])
        got2 = run()
        assert (1, base + 60 * MIN, base + 61 * MIN, 2, 1 * MIN) in got2
        assert (2, base, base + 1 * MIN, 2, 1 * MIN) in got2

        # cross-check against the batch twin on the full data: every
        # emitted (closed) chunk must be a row of the batch result
        from pyspark.sql import functions as F

        full = spark.read.parquet(str(data)).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        batch = {
            (
                r.user_id,
                int(r.session_start.timestamp() * 1e6),
                int(r.session_end.timestamp() * 1e6),
                r.n_events,
                r.duration_us,
            )
            for r in capped_session_stats(full, 10, 30).collect()
        }
        assert set(got2) <= batch

