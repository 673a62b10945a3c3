"""Skew utilities, bucketed co-location, stateful streaming, and
hypothesis property tests for the plan closed forms."""

from __future__ import annotations

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
        pair — components must be exact min-ids despite multi-hop
        propagation."""
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

    def test_nonconvergence_raises(self, spark):
        """Hitting the iteration cap mid-propagation must raise, not
        return partial (wrong) component labels."""
        import pytest

        from scdataset_spark.operators.dedup import connected_components

        # 6-node chain: min-label needs ~5 rounds to reach the far end
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "doc_a bigint, doc_b bigint"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iterations=2)
        # same graph converges fine with an adequate cap
        comp = {
            r.id: r.component
            for r in connected_components(edges, max_iterations=10).collect()
        }
        assert set(comp.values()) == {0}


class TestConnectedComponentsStar:
    def test_path_graph_1k_within_default_cap(self, spark):
        """1000-node path graph — diameter 999, the shape min-label
        propagation cannot finish within any reasonable round cap.  The
        alternating large-star/small-star variant must converge within
        its DEFAULT cap (O(log² n) rounds) and label every node with
        the path minimum."""
        from scdataset_spark.operators.dedup import connected_components_star

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(999)], "doc_a bigint, doc_b bigint"
        )
        comp = {r.id: r.component for r in connected_components_star(edges).collect()}
        assert len(comp) == 1000
        assert set(comp.values()) == {0}

    def test_matches_propagation_on_mixed_graph(self, spark):
        """Star and propagation must agree exactly on a graph mixing a
        chain, a clique, an isolated pair, duplicate and reversed
        edges, and self-loops."""
        from scdataset_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        raw = (
            [(10, 11), (11, 12), (12, 13), (13, 14)]
            + [(20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23)]
            + [(30, 31), (31, 30), (30, 31)]  # reversed + duplicate
            + [(40, 40)]  # self-loop: contributes no edge; node drops out
        )
        edges = spark.createDataFrame(raw, "doc_a bigint, doc_b bigint")
        star = {r.id: r.component for r in connected_components_star(edges).collect()}
        prop = {r.id: r.component for r in connected_components(edges).collect()}
        assert star == prop
        assert star[40] == 40  # self-loop-only node is its own component

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

    def test_random_graph_matches_propagation(self, spark):
        """Seeded random sparse graph: both algorithms must produce the
        identical (id → component) map."""
        import random

        from scdataset_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        rng = random.Random(7)
        raw = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        raw = [(a, b) for a, b in raw if a != b]
        edges = spark.createDataFrame(raw, "doc_a bigint, doc_b bigint")
        star = {r.id: r.component for r in connected_components_star(edges).collect()}
        # this sparse graph's giant component has diameter > 20: the
        # propagation baseline needs its cap raised, which is exactly
        # the regime the star variant exists for (its DEFAULT cap held)
        prop = {
            r.id: r.component
            for r in connected_components(edges, max_iterations=80).collect()
        }
        assert star == prop

    def test_seed_round_contraction_is_exact(self, spark):
        """seed_rounds=1 (optional pre-star contraction) must produce
        the identical (id -> component) map as the plain star loop on
        a graph mixing chains, cliques, duplicates and self-loops."""
        import random

        from scdataset_spark.operators.dedup import connected_components_star

        rng = random.Random(13)
        raw = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
        raw += [(10, 11), (11, 12), (12, 13), (40, 40)]
        edges = spark.createDataFrame(raw, "doc_a bigint, doc_b bigint")
        plain = {
            r.id: r.component
            for r in connected_components_star(edges, seed_rounds=0).collect()
        }
        seeded = {
            r.id: r.component
            for r in connected_components_star(edges, seed_rounds=1).collect()
        }
        assert plain == seeded

    def test_propagation_one_action_per_round(self, spark, monkeypatch):
        """Mirror of test_one_action_per_round for the PROPAGATION
        variant (r7 verdict parity ask): only the raw edge-lineage
        checkpoint is eager; the initial label frame and every in-loop
        label frame are lazy, materialized by the fused (count,
        hash-sum) convergence-signature aggregate — one action per
        round, no separate changed-label join job."""
        from scdataset_spark.operators.dedup import connected_components

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
        comp = {r.id: r.component for r in connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert calls, "checkpointing disappeared entirely?"
        assert calls[0] is True  # the raw edge-lineage materialization
        assert all(e is False for e in calls[1:]), (
            f"initial labels + in-loop checkpoints must be lazy, got {calls}"
        )


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

