"""The benchmark's three workloads, driven only through the engine's
public functions.

Each workload has ``tables`` (the inputs it generates and ingests),
``prepare`` (loads the ingested frames once per session), ``rep`` (one
timed repetition: the work, then the output check) and ``layers`` (the
frames whose execution the traced run forces one after another, to get
each layer's execution self time).  Why each workload exists is in this
directory's README.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators import dedup as dd
from scdataset_spark.operators import textanalysis as tx
from scdataset_spark.operators.similarity import brute_force_topk
from scdataset_spark.operators.strategies import BlockShuffling, ClassBalancedSampling
from scdataset_spark.pipeline.export import epoch_plans, iterate_batches, write_arrow_fetches
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.plans.plan import exact_num_batches, with_batches

from datagen import RETURNFLAG_SHARES, Corpus

BATCH = 64
HOOK_INPUT = ("row_id", "pos", "fetch_id", "batch_id", "l_quantity")


@dataclass
class Rep:
    """One repetition: ``items`` delivered in ``wall_s``; ``first_s``
    until the first output was in hand; ``error`` is None when the
    output check passed."""

    items: int = 0
    wall_s: float = 0.0
    first_s: float = 0.0
    error: str | None = None
    extra: dict = field(default_factory=dict)


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


class EpochShuffleIter:
    """BlockShuffling(256) -> with_batches(64, fetch_factor=256,
    shuffle_within_fetch) -> hook stage -> iterate_batches into a
    driver consumer that touches every batch."""

    name = "epoch_shuffle_iter"
    tables = ("lineitem",)
    scale = 0.03
    throughput, first = "samples_per_s", "first_batch_s"
    fetch_factor = 256
    columns = ["row_id", "l_quantity", "qty2"]

    def prepare(self, spark, src_dir: str, seed: int, corpus: Corpus | None) -> None:
        self.seed = seed
        self.cells = load_table(spark, "lineitem", src_dir)
        self.n = self.cells.count()
        self.strategy = BlockShuffling(block_size=256, assume_dense=True)
        self.plans = epoch_plans(self.strategy, self.cells, seed=seed)

    def _planned(self, plan, epoch: int):
        return with_batches(
            plan,
            BATCH,
            fetch_factor=self.fetch_factor,
            shuffle_within_fetch=True,
            seed=self.seed + epoch,
        )

    def _hooked(self, planned):
        def fetch_transform(pdf):
            pdf = pdf.copy()
            pdf["qty2"] = pdf["l_quantity"] * 2.0
            return pdf[["row_id", "pos", "l_quantity", "qty2"]]

        return run_hook_pipeline(
            planned.select(*HOOK_INPUT),
            "row_id bigint, pos bigint, l_quantity double, qty2 double",
            batch_size=BATCH,
            fetch_transform=fetch_transform,
        )

    def rep(self, tracer, rid: str) -> Rep:
        out = Rep()
        t0 = time.perf_counter()
        with tracer.span("strategies.plan", rid):
            epoch, plan = next(self.plans)
        with tracer.span("plans.with_batches", rid):
            planned = self._planned(plan, epoch)
        with tracer.span("hooks.run_hook_pipeline", rid):
            hooked = self._hooked(planned)
        ids, waits, full, qty_ok = [], [], 0, True
        with tracer.span("export.iterate_batches", rid):
            batches = iterate_batches(hooked, BATCH, self.columns)
            t_iter = time.perf_counter()
            while True:
                tw = time.perf_counter()
                b = next(batches, None)
                waits.append(time.perf_counter() - tw)
                if b is None:
                    break
                if not ids:
                    out.first_s = time.perf_counter() - t0
                    out.extra["iterate_first_batch_s"] = time.perf_counter() - t_iter
                ids.append(b["row_id"])
                full += len(b["row_id"]) == BATCH
                qty_ok &= bool(np.array_equal(b["qty2"], 2.0 * b["l_quantity"]))
            out.extra["iterate_s"] = time.perf_counter() - t_iter
        out.wall_s = time.perf_counter() - t0
        row_ids = np.concatenate(ids) if ids else np.zeros(0, dtype=np.int64)
        out.items = len(row_ids)
        out.extra["batch_waits"] = waits
        out.extra["epoch"] = epoch
        out.extra["digest"] = int(np.sum((row_ids + 1) * (np.arange(len(row_ids)) + 1)))
        try:
            _check(np.array_equal(np.sort(row_ids), np.arange(self.n)), "row_id not exactly once")
            _check(full == self.n // BATCH, f"{full} full batches, want {self.n // BATCH}")
            _check(qty_ok, "qty2 != 2 * l_quantity")
        except AssertionError as e:
            out.error = str(e)
        return out

    def replay_check(self, rep: Rep) -> str | None:
        """The same (seed, epoch) plan, built again, must give the order
        the consumer saw."""
        plan = self.strategy.plan(self.cells, seed=self.seed, epoch=rep.extra["epoch"])
        planned = self._planned(plan, rep.extra["epoch"])
        again = planned.select(
            F.sum((F.col("row_id") + 1) * (F.col("pos") + 1))
        ).first()[0]
        return None if again == rep.extra["digest"] else "order digest did not repeat"

    def layers(self, epoch: int):
        # each layer keeps only the columns the hook stage reads, so the
        # differences between layers are not column pruning
        plan = self.strategy.plan(self.cells, seed=self.seed, epoch=epoch)
        planned = self._planned(plan, epoch)
        return [
            ("strategies", plan.select("row_id", "pos", "l_quantity")),
            ("plans", planned.select(*HOOK_INPUT)),
            ("hooks", self._hooked(planned)),
        ]


class EpochBalancedFiles:
    """ClassBalancedSampling(l_returnflag, replace=True) -> join the row
    columns back -> with_batches -> one write_arrow_fetches; then four
    simulated ranks read their round-robin fetch files, one after
    another."""

    name = "epoch_balanced_files"
    tables = ("lineitem",)
    scale = 0.03
    throughput, first = "samples_per_s", "first_batch_s"
    fetch_factor = 64
    world = 4

    def prepare(self, spark, src_dir: str, seed: int, corpus: Corpus | None) -> None:
        self.seed = seed
        self.cells = load_table(spark, "lineitem", src_dir)
        n = self.cells.count()
        self.draws = n // 3  # 200,000 draws at 600,000 rows
        self.strategy = ClassBalancedSampling(
            label_col="l_returnflag", block_size=BATCH, total_size=self.draws, replace=True
        )
        self.plans = epoch_plans(self.strategy, self.cells, seed=seed)
        self.out_dir = os.path.join(src_dir, "fetches")

    def _planned(self, plan):
        rows = self.cells.select("row_id", "l_quantity", "l_returnflag")
        return with_batches(plan.join(rows, "row_id"), BATCH, fetch_factor=self.fetch_factor)

    def rep(self, tracer, rid: str) -> Rep:
        out = Rep()
        t0 = time.perf_counter()
        with tracer.span("strategies.plan", rid):
            _, plan = next(self.plans)
        with tracer.span("plans.with_batches", rid):
            planned = self._planned(plan)
        with tracer.span("export.write_arrow_fetches", rid):
            manifest = write_arrow_fetches(
                planned, self.out_dir, ["row_id", "pos", "l_quantity", "l_returnflag"]
            ).collect()
        fetches = sorted((r["fetch_id"], r["path"]) for r in manifest)
        out.extra["files"] = len(fetches)
        out.extra["bytes"] = sum(os.path.getsize(p) for _, p in fetches)
        size = BATCH * self.fetch_factor
        per_rank = {r: 0 for r in range(self.world)}
        flags: dict[str, int] = {}
        problems = []
        t_read = time.perf_counter()
        with tracer.span("export.read_fetches", rid):
            for rank in range(self.world):
                for fid, path in fetches:
                    if fid % self.world != rank:
                        continue
                    with pa.OSFile(path, "rb") as f:
                        table = ipc.open_stream(f).read_all()
                    for off in range(0, table.num_rows, BATCH):
                        batch = table.slice(off, BATCH)
                        if out.items == 0:
                            out.first_s = time.perf_counter() - t0
                        out.items += batch.num_rows
                        per_rank[rank] += 1
                        batch.column("l_quantity").to_numpy().sum()
                    pos = table.column("pos").to_numpy()
                    lo, hi = fid * size, (fid + 1) * size
                    if not (np.all(np.diff(pos) > 0) and pos[0] >= lo and pos[-1] < hi):
                        problems.append(f"fetch {fid} not pos-sorted inside its range")
                    labels = table.column("l_returnflag").to_numpy(zero_copy_only=False)
                    for k, v in zip(*np.unique(labels, return_counts=True)):
                        flags[k] = flags.get(k, 0) + int(v)
        out.extra["read_s"] = time.perf_counter() - t_read
        out.wall_s = time.perf_counter() - t0
        try:
            _check(not problems, "; ".join(problems[:3]))
            _check(out.items == self.draws, f"{out.items} samples, want {self.draws}")
            n_fetch = -(-self.draws // size)
            _check([f for f, _ in fetches] == list(range(n_fetch)), "files miss a fetch")
            for rank in range(self.world):
                want = exact_num_batches(
                    self.draws, BATCH, self.fetch_factor, False, self.world, rank
                )
                got = per_rank[rank]
                _check(got == want, f"rank {rank}: {got} batches, want {want}")
            uniform = self.draws / len(RETURNFLAG_SHARES)
            for k in RETURNFLAG_SHARES:
                share = flags.get(k, 0) / uniform
                _check(0.8 <= share <= 1.2, f"class {k} at {share:.3f} of uniform")
        except AssertionError as e:
            out.error = str(e)
        return out

    def replay_check(self, rep: Rep) -> str | None:
        return None  # the checks in rep() cover this workload

    def layers(self, epoch: int):
        plan = self.strategy.plan(self.cells, seed=self.seed, epoch=epoch)
        return [("strategies", plan), ("plans", self._planned(plan))]


class CurateNearDedup:
    """Quality filter -> md5 exact dedup -> MinHash/LSH candidates ->
    connected components -> one doc per component; then exact top-k
    over the embeddings."""

    name = "curate_near_dedup"
    tables = ("documents", "embeddings")
    scale = 0.02  # 1,000 documents: a traced run stays under three minutes
    throughput, first = "docs_per_s", None
    k = 10
    n_queries = 64

    def prepare(self, spark, src_dir: str, seed: int, corpus: Corpus | None) -> None:
        self.spark = spark
        self.corpus = corpus
        self.docs = load_table(spark, "documents", src_dir).select("doc_id", "text")
        self.n = self.docs.count()
        emb = load_table(spark, "embeddings", src_dir).select("vec_id", "embedding")
        self.cands = emb.withColumnRenamed("vec_id", "c_id")
        self.queries = emb.where(F.col("vec_id") < self.n_queries).withColumnRenamed(
            "vec_id", "q_id"
        )
        self.kept_digest: str | None = None

    def _stages(self):
        scored = tx.with_repetition_stats(tx.with_token_stats(self.docs))
        quality = scored.where(
            (F.col("n_tokens") >= 5) & (F.col("dup_2gram_ratio") <= 0.5)
        ).select("doc_id", "text")
        canonical = tx.with_fingerprint(quality).groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")
        )
        exact = quality.join(canonical.select("doc_id"), "doc_id", "left_semi")
        return quality, exact

    def _pairs(self, exact):
        sigs = dd.with_minhash(dd.with_shingles(exact), num_hashes=12)
        return dd.lsh_candidate_pairs(sigs, num_hashes=12, bands=4)

    def _topk(self):
        return brute_force_topk(self.queries, self.cands, k=self.k, query_id="q_id", cand_id="c_id")

    def rep(self, tracer, rid: str) -> Rep:
        # a repetition must not read the previous one's cached frames
        self.spark.catalog.clearCache()
        out = Rep(items=self.n)
        t0 = time.perf_counter()
        with tracer.span("textanalysis.quality", rid):
            quality, exact = self._stages()
            out.extra["quality_kept"] = quality.count()
        with tracer.span("dedup.exact", rid):
            out.extra["exact_kept"] = exact.count()
        with tracer.span("dedup.lsh", rid):
            pairs = self._pairs(exact)
            has_pairs = pairs.limit(1).count() > 0
        with tracer.span("dedup.components", rid):
            kept = exact
            if has_pairs:
                comp = dd.connected_components(pairs)
                reps = comp.groupBy("component").agg(F.min("id").alias("doc_id"))
                dupes = comp.join(reps, comp.id == reps.doc_id, "left_anti").select(
                    F.col("id").alias("doc_id")
                )
                kept = exact.join(dupes, "doc_id", "left_anti")
            kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        out.first_s = time.perf_counter() - t0
        with tracer.span("similarity.topk", rid):
            top = self._topk().select("q_id").collect()
        out.wall_s = time.perf_counter() - t0
        digest = hashlib.md5(np.asarray(kept_ids, dtype=np.int64).tobytes()).hexdigest()
        out.extra["kept"] = len(kept_ids)
        try:
            kept_set = set(kept_ids)
            for group in self.corpus.exact_groups:
                _check(not kept_set.intersection(group[1:]), f"exact copy of {group[0]} kept")
            per_q = np.bincount([r["q_id"] for r in top], minlength=self.n_queries)
            _check(bool(np.all(per_q == self.k)), "top-k does not return k rows per query")
            if self.kept_digest is None:
                self.kept_digest = digest
            _check(digest == self.kept_digest, "kept-id digest did not repeat")
        except AssertionError as e:
            out.error = str(e)
        return out

    def replay_check(self, rep: Rep) -> str | None:
        return None  # every repetition replays the same seed; rep() compares digests

    def layers(self, epoch: int):
        quality, exact = self._stages()
        return [
            ("textanalysis", quality),
            ("dedup.exact", exact),
            ("dedup.lsh", self._pairs(exact)),
            ("similarity", self._topk()),
        ]

    def lsh_quality(self) -> dict[str, float]:
        _, exact = self._stages()
        cands = {(r["doc_a"], r["doc_b"]) for r in self._pairs(exact).collect()}
        true = self.corpus.near_pairs
        hit = len(cands & true)
        return {
            "candidates": len(cands),
            "precision": hit / len(cands) if cands else 0.0,
            "recall": hit / len(true) if true else 0.0,
        }


WORKLOADS = {w.name: w for w in (EpochShuffleIter, EpochBalancedFiles, CurateNearDedup)}
