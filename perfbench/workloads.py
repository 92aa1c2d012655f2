"""The two workloads, and the stream that the traced ``crawl_frontier``
run also drives. Each is closed loop with a single client: the next op
starts only after the previous one returned and was checked.

A workload provides ``prepare`` (seeded inputs and exact answers, no
Spark: it runs while the session starts), ``setup`` (warm-up),
``op(i)`` (one timed op plus its output check, returning an ``Op``),
``more(i, now, deadline)`` (whether to start op ``i``), ``cancel``
(stops a running op that overran its time), ``finish`` (checks that
need the whole run), ``layers`` (per-layer numbers of a traced run) and
``traced_extra`` (a workload that a traced run drives after the timed
ops, for layers of its own).
Set-up ends with untimed full-size ops (negative op indices, or the
first micro-batches): on a fresh JVM and fresh Python workers op times
fall for the first few ops, and timed ops should not pay that.
"""

from __future__ import annotations

import math
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import eventlog
import harness
import inputs


@dataclass
class Op:
    seconds: float
    rows: int
    ok: bool
    detail: dict = field(default_factory=dict)


class Ctx:
    """What a workload needs from the run: the session, the run's
    directories, the seed, job labels and the plan log."""

    def __init__(self, spark, env, seed: int, nproc: int, traced: bool):
        self.spark = spark
        self.env = env
        self.seed = seed
        self.nproc = nproc
        self.traced = traced
        self.plans = harness.PlanLog(spark)
        self.warm_up_s = []     # wall time of each untimed set-up op

    @contextmanager
    def label(self, text: str):
        """In traced runs, label the Spark jobs started inside the block
        (``setJobDescription``), so the event log groups them by call."""
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobDescription(text)
        try:
            yield
        finally:
            if self.traced:
                sc.setJobDescription(None)


# -- output checks -------------------------------------------------------------

def counts_ok(found, counts, expected) -> bool:
    """Exact lookups: every key with ``expected`` fetches > 0 is found
    with exactly that count, every key with 0 is absent."""
    expected = np.asarray(expected)
    return bool(np.array_equal(np.asarray(counts).astype(np.int64), expected)
                and np.array_equal(np.asarray(found), expected > 0))


def frontier_ok(row: dict, n_rows: int, r_bits: int) -> tuple[bool, int]:
    """A frontier aggregate is right when every row was probed, no seen
    url was reported unseen (``fn``), every seen url's count equals its
    fetch count (``bad``), and false positives stay within
    ``2^-r_bits`` of the absent probes (rounded up). Returns the verdict
    and the false-positive bound."""
    fp_bound = math.ceil(row["absent"] * 2.0 ** -r_bits)
    return (row["rows"] == n_rows and row["fn"] == 0 and row["bad"] == 0
            and row["fp"] <= fp_bound), fp_bound


def first_occurrences_ok(emitted: list, expected: set) -> bool:
    """Streaming dedup emitted each distinct key exactly once."""
    return len(emitted) == len(set(emitted)) and set(emitted) == expected


def insert_branch_ok(new_keys: int, state_keys: int) -> bool:
    """Whether a micro-batch of ``new_keys`` first occurrences into
    ``state_keys`` keys of state takes ``stateful_streaming_dedup``'s
    steady-state branch (``QF.insert_hashes``, chosen per group when
    ``new * 16 < state``) with a margin of 2, so that the spread of keys
    over the state groups cannot tip a group into ``QF.merge_many``."""
    return new_keys * 16 * 2 < state_keys


def _hash_only_s(ctx: Ctx, df, col: str, label: str) -> float:
    """Wall time of a pass that only hashes ``col`` JVM-side."""
    from pyspark.sql import functions as F

    from qfspark.build import hash_column

    t = harness.now()
    with ctx.label(label):
        df.select(F.sum(hash_column(col) % 1024)).collect()
    return harness.now() - t


class Workload:
    """What the workloads share: ops until the deadline, no whole-run
    check, and a cancel that stops the session's running jobs."""

    traced_extra = None   # a Workload the traced run drives after the ops

    def more(self, i: int, now: float, deadline: float) -> bool:
        return now < deadline

    def cancel(self, ctx: Ctx) -> None:
        ctx.spark.sparkContext.cancelAllJobs()

    def finish(self, ctx: Ctx) -> bool:
        return True


class ShardBuild(Workload):
    """``build_sharded_qf`` with library defaults, payload sidecars and a
    fresh checkpoint per op (``resume=False``)."""

    name = "shard_build"
    N_ROWS = 6_000_000
    N_KEYS = 2_000_000
    N_HOT = 8
    N_SAMPLE = 256
    N_WARM = 2            # untimed set-up ops: worker start, JIT, caches
    NODE = "FlatMapGroupsInArrow"     # the applyInArrow shard builder

    def prepare(self, env, seed: int) -> None:
        counts = inputs.crawl_rows(env.path("rows"), seed, self.N_ROWS,
                                   self.N_KEYS, self.N_HOT)
        self.distinct = int(np.count_nonzero(counts))
        rng = np.random.default_rng([seed, 4])
        sample = np.concatenate([
            np.arange(self.N_HOT),
            rng.integers(self.N_HOT, self.N_HOT + self.N_KEYS,
                         self.N_SAMPLE)])
        self.sample_urls = [inputs.url_str(int(k)) for k in sample]
        self.sample_counts = counts[sample]

    def setup(self, ctx: Ctx) -> None:
        self.table = ctx.spark.read.parquet(ctx.env.path("rows"))
        for i in range(-self.N_WARM, 0):
            ctx.warm_up_s.append(self.op(ctx, i).seconds)

    def op(self, ctx: Ctx, i: int) -> Op:
        from pyspark.sql import functions as F

        from qfspark.build import build_sharded_qf, load_sharded_qf

        payload = ctx.env.fresh_dir(f"op{i}", "payload")
        ckpt = ctx.env.path(f"op{i}", "ckpt")
        ctx.plans.mark()
        t = harness.now()
        with ctx.label(f"{self.name}:build_sharded_qf:{i}"):
            shards = build_sharded_qf(self.table, "url", payload_dir=payload,
                                      checkpoint_path=ckpt, resume=False)
            entries, n_shards = shards.agg(
                F.sum("entries"), F.count(F.lit(1))).collect()[0]
        seconds = harness.now() - t
        plan_ok = harness.plan_has(ctx.plans.since(), self.NODE)
        exact = counts_ok(*load_sharded_qf(shards).lookup_keys(
            self.sample_urls), self.sample_counts)
        payload_bytes = sum(os.path.getsize(os.path.join(payload, f))
                            for f in os.listdir(payload))
        shutil.rmtree(ctx.env.path(f"op{i}"), ignore_errors=True)
        return Op(seconds, self.N_ROWS,
                  plan_ok and exact and entries == self.distinct,
                  {"entries": entries, "distinct": self.distinct,
                   "shards": n_shards, "plan_ok": plan_ok,
                   "counts_ok": exact,
                   "bytes_per_key": payload_bytes / self.distinct})

    def layers(self, ctx: Ctx, log, ops) -> dict:
        out = eventlog.build_layers(log, [
            f"{self.name}:build_sharded_qf:{i}" for i in range(len(ops))])
        out["hashing.jvm_hash_s"] = _hash_only_s(
            ctx, self.table, "url", f"{self.name}:hash_only")
        return out


class CrawlFrontier(Workload):
    """``annotate`` of a fixed frontier against a new "seen" filter per
    op; the filter is built untimed with ``build_qf`` from the half of
    the key space chosen by the op index, so every op misses the
    executor filter cache."""

    name = "crawl_frontier"
    N_KEYS = 1_200_000        # key space; each key fetched once or twice
    N_FRONTIER = 3_000_000
    N_WARM = 2            # untimed set-up ops
    NODE = "ArrowEvalPython"          # the broadcast probe UDF

    def prepare(self, env, seed: int) -> None:
        inputs.crawl_frontier(env.path("seen"), env.path("frontier"), seed,
                              self.N_KEYS, self.N_FRONTIER)

    def setup(self, ctx: Ctx) -> None:
        self.seen = ctx.spark.read.parquet(ctx.env.path("seen"))
        self.frontier = ctx.spark.read.parquet(ctx.env.path("frontier"))
        self.stride = self.N_KEYS // 7 + 1
        self.plan_s = []
        for i in range(-self.N_WARM, 0):
            ctx.warm_up_s.append(self.op(ctx, i).seconds)

    def _seen_in_op(self, i: int):
        """Column: whether key ``k`` is in op ``i``'s seen filter."""
        from pyspark.sql import functions as F

        return (F.pmod(F.col("k") + F.lit(i * self.stride),
                       F.lit(self.N_KEYS)) < F.lit(self.N_KEYS // 2))

    def op(self, ctx: Ctx, i: int) -> Op:
        from pyspark.sql import functions as F

        from qfspark.build import build_qf
        from qfspark.lookup import annotate

        with ctx.label(f"{self.name}:build_qf:{i}"):
            qf = build_qf(self.seen.where(self._seen_in_op(i)), "url")
        exp = self._seen_in_op(i)
        seen, cnt = F.col("qf_seen"), F.col("qf_count")
        ctx.plans.mark()
        t = harness.now()
        with ctx.label(f"{self.name}:annotate:{i}"):
            ann = annotate(self.frontier, "url", qf)
            plan_s = harness.now() - t
            # consumes both output columns; the expected answer rides
            # along: ``n`` is each url's fetch count in the seen rows
            row = ann.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(seen.cast("long")).alias("seen"),
                F.sum(cnt).alias("cnt"),
                F.count(F.when(exp & ~seen, 1)).alias("fn"),
                F.count(F.when(~exp & seen, 1)).alias("fp"),
                F.count(F.when(exp & (cnt != F.col("n")), 1)).alias("bad"),
                F.count(F.when(~exp, 1)).alias("absent"),
            ).collect()[0].asDict()
        seconds = harness.now() - t
        plan_ok = harness.plan_has(ctx.plans.since(), self.NODE)
        ok, fp_bound = frontier_ok(row, self.N_FRONTIER, qf.r_bits)
        if i >= 0:
            self.plan_s.append(plan_s)
        self.payload_bytes = len(qf.to_bytes())
        return Op(seconds, self.N_FRONTIER, ok and plan_ok,
                  dict(row, plan_ok=plan_ok, fp_bound=fp_bound,
                       plan_s=round(plan_s, 4),
                       bytes_per_key=self.payload_bytes / len(qf)))

    def layers(self, ctx: Ctx, log, ops) -> dict:
        out = eventlog.lookup_layers(log, [
            f"{self.name}:annotate:{i}" for i in range(len(ops))], ctx.nproc)
        out["lookup.plan_s"] = harness.median(self.plan_s)
        out["lookup.payload_bytes"] = float(self.payload_bytes)
        out["hashing.jvm_hash_s"] = _hash_only_s(
            ctx, self.frontier, "url", f"{self.name}:hash_only")
        return out


class StreamDedup(Workload):
    """``stateful_streaming_dedup`` with library defaults over seeded
    parquet files; each op publishes one file (one file per trigger) and
    waits for its micro-batch. Not a workload of its own: the traced
    ``crawl_frontier`` run drives ``N_TRACED`` batches of it for the
    ``streaming.*`` layers.

    The first, untimed file is large, so that the state holds far more
    keys than a timed file brings new ones: every timed batch then takes
    the library's steady-state branch, ``QF.insert_hashes`` into the
    existing per-group filters, and the op checks that it did. Every
    later file brings the same number of new keys, so every timed batch
    does the same work."""

    name = "stream_dedup"
    FIRST_ROWS = 200_000      # about 110k distinct keys of state
    ROWS_PER_FILE = 20_000
    NEW_PER_FILE = 2_000      # keys a timed file sees for the first time
    N_KEYS = 150_000          # keys of the first file
    N_WARM = 3            # set-up batches; the first creates the state
    N_TRACED = 24         # batches the traced crawl_frontier run times
    N_FILES = N_WARM + N_TRACED
    NODE = "FlatMapGroupsInPandasWithState"

    def prepare(self, env, seed: int) -> None:
        self.staged = env.path("staged")
        self.keys = inputs.stream_files(
            self.staged, seed, self.N_FILES, self.FIRST_ROWS,
            self.ROWS_PER_FILE, self.NEW_PER_FILE, self.N_KEYS)
        self.first = np.zeros(
            self.N_KEYS + self.N_FILES * self.NEW_PER_FILE, dtype=bool)
        self.expected = 0

    def setup(self, ctx: Ctx) -> None:
        from qfspark.streaming import stateful_streaming_dedup

        spark = ctx.spark
        self.src = ctx.env.fresh_dir("source")
        self.table = f"perfbench_dedup_{os.getpid()}"
        stream = (spark.readStream.schema("url string")
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        self.query = (
            stateful_streaming_dedup(stream, "url").writeStream
            .format("memory").queryName(self.table).outputMode("append")
            .option("checkpointLocation", ctx.env.path("stream_ckpt"))
            .start())
        for f in range(self.N_WARM):
            t = harness.now()
            self._publish(f)
            self.query.processAllAvailable()
            ctx.warm_up_s.append(harness.now() - t)
        self.progress = []

    def _publish(self, f: int) -> int:
        """Move file ``f`` into the stream's source; returns the number
        of keys it sees for the first time."""
        name = f"part-{f:05d}.parquet"
        os.replace(os.path.join(self.staged, name),
                   os.path.join(self.src, name))
        k = np.unique(self.keys[f])
        new = int(np.count_nonzero(~self.first[k]))
        self.expected += new
        self.first[k] = True
        return new

    def more(self, i: int, now: float, deadline: float) -> bool:
        return i < self.N_TRACED

    def cancel(self, ctx: Ctx) -> None:
        super().cancel(ctx)
        self.query.stop()   # ends processAllAvailable

    def op(self, ctx: Ctx, i: int) -> Op:
        ctx.plans.mark()
        before = self.query.lastProgress["batchId"]
        state_keys = self.expected
        t = harness.now()
        new = self._publish(i + self.N_WARM)
        self.query.processAllAvailable()
        seconds = harness.now() - t
        p = self.query.lastProgress
        self.progress.append(p)
        emitted = ctx.spark.table(self.table).count()
        plan_ok = harness.plan_has(ctx.plans.since(), self.NODE)
        insert = insert_branch_ok(new, state_keys)
        ok = (plan_ok and insert and p["batchId"] == before + 1
              and p["numInputRows"] == self.ROWS_PER_FILE
              and emitted == self.expected)
        state = p["stateOperators"][0]
        return Op(seconds, self.ROWS_PER_FILE, ok,
                  {"batch_ms": p["durationMs"]["triggerExecution"],
                   "emitted": emitted, "expected": self.expected,
                   "new_keys": new, "state_keys": state_keys,
                   "insert_branch": insert, "plan_ok": plan_ok,
                   "bytes_per_key": state["memoryUsedBytes"]
                   / max(self.expected, 1)})

    def finish(self, ctx: Ctx) -> bool:
        """Emitted keys equal the exact first occurrences: every distinct
        published url exactly once."""
        self.query.stop()
        emitted = [r[0] for r in ctx.spark.table(self.table).collect()]
        return first_occurrences_ok(emitted, {
            inputs.url_str(int(k)) for k in np.flatnonzero(self.first)})

    def layers(self, ctx: Ctx, log, ops) -> dict:
        """The ``streaming.*`` layers from ``StreamingQueryProgress``."""
        dur = [p["durationMs"] for p in self.progress]
        st = [p["stateOperators"][0] for p in self.progress]
        tail, _ = harness.tail(d["triggerExecution"] for d in dur)
        return {
            "streaming.batch_ms_p50": harness.median(
                d["triggerExecution"] for d in dur),
            "streaming.batch_ms_tail": tail,
            "streaming.add_batch_ms": harness.median(
                d.get("addBatch", 0) for d in dur),
            "streaming.state_update_ms": harness.median(
                s["allUpdatesTimeMs"] for s in st),
            "streaming.state_commit_ms": harness.median(
                s["commitTimeMs"] for s in st),
            "streaming.state_memory_bytes": float(st[-1]["memoryUsedBytes"]),
            "streaming.wal_commit_ms": harness.median(
                d.get("walCommit", 0) for d in dur),
            "streaming.planning_ms": harness.median(
                d.get("queryPlanning", 0) for d in dur),
        }


# the stream's layers come from traced crawl_frontier runs
CrawlFrontier.traced_extra = StreamDedup
WORKLOADS = {w.name: w for w in (ShardBuild, CrawlFrontier)}
