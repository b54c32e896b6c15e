"""The benchmark's workloads and their output checks.

Each workload is a closed loop with one client: the driver process
issues one operation, waits for it, and issues the next. ``setup``
builds inputs and state (repeatable, timed by the caller), ``op`` is
one timed operation, ``check`` verifies the last operation's output
outside the timed region, and ``trace`` runs the traced variant that
yields per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_crawler_spark.functions.hashing import bucket_col
from python_crawler_spark.functions.urls import canonicalize_split, fast_canonical_pred, host_col
from python_crawler_spark.operators import gating
from python_crawler_spark.operators.dedup import (
    batch_first_occurrence,
    bloom_prefilter_broadcast,
    build_bloom_filters,
    dedup_against_seen,
)
from python_crawler_spark.operators.scheduler import (
    PRIORITY_COLS,
    SOURCE_RANK,
    CheckpointHandle,
    free_schedule_checkpoints,
    packed_dedup_order_col,
    schedule,
)
from python_crawler_spark.parse.udfs import canonicalize_urls_udf
from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun
from python_crawler_spark.sources.tables import SnapshotStore
from python_crawler_spark.streaming.frontier_stream import (
    STREAM_SCHEMA,
    frontier_stream,
    run_micro_batches,
    streaming_enrich,
)

from . import gen
from .probe import ActionTracer, median, tail_percentile

FRONTIER_SALTS = 32
STREAM_SALTS = 8
FILES_PER_EPOCH = 16  # frontier_stream's maxFilesPerTrigger


def noop(df: DataFrame) -> None:
    """Materialize every column (a count() would let Catalyst prune)."""
    df.write.format("noop").mode("overwrite").save()


def rdd_ids(spark: SparkSession) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist(spark: SparkSession, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in jmap.keySet().toArray():
        if int(rid) in ids:
            jmap.get(rid).unpersist(True)


def checkpoint(spark: SparkSession, df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint, returning the RDD ids it created."""
    pre = rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    return out, rdd_ids(spark) - pre


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# ------------------------------------------------------------------ checks


def schedule_digest(plan: DataFrame, cols=("ref_seq", "ref_virtual_ts", "host_rank",
                                           "host_scheduled_at")) -> tuple[int, int]:
    """(row count, XOR of xxhash64 over key_hash and the schedule
    columns). Clock columns are rounded to 1e-3: every delay is a
    multiple of 1e-3, so rounding removes only float summation-order
    noise."""
    parts = [F.col("key_hash")]
    for c in cols:
        parts.append(F.round(c, 3) if c.endswith(("_ts", "_at")) else F.col(c).cast("long"))
    row = plan.agg(F.count("*"), F.bit_xor(F.xxhash64(*parts))).first()
    return int(row[0]), int(row[1] or 0)


def reference_schedule(new: DataFrame, n_salts: int) -> DataFrame:
    """The schedule columns recomputed with plain windows: one window
    per source for the replay clock, one per (host, salt) queue, whose
    order starts with the source's rank."""
    prio = [F.col(c) for c in PRIORITY_COLS[1:]]
    rank = F.create_map(*[F.lit(x) for kv in SOURCE_RANK.items() for x in kv])[F.col("source")]
    w_src = Window.partitionBy("source").orderBy(*prio)
    w_host = Window.partitionBy("host", "_salt").orderBy(rank, *prio)

    def prior(w):
        return F.coalesce(
            F.sum("crawl_delay").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)
        )

    return new.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts))).select(
        "key_hash",
        F.row_number().over(w_src).alias("ref_seq"),
        prior(w_src).alias("ref_virtual_ts"),
        F.row_number().over(w_host).alias("host_rank"),
        prior(w_host).alias("host_scheduled_at"),
    )


def check_frontier(plan: DataFrame, new: DataFrame, expected: int) -> list[str]:
    bad = []
    got = schedule_digest(plan)
    want = schedule_digest(reference_schedule(new, FRONTIER_SALTS))
    if got[0] != expected:
        bad.append(f"scheduled {got[0]} rows, expected {expected}")
    if got != want:
        bad.append(f"schedule digest {got} != window recomputation {want}")
    return bad


def check_crawl(order_rows: list, seen_keys: set, oracle) -> list[str]:
    """``order_rows``: (source, url, attempt) in fetch order."""
    bad = []
    want = [(e["source"], e["url"], e["attempt"]) for e in oracle.events]
    if order_rows != want:
        first = next((i for i, (a, b) in enumerate(zip(order_rows, want)) if a != b),
                     min(len(order_rows), len(want)))
        bad.append(f"fetch order differs from the oracle at position {first} "
                   f"({len(order_rows)} vs {len(want)} fetches)")
    if seen_keys != oracle.seen:
        bad.append(f"seen set differs from the oracle: {len(seen_keys ^ oracle.seen)} keys")
    return bad


def check_stream(emitted: DataFrame, batch_plan: DataFrame, expected: int) -> list[str]:
    cols = ("ref_seq", "ref_virtual_ts")
    got, want = schedule_digest(emitted, cols), schedule_digest(batch_plan, cols)
    bad = []
    if got[0] != expected:
        bad.append(f"streamed {got[0]} rows, expected {expected}")
    if got != want:
        bad.append(f"concatenated epochs {got} != one schedule() {want}")
    return bad


# --------------------------------------------------------------- workloads


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    work: str  # scratch directory inside the checkout
    small: bool = False  # tiny inputs, for the benchmark's own tests
    cpus: list = field(default_factory=list)


class Workload:
    warmups = 0
    max_ops = None  # timed operations per run at most (inputs for more are not made)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def units(self) -> float:
        """Input items one operation processes."""
        raise NotImplementedError

    def warmup(self) -> None:
        """One excluded operation, so JIT and Python workers settle."""
        self.op()
        self.after_op(timed_op=False)

    def after_op(self, timed_op: bool = True) -> None:
        """Bookkeeping after an operation, outside its timed region."""

    def extra_e2e(self, op_seconds: list[float]) -> dict:
        """Workload-specific end-to-end figures (printed, not graded)."""
        return {}


class Frontier(Workload):
    """One scheduling pass over a generated frontier batch."""

    warmups = 1

    def __init__(self, ctx: Ctx, seen_pct: int):
        super().__init__(ctx)
        n = 40_000 if ctx.small else 150_000
        self.shape = gen.FrontierShape(n=n, seen_pct=seen_pct)
        self.state_ids: set[int] = set()
        self.filter_build_s = []
        self.last = None

    def units(self):
        return self.shape.n

    def setup(self):
        spark, seed = self.spark, self.ctx.seed
        unpersist(spark, self.state_ids)
        self.frontier, a = checkpoint(spark, gen.frontier(spark, self.shape, seed))
        self.seen, b = checkpoint(spark, gen.seen_set(spark, self.shape, seed))
        dt, (self.filters, c) = timed(lambda: checkpoint(spark, build_bloom_filters(self.seen)))
        self.filter_build_s.append(dt)
        self.filters_bytes = int(self.filters.agg(F.sum(F.expr("m_bits / 8"))).first()[0] or 0)
        self.rules = gating.rules_df(spark)
        self.state_ids = a | b | c

    def prefixes(self):
        """(layer, DataFrame) for each cumulative prefix of the pass."""
        f = canonicalize_split(self.frontier, canonicalize_urls_udf)
        f = f.withColumn("key_hash", F.xxhash64("canon_url")).drop("canon_url")
        f = f.withColumn("bucket", bucket_col(F.col("key_hash"), gen.N_BUCKETS))
        f = f.withColumn("host", host_col(F.col("url"))).drop("title", "summary", "cover", "name")
        yield "urls.canonicalize", f
        f = gating.robots_gate(f, self.rules)
        yield "gating.robots", f
        f = batch_first_occurrence(
            f, "key_hash", ["source"] + PRIORITY_COLS[1:],
            order_col=packed_dedup_order_col(sorted(SOURCE_RANK)),
        )
        yield "dedup.first_occurrence", f
        yield "dedup.seen_probe", dedup_against_seen(
            f, self.seen, self.filters, seen_unique=True, filters_total_bytes=self.filters_bytes
        )

    def _schedule(self, new):
        handle = CheckpointHandle()
        plan = schedule(new, n_salts=FRONTIER_SALTS,
                        n_range_partitions=self.spark.sparkContext.defaultParallelism * 2,
                        handle=handle)
        noop(plan)
        return plan, handle, new.count()

    def release(self):
        if self.last is not None:
            _, _, handle, ids = self.last
            free_schedule_checkpoints(self.spark, handle)
            unpersist(self.spark, ids)
            self.last = None

    def op(self):
        self.release()
        *_, probed = self.prefixes()
        new, ids = checkpoint(self.spark, probed[1])
        plan, handle, scheduled = self._schedule(new)
        self.last = (new, plan, handle, ids)
        return scheduled

    def check(self):
        new, plan, _, _ = self.last
        return check_frontier(plan, new, gen.expected_scheduled(self.shape))

    def trace(self, tracer: ActionTracer, base_s: float) -> dict:
        spark, out = self.spark, {}
        self.release()
        times, rows = {}, {}
        with tracer:
            for label, df in self.prefixes():
                with tracer.span(label):
                    if label == "dedup.seen_probe":
                        dt, (new, ids) = timed(lambda: checkpoint(spark, df))
                    else:
                        dt, _ = timed(lambda: noop(df))
                times[label] = dt
                with tracer.span("trace"):
                    rows[label] = df.count()
            with tracer.span("scheduler.schedule"):
                dt, (plan, handle, _) = timed(lambda: self._schedule(new))
            times["scheduler.schedule"] = dt
        self.last = (new, plan, handle, ids)
        layers = ["urls.canonicalize", "gating.robots", "dedup.first_occurrence", "dedup.seen_probe"]
        prev = 0.0
        for label in layers:
            out[label + "_s"] = times[label] - prev
            prev = times[label]
        out["scheduler.schedule_s"] = times["scheduler.schedule"]
        n = self.shape.n
        out["gating.pass_ratio"] = rows["gating.robots"] / rows["urls.canonicalize"]
        out["dedup.batch_dup_ratio"] = 1 - rows["dedup.first_occurrence"] / rows["gating.robots"]
        with tracer.span("trace"):
            slow = self.frontier.filter(~fast_canonical_pred(F.col("url"))).count()
            first = dict(self.prefixes())["dedup.first_occurrence"]
            seen_keys = self.seen.select("key_hash").withColumn("_seen", F.lit(True))
            flagged = bloom_prefilter_broadcast(first, self.filters).join(
                seen_keys, "key_hash", "left")
            r = flagged.agg(
                F.count("*"), F.sum(F.col("might_seen").cast("long")),
                F.sum((F.col("might_seen") & F.col("_seen").isNull()).cast("long")),
                F.sum(F.col("_seen").isNull().cast("long")),
            ).first()
        out["urls.slow_path_ratio"] = slow / n
        out["dedup.probable_seen_ratio"] = r[1] / r[0]
        out["dedup.bloom_fp_ratio"] = r[2] / max(r[3], 1)
        out["dedup.filter_build_s"] = median(self.filter_build_s)
        out["dedup.filter_mb"] = self.filters_bytes / 2**20
        out["_layer_sum_s"] = times["dedup.seen_probe"] + times["scheduler.schedule"]
        out["_sched_labels"], out["_sched_calls"] = ("scheduler.schedule",), 1
        return out


class CrawlRounds(Workload):
    """CrawlRun.run() over a worldgen world, with snapshots."""

    warmups = 0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.spec = gen.world_spec(ctx.seed)
        if ctx.small:
            self.spec = gen.WorldSpec(n_tianyan_seeds=12 + ctx.seed % 3)
        self.cfg = CrawlConfig(spec=self.spec, n_buckets=16, n_salts=4, filter_family="bloom")
        self.n_ops = 0
        self.pages = None

    def units(self):
        return self.pages

    def setup(self):
        from python_crawler_spark.sources import worldgen

        self.seeds = worldgen.gen_seeds(self.spec)
        self.store_root = os.path.join(self.ctx.work, "snapshots")
        shutil.rmtree(self.store_root, ignore_errors=True)
        os.makedirs(self.store_root)

    def op(self):
        self.n_ops += 1
        store_dir = os.path.join(self.store_root, f"op{self.n_ops}")
        self.run = CrawlRun(self.spark, self.cfg, store=SnapshotStore(store_dir))
        self.store_dir = store_dir
        res = self.run.run()
        self.order = res["fetch_order"]
        noop(self.order)
        return None

    def after_op(self, timed_op: bool = True):
        """Pages fetched (a count outside the timed region)."""
        self.pages = self.run.fetch_log.count()
        old = os.path.join(self.store_root, f"op{self.n_ops - 1}")
        shutil.rmtree(old, ignore_errors=True)

    def check(self):
        from tests.oracle import Oracle

        oracle = Oracle(spec=self.spec, fixed_date=self.cfg.fixed_date).run()
        rows = [(r["source"], r["url"], r["attempt"])
                for r in self.order.select("source", "url", "attempt").collect()]
        seen = {r["dedup_key"] for r in self.run.seen.select("dedup_key").collect()}
        return check_crawl(rows, seen, oracle)

    def trace(self, tracer: ActionTracer, base_s: float) -> dict:
        spark = self.spark
        self.n_ops += 1
        store_dir = os.path.join(self.store_root, f"op{self.n_ops}")
        run = CrawlRun(spark, self.cfg, store=SnapshotStore(store_dir))
        rounds, slow = [], [0, 0]
        orig = run.run_round

        def run_round(frontier):
            with tracer.span("trace"):
                slow[0] += frontier.filter(~fast_canonical_pred(F.col("url"))).count()
                slow[1] += frontier.count()
            dt, nxt = timed(lambda: orig(frontier))
            rounds.append(dt)
            return nxt

        run.run_round = run_round
        with tracer:
            t0 = time.perf_counter()
            res = run.run()
            with tracer.span("crawl.fetch_order"):
                noop(res["fetch_order"])
            wall = time.perf_counter() - t0
        s = tracer.self_s
        out = {
            "crawl.round_s": median(rounds),
            "crawl.fetch_s": s["crawl.fetch"],
            "crawl.filter_update_s": s["crawl.filter_update"],
            "crawl.fetch_order_s": s["crawl.fetch_order"],
            "parse.extract_s": s["parse.extract"],
            "images.decode_s": s["images.decode"],
            "tables.write_round_s": s["tables.write_round"],
            "dedup.seen_probe_s": s["dedup.seen_probe"],
            "scheduler.schedule_s": s["scheduler.schedule"],
            "urls.slow_path_ratio": slow[0] / max(slow[1], 1),
            "images.count": run.images.count(),
            "images.quarantined": run.images.filter(F.col("dec_fmt").isNull()).count(),
            "tables.written_mb": _du_mb(store_dir),
        }
        for i, m in enumerate(run.metrics[:3]):
            out[f"crawl.round{i}_s"] = rounds[i]
            out[f"crawl.round{i}_frontier_in"] = m["frontier_in"]
        self.run, self.order, self.store_dir = run, res["fetch_order"], store_dir
        out["_traced_op_s"] = wall
        out["_layer_sum_s"] = sum(v for k, v in s.items() if k not in ("trace", "bench"))
        # schedule() runs once per round and once for fetch_order(); its
        # window jobs execute inside the fetch materialization
        out["_sched_labels"] = ("scheduler.schedule", "crawl.fetch", "crawl.fetch_order")
        out["_sched_calls"] = len(rounds) + 1
        return out


class StreamMicrobatch(Workload):
    """A frontier stream that keeps receiving files: each operation
    moves the next group of files into the drop directory and drains
    it with an availableNow trigger on the same checkpoint, so every
    operation is one more epoch of one continuing query."""

    warmups = 2
    max_ops = 2

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        # one group of files per drain, and one more for a traced drain
        self.n_groups = self.warmups + self.max_ops + 1
        rows_per_file = 100 if ctx.small else 200
        self.shape = gen.FrontierShape(
            n=self.n_groups * FILES_PER_EPOCH * rows_per_file, history_frac=0.0)
        self.n_files = self.n_groups * FILES_PER_EPOCH
        self.epochs: list[dict] = []  # progress reports of the timed epochs
        self.progress = []
        self.seen_ids: set[int] = set()

    def units(self):
        return self.shape.n / self.n_groups

    def epoch_s(self, key: str = "triggerExecution") -> list[float]:
        return [p["durationMs"].get(key, 0) / 1000 for p in self.epochs]

    def setup(self):
        spark, seed = self.spark, self.ctx.seed
        root = os.path.join(self.ctx.work, "stream")
        shutil.rmtree(root, ignore_errors=True)
        self.pool = os.path.join(root, "pool")
        self.drop = os.path.join(root, "drop")
        self.out_dir = os.path.join(root, "out")
        self.ckpt = os.path.join(root, "ckpt")
        gen.write_stream_files(spark, self.shape, seed, self.n_files, self.pool)
        os.makedirs(self.drop)
        self.pending = sorted(os.listdir(self.pool))  # priority order
        self.stage_next()
        unpersist(spark, self.seen_ids)
        self.seen, self.seen_ids = checkpoint(spark, gen.seen_set(spark, self.shape, seed))

    def stage_next(self):
        """Move the next group of files into the drop directory (the
        arrival of one epoch's files), outside any timed region."""
        group, self.pending = self.pending[:FILES_PER_EPOCH], self.pending[FILES_PER_EPOCH:]
        for f in group:
            os.rename(os.path.join(self.pool, f), os.path.join(self.drop, f))
        self.staged = bool(group)

    def _drain(self):
        if not self.staged:
            raise RuntimeError("no stream files left to drain")
        enriched = streaming_enrich(frontier_stream(self.spark, self.drop), n_buckets=gen.N_BUCKETS)
        q = run_micro_batches(enriched, self.seen, self.out_dir, self.ckpt,
                              n_salts=STREAM_SALTS).start()
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q.recentProgress

    def op(self):
        self.progress = self._drain()
        return None

    def after_op(self, timed_op: bool = True):
        if timed_op:
            self.epochs += [p for p in self.progress if p["numInputRows"] > 0]
        self.stage_next()

    def extra_e2e(self, op_seconds):
        pct, tail = tail_percentile(self.epoch_s())
        return {
            "stream_urls_per_s": (self.units() / median(op_seconds), "rows/s"),
            "epoch_s_p50": (median(self.epoch_s()), "s"),
            "epoch_s_tail": (tail, f"s@p{pct:.0f}"),
            "epoch_samples": (len(self.epochs), "count"),
        }

    def drained_files(self) -> list[str]:
        """The files the query has drained: all in the drop directory
        but a staged group that is still waiting."""
        files = sorted(os.listdir(self.drop))
        return files[:-FILES_PER_EPOCH] if self.staged else files

    def batch_plan(self):
        paths = [os.path.join(self.drop, f) for f in self.drained_files()]
        rows = streaming_enrich(self.spark.read.schema(STREAM_SCHEMA).parquet(*paths),
                                n_buckets=gen.N_BUCKETS)
        cand = batch_first_occurrence(
            rows, "key_hash", ["source"] + PRIORITY_COLS[1:],
            order_col=packed_dedup_order_col(sorted(SOURCE_RANK)),
        )
        return rows, cand, dedup_against_seen(cand, self.seen, None)

    def check(self):
        emitted = self.spark.read.parquet(self.out_dir)
        *_, new = self.batch_plan()
        expected = gen.expected_streamed(self.shape, self.n_files, len(self.drained_files()))
        return check_stream(emitted, schedule(new, n_salts=STREAM_SALTS), expected)

    def trace(self, tracer: ActionTracer, base_s: float) -> dict:
        rows, cand, new = self.batch_plan()
        times = {}
        with tracer:
            for label, df in (("urls.canonicalize", rows), ("dedup.first_occurrence", cand),
                              ("dedup.seen_probe", new)):
                with tracer.span(label):
                    times[label], _ = timed(lambda: noop(df))
            t0 = time.perf_counter()
            self.progress = self._drain()
            wall = time.perf_counter() - t0
        self.after_op()  # epoch figures cover the untraced drains and the traced one
        pct, tail = tail_percentile(self.epoch_s())
        s = tracer.self_s
        return {
            "urls.canonicalize_s": times["urls.canonicalize"],
            "urls.slow_path_ratio": 1.0,  # streaming_enrich sends every row to the Arrow UDF
            "dedup.first_occurrence_s": times["dedup.first_occurrence"] - times["urls.canonicalize"],
            "dedup.seen_probe_s": times["dedup.seen_probe"] - times["dedup.first_occurrence"],
            "scheduler.schedule_s": s["scheduler.schedule"],
            "stream.epochs": len(self.epochs),
            # numInputRows counts a batch once per action foreachBatch runs on it
            "stream.rows_per_epoch": self.units(),
            "stream.add_batch_s": median(self.epoch_s("addBatch")),
            "stream.wal_commit_s": median(self.epoch_s("walCommit")),
            "stream.epoch_s_p50": median(self.epoch_s()),
            "stream.epoch_s_tail": tail,
            "stream.epoch_samples": len(self.epochs),
            "_traced_op_s": wall,
            "_layer_sum_s": sum(v for k, v in s.items() if k.startswith(("stream.", "scheduler."))),
            "_sched_labels": ("scheduler.schedule", "stream.append"),
            "_sched_calls": 1,  # the traced drain is one epoch
        }


def _du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


WORKLOADS = {
    "frontier_fresh": lambda ctx: Frontier(ctx, seen_pct=5),
    "frontier_recrawl": lambda ctx: Frontier(ctx, seen_pct=80),
    "crawl_rounds": CrawlRounds,
    "stream_microbatch": StreamMicrobatch,
}
