"""The benchmark's workloads: inputs staged from the engine's change
generator, a closed loop of one client, and the oracle check.

Each workload runs ``step()`` until the time is up. A step is one
ingest (a replay micro-batch or one sink epoch), then the reads a
client makes after that commit: point lookups on the replay table, a
change-feed span read on the sink table. Every result a read returns is
kept and checked against the DuckDB oracle after the timed phase.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench.oracle import KEYS, LwwOracle, canon_rows, fold_changes, mismatches
from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    change_event_schema,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.cdc.generator import change_events
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.table import LakeTable

BUCKETS = 8
PAYLOAD = ["role", "text", "tool", "ts"]
# bench.py's change mix: 35% update, 5% delete, 20% of events on 4 hot
# conversations
MIX = dict(
    n_convs=2000, turns_per_conv=50, update_ratio=0.35, delete_ratio=0.05,
    hot_fraction=0.2, hot_convs=4,
)


@dataclass
class Samples:
    """Wall and CPU seconds of every client operation; ``traced`` marks
    the operations of a run's traced half."""

    batch_s: list[float] = field(default_factory=list)
    batch_cpu_s: list[float] = field(default_factory=list)
    batch_traced: list[bool] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    read_cpu_s: list[float] = field(default_factory=list)
    read_traced: list[bool] = field(default_factory=list)
    events: int = 0


class Workload:
    """Shared closed loop: one ingest, then the reads a client makes
    after it; the oracle check afterwards."""

    name = ""
    # steps per maintenance cycle: every cycle ends with one compaction
    # (or sink optimize) of every bucket, and the timed loop stops only
    # at a cycle boundary, so every run holds the same mix of plain and
    # compacting commits
    cycle = 2

    def __init__(self, spark, work: str, seed: int, tracer, cpu_clock):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.cpu_clock = cpu_clock  # CPU seconds of the Spark process tree
        self.samples = Samples()
        self.phases: dict[str, float] = {}
        self.first_version = 0
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = {}
        self._observed: list[tuple] = []  # what each read returned, for verify()

    def prepare(self) -> None:
        """Create the table, pre-load it, and warm the read path, so the
        timed steps pay no first-use costs (JIT, worker start-up)."""
        t0 = time.perf_counter()
        self.create()
        self.ingest()
        t1 = time.perf_counter()
        self.read(traced=False)
        self.phases.update(preload_s=t1 - t0, warm_read_s=time.perf_counter() - t1)
        self.samples = Samples()  # the warm-up's reads are still verified
        self.first_version = self.version()

    def step(self, traced: bool) -> None:
        self.samples.events += self._measure("batch", traced, self.ingest)
        self.read(traced)

    def _measure(self, kind: str, traced: bool, op):
        """Run one client operation, recording its wall and CPU time."""
        t0, c0 = time.perf_counter(), self.cpu_clock()
        out = op()
        s = self.samples
        getattr(s, f"{kind}_s").append(time.perf_counter() - t0)
        getattr(s, f"{kind}_cpu_s").append(self.cpu_clock() - c0)
        getattr(s, f"{kind}_traced").append(traced)
        return out

    def version(self) -> int:
        return self.runner.table.current_version()

    def watermark(self) -> int:
        return self.runner.table.watermark()

    def count(self, check: str, bad: bool) -> None:
        self.attempted += 1
        self.failed += int(bad)
        self.checks[check] = self.checks.get(check, 0) + int(bad)

    def verify(self) -> list[tuple]:
        """Check every observed result against the oracle; return the
        final live rows."""
        t0 = time.perf_counter()
        oracle = self.oracle()
        try:
            for _ in self.samples.batch_s:
                self.count("batches", False)  # a raising batch aborts the run
            self.verify_reads(oracle)
            final = self.final_state(oracle.cols)
            want = oracle.rows(self.watermark())
            self.count("final_state", mismatches(final, want) > 0)
        finally:
            oracle.close()
        self.phases["verify_s"] = time.perf_counter() - t0
        return final


class ReplayTrickleServe(Workload):
    """Small LSN slices replayed onto a bulk-preloaded table; after every
    commit a serving client looks up conversations, mostly ones the
    commit just wrote."""

    name = "replay_trickle_serve"
    preload_events = 40_000  # whole slices, so lookups can aim at the last one
    slice_events = 20_000
    max_steps = 6  # two cycles untraced plus one traced, or one of each
    lookups_per_commit = 1

    def stage(self) -> None:
        n = self.preload_events + self.max_steps * self.slice_events
        self.events_dir = os.path.join(self.work, "events")
        change_events(
            self.spark, n, malformed_ratio=0.01, seed=self.seed, **MIX
        ).write.parquet(self.events_dir)
        self.events = self.spark.read.parquet(self.events_dir)
        self.glob = os.path.join(self.events_dir, "*.parquet")
        self.max_lsn = n - 1
        self.rng = random.Random(self.seed)
        # conv ids per slice, so lookups can favour what was just written
        self.convs: dict[int, list[str]] = {}
        con = duckdb.connect()
        try:
            for s, conv in con.execute(
                f"SELECT DISTINCT _lsn // {self.slice_events} AS s, conv_id "
                f"FROM read_parquet('{self.glob}') WHERE conv_id LIKE 'conv-%' "
                "ORDER BY s, conv_id"
            ).fetchall():
                self.convs.setdefault(int(s), []).append(conv)
        finally:
            con.close()

    def create(self) -> None:
        self.runner = CdcRunner(
            self.spark,
            RunnerConfig(
                table_root=os.path.join(self.work, "table"),
                lineage_path=os.path.join(self.work, "lineage.jsonl"),
                bucket_count=BUCKETS,
                # every slice touches every bucket, so each bucket holds
                # base + 1 delta after the first commit of a cycle and
                # compacts on the second
                compact_threshold=self.cycle,
            ),
        )

    def has_next(self) -> bool:
        return self.watermark() < self.max_lsn

    def ingest(self) -> int:
        wm = self.watermark()
        step = self.preload_events if wm < 0 else self.slice_events
        hi = min(wm + step, self.max_lsn)
        self.runner.replay(self.events, lsn_step=step, max_lsn=hi)
        return hi - wm

    def read(self, traced: bool) -> None:
        wm = self.watermark()
        latest = wm // self.slice_events
        for _ in range(self.lookups_per_commit):
            # 80% from the slice just written, else from any earlier one
            s = latest if self.rng.random() < 0.8 else self.rng.randint(0, latest)
            conv = self.rng.choice(self.convs.get(s) or self.convs[latest])
            with self.tracer.span("cdc.runner.conversation"):
                rows = self._measure(
                    "read", traced, lambda: self.runner.conversation(conv).collect()
                )
            self._observed.append((conv, wm, rows))

    def oracle(self) -> LwwOracle:
        return LwwOracle(self.glob, PAYLOAD, normalize=True)

    def verify_reads(self, oracle: LwwOracle) -> None:
        for conv, wm, rows in self._observed:
            want = oracle.rows(wm, conv)
            self.count("lookups", mismatches(canon_rows(rows, oracle.cols), want) > 0)

    def final_state(self, cols) -> list[tuple]:
        return canon_rows(self.runner.state().collect(), cols)


TOOL_CALLS = T.StructField(
    "tool_calls",
    T.ArrayType(
        T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("args", T.StringType())]
        )
    ),
    True,
)


class StreamSinkFeed(Workload):
    """Staged epoch files streamed into ``writeStream.format("lake")``
    (one ``availableNow`` pass per epoch, auto-optimize on); after every
    epoch a downstream consumer reads the new version span with a batch
    ``lake_cdf`` read. Events carry a nested ``tool_calls`` payload and
    a share of redelivered same-LSN duplicates."""

    name = "stream_sink_feed"
    preload_events = 40_000
    slice_events = 20_000
    max_steps = 6  # two cycles untraced plus one traced, or one of each
    dup_per_10k = 200  # 2% redelivered duplicates

    def stage(self) -> None:
        n = self.preload_events + self.max_steps * self.slice_events
        ev = change_events(self.spark, n, seed=self.seed, **MIX)
        ev = ev.withColumn(
            "tool_calls",
            F.when(
                F.col("tool").isNotNull(),
                F.array(
                    F.struct(
                        F.col("tool").alias("name"),
                        F.concat(F.lit('{"q":'), F.col("_lsn").cast("string"), F.lit("}"))
                        .alias("args"),
                    )
                ),
            ),
        )
        dup = (F.abs(F.xxhash64(F.lit(self.seed), F.lit(99), F.col("_lsn"))) % 10_000) < (
            self.dup_per_10k
        )
        ev = ev.unionByName(ev.filter(dup))
        epoch = F.when(F.col("_lsn") < self.preload_events, F.lit(-1)).otherwise(
            F.floor((F.col("_lsn") - self.preload_events) / self.slice_events)
        )
        self.stage_dir = os.path.join(self.work, "staged")
        ev.withColumn("epoch", epoch).write.partitionBy("epoch").parquet(self.stage_dir)
        self.glob = os.path.join(self.stage_dir, "*", "*.parquet")
        self.schema = change_event_schema([TOOL_CALLS])
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        self.next_epoch = -1

    def create(self) -> None:
        from picsure_dictionary_etl_spark.streaming.cdf_source import LakeChangeFeedDataSource
        from picsure_dictionary_etl_spark.streaming.lake_sink import LakeTableSinkDataSource

        self.spark.dataSource.register(LakeTableSinkDataSource)
        self.spark.dataSource.register(LakeChangeFeedDataSource)
        self.root = os.path.join(self.work, "sink")
        LakeTable.create(
            self.spark, self.root, schema=transcript_table_schema([TOOL_CALLS]),
            key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=BUCKETS,
        )
        self.runner = CdcRunner(self.spark, RunnerConfig(table_root=self.root))
        self.progress: list[dict] = []
        self.stream_groups: dict[str, str] = {}
        self.read_from = (0, -1)  # (version, watermark) the consumer has read up to

    def has_next(self) -> bool:
        return self.next_epoch < self.max_steps

    def ingest(self) -> int:
        e = self.next_epoch
        d = os.path.join(self.stage_dir, f"epoch={e}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                os.link(os.path.join(d, f), os.path.join(self.src, f"e{e}-{f}"))
        with self.tracer.span("streaming.lake_sink.epoch") as rec:
            q = (
                self.spark.readStream.schema(self.schema).parquet(self.src)
                .writeStream.format("lake")
                .option("path", self.root)
                .option("checkpointLocation", os.path.join(self.work, "ckpt"))
                # the preload commit starts the count, so the optimize
                # lands on the first epoch of every timed cycle; any
                # bucket with more than one file qualifies
                .option("optimizeevery", self.cycle)
                .option("optimizethreshold", 1)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"sink epoch {e} failed: {q.exception()}")
        if rec is not None:
            self.stream_groups[str(q.runId)] = rec["id"]
        rows = 0
        for p in q.recentProgress:
            rows += p.numInputRows
            self.progress.append({"traced": rec is not None, **p.durationMs})
        self.next_epoch += 1
        return rows

    def read(self, traced: bool) -> None:
        v0, wm0 = self.read_from
        v1, wm1 = self.version(), self.watermark()
        rows = self._measure("read", traced, lambda: self._cdf(v0, v1))
        self._observed.append((wm0, wm1, rows))
        self.read_from = (v1, wm1)

    def _cdf(self, v0: int, v1: int) -> list:
        with self.tracer.span("streaming.cdf_source.plan"):
            df = (
                self.spark.read.format("lake_cdf").option("path", self.root)
                .option("startversion", v0).option("endversion", v1).load()
            )
        with self.tracer.span("streaming.cdf_source.read", v0=v0, v1=v1) as rec:
            rows = df.collect()
            if rec is not None:
                rec["attrs"]["rows"] = len(rows)
        return rows

    def oracle(self) -> LwwOracle:
        return LwwOracle(self.glob, [*PAYLOAD, "tool_calls"], normalize=False)

    def verify_reads(self, oracle: LwwOracle) -> None:
        # each span folded onto the oracle state it starts from must
        # give the oracle state it ends at
        for wm0, wm1, rows in self._observed:
            state = {r[: len(KEYS)]: r for r in oracle.rows(wm0)}
            fold_changes(state, rows, oracle.cols)
            self.count("feed_spans", mismatches(list(state.values()), oracle.rows(wm1)) > 0)

    def final_state(self, cols) -> list[tuple]:
        # the spans chain from the empty version 0 (the warm-up read is
        # the first), so their fold is the sink table's resolved state
        state: dict[tuple, tuple] = {}
        for _, _, rows in self._observed:
            fold_changes(state, rows, cols)
        return list(state.values())


WORKLOADS = {w.name: w for w in (ReplayTrickleServe, StreamSinkFeed)}
