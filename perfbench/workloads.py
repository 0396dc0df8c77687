"""The benchmark's workloads. Each drives the engine only through its public
functions and checks every result it times.

- ``ingest_hours``: the write path. Each op lands one generated GH-Archive
  hour twice: as a batch (bronze -> silver -> gold dims) and through a
  checkpointed stream (landing zone -> silver -> watermark dedup -> parquet
  sink) whose state carries from hour to hour.
- ``lake_queries``: the read path. Each op runs one registry query over the
  generated sf0.1 lake and fingerprints its full result.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

import inputs
from spans import Tracer

LAKE_SEED = 20_261_017     # the lake is fixed; a run's seed orders its ops
LAKE_SF = 0.1
LAKE_QUERIES = ("q01_pricing_summary", "q03_shipping_priority",
                "q05_region_revenue", "q07_customer_order_stats",
                "q12_dedup_first_event", "q50_tumbling_window",
                "q52_session_windows", "q53_asof_last_purchase",
                "q87_reconcile_tables", "q360_q9_shape", "q364_q20_shape",
                "q178_rolling_distinct_users", "q89_tfidf_top_terms")
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


@dataclass
class OpResult:
    name: str
    latency: float
    ok: bool
    events: int = 0            # input events the op carried to its outputs
    error: str = ""
    bronze_bytes: int = 0      # raw input file bytes the op landed


def fingerprint(df) -> tuple[tuple[int, int, int], object]:
    """Prune-proof, order-insensitive fingerprint of a DataFrame's full
    result in one action: row count, XOR and 32-bit-lane sum of each row's
    xxhash64 (the sum keeps duplicate rows from cancelling out). Returns the
    fingerprint and the executed aggregate DataFrame."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]
    h = F.xxhash64(F.struct(*cols))
    agg = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
                 F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
                            F.lit(0)).alias("s"))
    row = agg.collect()[0]
    return (int(row["n"]), int(row["x"]), int(row["s"])), agg


def add_catalyst_spans(tracer: Tracer, df, op: int, parent) -> None:
    """Catalyst's own phase timings for ``df`` (QueryExecution.tracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        ph = kv._2()
        tracer.add(f"catalyst.{kv._1()}", op, ph.startTimeMs() / 1e3,
                   ph.endTimeMs() / 1e3, parent)


def lake_specs() -> dict:
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    specs = all_queries()
    return {n: specs[n] for n in LAKE_QUERIES}


class LakeQueries:
    name = "lake_queries"
    traced_ops = len(LAKE_QUERIES)
    gen_s = 0.0                # the lake is made before the engine starts

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.data = self.lake_dir(work)
        self._order: list[str] = []
        self._passes = 0
        self.input_size = (f"sf{LAKE_SF} lake (600k lineitem rows), "
                           f"{len(LAKE_QUERIES)} queries per pass")

    @staticmethod
    def lake_dir(work: str) -> str:
        return os.path.join(work, f"lake-sf{LAKE_SF}-{LAKE_SEED}")

    @classmethod
    def make_inputs(cls, work: str, seed: int) -> None:
        """Build the lake once per checkout; later runs reuse it."""
        data = cls.lake_dir(work)
        if not os.path.exists(os.path.join(data, "DONE")):
            shutil.rmtree(data, ignore_errors=True)
            inputs.lake_tables(data, LAKE_SEED, LAKE_SF)
            open(os.path.join(data, "DONE"), "w").close()

    def warm_up(self, tracer: Tracer) -> list[OpResult]:
        """One pass in a fixed order: JIT, codegen and file-listing caches
        warm, every result checked."""
        with open(PINS) as f:
            self.pins = json.load(f)
        self.specs = lake_specs()
        return [self.run(name, -1 - i, tracer)
                for i, name in enumerate(LAKE_QUERIES)]

    @staticmethod
    def timed_ops(seconds: float) -> int:
        """Whole passes, about ``seconds`` long on a 4-core host (a warm
        pass takes about 14 s there); the count depends on ``seconds`` only,
        so every run of a seed does the same work."""
        return len(LAKE_QUERIES) * max(1, round(seconds / 14))

    def next_op(self, op: int, tracer: Tracer) -> OpResult:
        if not self._order:
            rng = np.random.default_rng([self.seed, self._passes])
            self._order = [LAKE_QUERIES[i]
                           for i in rng.permutation(len(LAKE_QUERIES))]
            self._passes += 1
        return self.run(self._order.pop(0), op, tracer)

    def run(self, name: str, op: int, tracer: Tracer) -> OpResult:
        spec = self.specs[name]
        pkg = spec.fn.__module__.split(".")[1]      # plans / operators / ...
        self.spark.sparkContext.setJobGroup(f"op{op}", name)
        t0 = time.perf_counter()
        with tracer.span("op", op, counters=False):
            with tracer.span(f"{pkg}.build", op):
                df = spec.fn(self.spark, self.data)
            with tracer.span("exec.action", op) as action:
                got, agg = fingerprint(df)
            latency = time.perf_counter() - t0
            if tracer.enabled:
                add_catalyst_spans(tracer, agg, op, action)
        pin = self.pins[name]
        ok = list(got) == [pin["rows"], pin["xor"], pin["sum32"]]
        return OpResult(name, latency, ok, pin["input_records"],
                        "" if ok else f"{name}: got {got}, pinned {pin}")


class IngestHours:
    name = "ingest_hours"
    traced_ops = 4
    warm_hours = 2

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.root = os.path.join(work, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        for d in ("bronze", "landing"):
            os.makedirs(os.path.join(self.root, d))
        self.stream = inputs.GhStream(seed, os.path.join(self.root, "bronze"))
        self.input_size = (f"{self.stream.events} GH events per hour "
                           "(one gzipped JSON-lines file)")
        self.gen_s = 0.0

    @staticmethod
    def make_inputs(work: str, seed: int) -> None:
        """Hours are generated one at a time, between ops (untimed)."""

    def warm_up(self, tracer: Tracer) -> list[OpResult]:
        """Two hours land untimed: code paths compiled, stream checkpoint
        and state initialised. Generating them counts in ``gen_s``, not in
        set-up."""
        t0 = time.monotonic()
        hours = [self.stream.next_hour() for _ in range(self.warm_hours)]
        self.gen_s = time.monotonic() - t0
        return [self.land_hour(truth, -1 - i, tracer)
                for i, truth in enumerate(hours)]

    @staticmethod
    def timed_ops(seconds: float) -> int:
        """About ``seconds`` of ops on a 4-core host (a warm hour takes
        about 5 s there), at least two; fixed by ``seconds`` alone."""
        return max(2, round(seconds / 5))

    def next_op(self, op: int, tracer: Tracer) -> OpResult:
        return self.land_hour(self.stream.next_hour(), op, tracer)

    def land_hour(self, truth: inputs.HourTruth, op: int,
                  tracer: Tracer) -> OpResult:
        self.spark.sparkContext.setJobGroup(f"op{op}", f"hour {truth.hour}")
        t0 = time.perf_counter()
        with tracer.span("op", op, counters=False):
            errors = self.land(truth, op, tracer)
        latency = time.perf_counter() - t0
        return OpResult(f"hour{truth.hour}", latency, not errors,
                        truth.new_ids, "; ".join(errors), truth.bronze_bytes)

    def land(self, truth: inputs.HourTruth, op: int,
             tracer: Tracer) -> list[str]:
        from pyspark.sql import functions as F

        from gh_archive_data_pipeline_spark.pipeline import stages
        from gh_archive_data_pipeline_spark.pipeline.schema import (
            GH_EVENT_SCHEMA,
        )
        from gh_archive_data_pipeline_spark.sources.writers import (
            write_parquet,
        )
        from gh_archive_data_pipeline_spark.streaming import pipeline as sp

        spark, root, h = self.spark, self.root, truth.hour
        silver_dir = f"{root}/silver/hour={h}"
        gold_dirs = {t: f"{root}/gold/{t}/hour={h}" for t in truth.gold}
        with tracer.span("pipeline.silver", op):
            stages.write_silver(
                stages.to_silver(stages.read_bronze(spark, truth.path)),
                silver_dir)
            silver = spark.read.parquet(silver_dir)
        with tracer.span("pipeline.gold", op):
            for name, df in stages.build_gold(silver).items():
                write_parquet(df, gold_dirs[name])
        with tracer.span("pipeline.check", op):
            parts = [spark.read.parquet(path)
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("id").cast("bigint")).alias("s"))
                     .select(F.lit(name).alias("t"), "n", "s")
                     for name, path in gold_dirs.items()]
            got = {r.t: (r.n, r.s or 0)
                   for r in _union(parts).collect()}
        errors = [f"gold {t}: got {got.get(t)}, expected {want}"
                  for t, want in truth.gold.items() if got.get(t) != want]
        with tracer.span("streaming.land", op, counters=False):
            shutil.copy(truth.path, f"{root}/landing/")
        with tracer.span("streaming.drain", op) as drain:
            stream = sp.dedup_within_watermark(
                stages.to_silver(sp.read_file_stream(
                    spark, f"{root}/landing", GH_EVENT_SCHEMA, fmt="json")),
                ["id"], ts_col="created_at")
            query = sp.start_parquet_sink(stream, f"{root}/sink",
                                          f"{root}/checkpoint")
            finished = query.awaitTermination(120)
            if not finished:
                query.stop()
                raise TimeoutError(f"hour {h}: stream drain did not finish")
            if query.exception() is not None:
                raise RuntimeError(f"hour {h}: {query.exception()}")
            progress = query.recentProgress
        if tracer.enabled:
            _add_trigger_spans(tracer, op, drain, progress)
        with tracer.span("pipeline.check", op):
            r = (spark.read.parquet(f"{root}/sink")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("id").alias("d"),
                      F.sum(F.col("id").cast("bigint")).alias("s"))
                 .collect()[0])
        rows, id_sum = truth.stream_total
        if (r.n, r.d, r.s) != (rows, rows, id_sum):
            errors.append(f"sink: got rows={r.n} distinct={r.d} sum={r.s}, "
                          f"expected {rows} distinct ids summing to {id_sum}")
        return errors


def _union(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _add_trigger_spans(tracer: Tracer, op: int, drain, progress) -> None:
    """One span per micro-batch from the query's progress events, carrying
    the batch's durationMs split and state-store metrics."""
    from datetime import datetime

    for p in progress:
        d = p.durationMs or {}
        trigger = d.get("triggerExecution", 0) / 1e3
        end = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        start = end.timestamp()     # progress timestamp = trigger start
        state = p.stateOperators or []
        tracer.add("streaming.trigger", op, start, start + trigger, drain,
                   add_batch_ms=d.get("addBatch", 0),
                   query_planning_ms=d.get("queryPlanning", 0),
                   wal_commit_ms=d.get("walCommit", 0),
                   commit_offsets_ms=d.get("commitOffsets", 0),
                   trigger_ms=d.get("triggerExecution", 0),
                   input_rows=p.numInputRows,
                   state_rows=sum(s.numRowsTotal for s in state),
                   state_mem_bytes=sum(s.memoryUsedBytes for s in state),
                   state_commit_ms=sum(s.commitTimeMs for s in state))


WORKLOADS = {w.name: w for w in (IngestHours, LakeQueries)}
