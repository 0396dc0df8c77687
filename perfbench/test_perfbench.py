"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The pure tests run in a second; the Spark tests share one local session and
a small generated lake (sf0.01).
"""

from __future__ import annotations

import filecmp
import gzip
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    self_times,
    tail_percentile,
    union_seconds,
)
from workloads import LakeQueries, OpResult, fingerprint, lake_specs  # noqa: E402

SMALL_HOUR = 600                 # records per test hour


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def _hours(seed: int, out: str, n: int = 3) -> list[inputs.HourTruth]:
    stream = inputs.GhStream(seed, out, SMALL_HOUR)
    return [stream.next_hour() for _ in range(n)]


def test_gh_hours_are_deterministic_per_seed(tmp_path):
    a = _hours(7, str(tmp_path / "a"))
    b = _hours(7, str(tmp_path / "b"))
    c = _hours(8, str(tmp_path / "c"))
    for x, y, z in zip(a, b, c):
        assert filecmp.cmp(x.path, y.path, shallow=False)
        assert (x.gold, x.stream_total) == (y.gold, y.stream_total)
        assert not filecmp.cmp(x.path, z.path, shallow=False)


def test_gh_hour_truth_matches_file_contents(tmp_path):
    """The expected gold values are what the file actually holds."""
    seen: set[int] = set()
    for truth in _hours(3, str(tmp_path)):
        with gzip.open(truth.path, "rt") as f:
            recs = [json.loads(line) for line in f]
        ids = [int(r["id"]) for r in recs]
        assert len(recs) == truth.records == SMALL_HOUR
        assert len(set(ids)) < len(ids)          # duplicates within the hour
        if truth.hour:
            assert set(ids) & seen               # and across hours
        assert truth.gold["events"] == (len(set(ids)), sum(set(ids)))
        users = {r["actor"]["id"] for r in recs}
        assert truth.gold["users"] == (len(users), sum(users))
        orgs = {r["org"]["id"] for r in recs if r["org"]}
        assert truth.gold["organizations"] == (len(orgs), sum(orgs))
        assert sum(r["org"] is None for r in recs) > len(recs) / 2
        for r in recs:                           # attributes follow the id
            assert r["actor"] == inputs.actor(r["actor"]["id"])
        seen |= set(ids)
        assert truth.stream_total == (len(seen), sum(seen))
        sizes = [len(r["payload"]) for r in recs]
        assert max(sizes) > 20 * min(sizes)      # a spread of payload sizes


def test_lake_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    inputs.lake_tables(str(tmp_path / "a"), 5, sf=0.001)
    inputs.lake_tables(str(tmp_path / "b"), 5, sf=0.001)
    for t in inputs.LAKE_TABLES:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))


# ---------------------------------------------------------------------------
# statistics and spans
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("n,p", [(1, 50), (19, 50), (20, 50), (26, 61),
                                 (100, 90), (1000, 99), (10_000, 99)])
def test_tail_percentile(n, p):
    assert tail_percentile(n) == p
    if n >= 20:                      # at least ten samples lie beyond it
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10 or p == 99


def _span(i, parent, start, end):
    return Span(i, f"s{i}", 0, parent, start, end)


def test_self_time_subtracts_covered_part_of_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0),      # covered 3
             _span(2, 0, 3.0, 6.0),      # overlaps 1: adds 2 more
             _span(3, 0, 9.0, 12.0),     # sticks out: adds 1
             _span(4, 1, 1.5, 2.0)]      # grandchild: only charged to 1
    got = self_times(spans)
    assert got == pytest.approx({0: 4.0, 1: 2.5, 2: 3.0, 3: 3.0, 4: 0.5})


def test_union_seconds():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0


def test_summarize_counts_failures_and_reports_tail():
    ops = [OpResult(f"o{i}", 1.0 + i / 100, i != 3, events=10)
           for i in range(30)]
    s = run.summarize(ops)
    assert s["failed"] == 1 and s["ops"] == 30
    assert s["tail_percentile"] == 66
    assert s["ops_per_min"] == pytest.approx(60 * 30 / sum(o.latency
                                                          for o in ops))


# ---------------------------------------------------------------------------
# against the engine
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    run.host_settings()
    from gh_archive_data_pipeline_spark.session import get_spark

    session = get_spark(app_name="perfbench-tests",
                        confs={"spark.ui.showConsoleProgress": "false"})
    session.sparkContext.setLogLevel("ERROR")
    gateway = session.sparkContext._gateway
    yield session
    session.stop()
    run.stop_jvm(gateway)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    data = str(tmp_path_factory.mktemp("lake"))
    inputs.lake_tables(data, 11, sf=0.01)
    lq = LakeQueries(spark, str(tmp_path_factory.mktemp("work")), 0)
    lq.data, lq.specs = data, lake_specs()
    lq.pins = {}
    for name in ("q01_pricing_summary", "q03_shipping_priority"):
        got, _ = fingerprint(lq.specs[name].fn(spark, data))
        lq.pins[name] = {"rows": got[0], "xor": got[1], "sum32": got[2],
                         "input_records": 1}
    return lq


def test_corrupted_result_counts_as_failed(lake, monkeypatch):
    from dataclasses import replace

    from pyspark.sql import functions as F

    name = "q01_pricing_summary"
    assert lake.run(name, 0, Tracer()).ok
    true_fn = lake.specs[name].fn

    def corrupted(spark, sf_dir):        # one value off in one row
        df = true_fn(spark, sf_dir)
        first = df.columns[-1]
        return df.withColumn(first, F.when(F.col("l_returnflag") == "A",
                                           F.col(first) + 1)
                             .otherwise(F.col(first)))

    corrupted.__module__ = true_fn.__module__      # same layer as the query
    monkeypatch.setitem(lake.specs, name, replace(lake.specs[name],
                                                  fn=corrupted))
    lake._order = [name]
    res = run.guarded(lake, 1, Tracer())
    assert not res.ok and "pinned" in res.error
    assert run.summarize([res])["failed"] == 1


@pytest.mark.parametrize("name", ["q01_pricing_summary",
                                  "q03_shipping_priority"])
def test_status_store_shuffle_records_match_plan_walk(spark, lake, name):
    """The status store's count for the final action equals the executed
    plan's Exchange accumulators (plans.metrics.executed_shuffle_summary,
    the instrument bench.py reports) on queries with no checkpoints."""
    from gh_archive_data_pipeline_spark.plans.metrics import (
        executed_shuffle_summary,
    )

    tracer = Tracer(spark, enabled=True)
    df = lake.specs[name].fn(spark, lake.data)
    with tracer.span("exec.action", 0) as action:
        _, agg = fingerprint(df)
    want = executed_shuffle_summary(agg)["shuffle_records"]
    assert want > 0
    assert action.counters["shuffle_write_records"] == want
