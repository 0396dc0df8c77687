"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_hours|lake_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed loop: a single client thread in one
driver process, ``local[<cores>]``, sends the next op when the previous one
has returned. The engine's deployment settings are derived from the host.

With ``--trace 0`` the last stdout line reports the end-to-end metrics; with
``--trace 1`` it reports the per-layer metrics of a traced run (spans are
written as JSON lines under ``perfbench/.work/traces/``). Every run also
writes its full record (host, seed, source digest, op latencies) under
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

from layers import LAYER_UNITS, layer_metrics
from spans import Tracer, percentile, tail_percentile
from workloads import WORKLOADS, OpResult

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "gh_archive_data_pipeline_spark"

END_TO_END = {"setup_s": "s", "ops_per_min": "ops/min", "op_p50_s": "s",
              "op_tail_s": "s", "events_per_s": "events/s"}


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_settings() -> dict:
    """Cores, driver heap and local dirs for this host, exported as the
    engine's deployment settings before it is imported."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_gib = max(1, int(mem_kib * 0.4 / 2**20))
    env = {"SPARK_GRAFT_CPUS": str(cores),
           "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
           "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
           "TMPDIR": os.path.join(WORK, "tmp")}
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return {"cores": cores, "mem_total_mib": mem_kib // 1024,
            "driver_heap": env["SPARK_GRAFT_DRIVER_MEM"],
            "master": f"local[{cores}]"}


def source_identity() -> dict:
    """The commit when run from a git checkout, and always a digest of the
    engine's sources (a benchmark checkout need not be a git repository)."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(name.encode() + f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def reset_peak_rss(jvm_pid: int) -> bool:
    """Reset both processes' high-water marks to their current resident
    size, so the peak covers the timed phase. No GC is forced first: the
    heap it would give back must be regrown by the first timed ops, which
    measurably slows them. Returns False where the kernel refuses the reset
    (the peak then covers the whole process)."""
    try:
        for pid in (jvm_pid, os.getpid()):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
    except OSError:
        return False
    return True


def peak_rss_mib(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    total_kib = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            total_kib += int(next(l for l in f
                                  if l.startswith("VmHWM")).split()[1])
    return total_kib / 1024


def stop_jvm(gateway) -> None:
    """Close the driver JVM's gateway and wait for the JVM to exit (it
    exits when its stdin closes)."""
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def summarize(results) -> dict:
    """End-to-end figures of a list of timed ops."""
    lat = [r.latency for r in results]
    busy = sum(lat)
    p = tail_percentile(len(lat))
    return {"ops": len(lat), "ops_per_min": 60 * len(lat) / busy,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": percentile(lat, p), "tail_percentile": p,
            "events_per_s": sum(r.events for r in results) / busy,
            "failed": sum(not r.ok for r in results)}


def timed_phase(workload, tracer, first_op: int, ops: int) -> list:
    """Closed loop: each op starts when the previous one has returned."""
    return [guarded(workload, first_op + i, tracer) for i in range(ops)]


def guarded(workload, op: int, tracer):
    """One op; an exception is a failed op, not a failed run."""
    t0 = time.perf_counter()
    try:
        return workload.next_op(op, tracer)
    except Exception as e:  # noqa: BLE001 - the loop must go on
        return OpResult(f"op{op}", time.perf_counter() - t0, False,
                        error=f"{type(e).__name__}: {str(e)[:300]}")


def main(argv: list[str] | None = None) -> int:
    born = time.monotonic() - process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE!r} not found beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = host_settings()
    cls = WORKLOADS[args.workload]
    t_gen = time.monotonic()
    cls.make_inputs(WORK, args.seed)
    gen_s = time.monotonic() - t_gen

    from gh_archive_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", confs={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_up = time.monotonic()
        untraced = Tracer()
        workload = cls(spark, WORK, args.seed)
        warm = workload.warm_up(untraced)
        ready = time.monotonic()
        start_s = session_up - born - gen_s
        prep_s = ready - session_up - workload.gen_s
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "host": host, **source_identity(),
                  "input_size": workload.input_size, "closed_loop_clients": 1,
                  "input_gen_s": gen_s + workload.gen_s,
                  "setup": {"setup_s": start_s + prep_s,
                            "session.start_s": start_s,
                            "session.prep_s": prep_s}}
        jvm_pid = gateway.jvm.ProcessHandle.current().pid()
        record["peak_rss_reset"] = reset_peak_rss(jvm_pid)
        ticks = cpu_ticks()
        if args.trace:
            tracer = Tracer(spark, enabled=True)
            traced = timed_phase(workload, tracer, 0, cls.traced_ops)
            record["peak_rss_mb"] = peak_rss_mib(jvm_pid)
            plain = timed_phase(workload, untraced, len(traced),
                                cls.timed_ops(args.seconds))
            results = traced + plain
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
            metrics = layer_metrics(tracer, traced, record["setup"], host)
            metrics["peak_rss_mb"] = record["peak_rss_mb"]
            metrics["trace.overhead_ops_per_min"] = (
                summarize(traced)["ops_per_min"]
                - summarize(plain)["ops_per_min"])
            metrics["failed_ratio"] = (sum(not r.ok for r in results)
                                       / len(results))
        else:
            results = timed_phase(workload, untraced, 0,
                                  cls.timed_ops(args.seconds))
            record["peak_rss_mb"] = peak_rss_mib(jvm_pid)
            s = summarize(results)
            record["summary"] = s
            metrics = {"setup_s": record["setup"]["setup_s"],
                       **{k: s[k] for k in ("ops_per_min", "op_p50_s",
                                            "op_tail_s", "events_per_s")}}
        record["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    finally:
        spark.stop()
        stop_jvm(gateway)
    errors = [r.error for r in warm + results if not r.ok]
    record["warm_ops"] = [[r.name, r.latency, r.ok] for r in warm]
    record["ops"] = [[r.name, r.latency, r.ok] for r in results]
    record["errors"] = errors
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in errors[:10]:
        print(f"# failed: {e}")
    print("# " + json.dumps({k: record[k] for k in
                             ("workload", "seed", "host", "commit",
                              "source_sha256", "input_size")}))
    units = LAYER_UNITS if args.trace else END_TO_END
    print(json.dumps({
        "correct": not errors, "attempted": len(results),
        "failed": sum(not r.ok for r in results),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
