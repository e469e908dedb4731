"""End-to-end benchmark of the ETL engine: one workload, one seed.

    python3 perfbench/run.py --workload lead_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout (never from site-packages); if it is missing the command
exits with code 2 and prints no result. Everything a run writes goes
under ``.perfbench/`` in the checkout and the run's own directory is
removed at the end; a traced run keeps its spans in
``.perfbench/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (input records, where a record of a job whose output check
failed counts as failed) and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exit code 1
when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_IMPORT = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
DEADLINE_S = 160  # the run must end within 180 s

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "throughput_rps": "1/s",
    "batch_latency_p50_s": "s",
    "batch_latency_max_s": "s",
    "write_amplification": "ratio",
    "peak_rss_mb": "MB",
}

SPANS = (
    "session.worker_warmup",
    "sources.fetch_pages",
    "sources.parse_pages",
    "schema.canonicalize",
    "plans.pipeline.clean_leads",
    "operators.dedupe_keyed",
    "io.read_processed_csvs",
    "plans.run_batch_pipeline",
    "plans.run_corpus_pipeline",
    "plans.corpus_pipeline.near_dup_removal",
    "plans.corpus_pipeline.stage_corpus_artifacts",
    "plans.corpus_pipeline.incremental_near_dup",
    "plans.corpus_pipeline.append_corpus_artifacts",
    "plans.shard_writer.append_batch_shards",
    "streaming.batch",
)
LAYERS = (
    "session", "sources", "schema", "plans.pipeline", "operators",
    "plans.corpus_pipeline", "plans.shard_writer", "io", "streaming", "bench",
)
_COUNTS = (
    "sources.fetch_pages.rows", "sources.parse_pages.rows_out",
    "operators.dedupe_keyed.rows_in", "operators.dedupe_keyed.rows_out",
    "plans.run_batch_pipeline.quarantined",
    *(f"plans.run_corpus_pipeline.{s}_records"
      for s in ("raw", "filtered", "exact_dedup", "near_dup", "chunks", "vocab")),
    "plans.corpus_pipeline.near_dup_removal.candidate_pairs",
    "plans.corpus_pipeline.near_dup_removal.verified_pairs",
    "plans.shard_writer.write_training_shards.sequences",
    "artifacts.files",
)
_RATIOS = (
    "sources.fetch_pages.attempts_per_row",
    "plans.corpus_pipeline.near_dup_removal.verify_yield",
    "plans.shard_writer.write_training_shards.pack_fill",
    "quality.error_rate", "quality.dup_recall", "quality.false_drop_rate",
)
_BYTES = ("artifacts.bytes", "io.write_handoff.bytes", "io.write_run_csv.bytes")
_TIMES = (
    "session.get_spark.s", "session.worker_warmup.s",
    "sources.fetch_pages.s", "sources.parse_pages.s",
    "schema.canonicalize.s", "plans.pipeline.clean_leads.s", "operators.dedupe_keyed.s",
    *(f"plans.run_batch_pipeline.{s}_s" for s in ("bronze", "silver", "gold", "audit")),
    *(f"plans.run_corpus_pipeline.{s}_s"
      for s in ("filtered", "exact_dedup", "near_dup", "chunks", "vocab", "shards")),
    "plans.shard_writer.write_training_shards.s",
    "plans.corpus_pipeline.stage_corpus_artifacts.s",
    "plans.corpus_pipeline.incremental_near_dup.s",
    "plans.corpus_pipeline.append_corpus_artifacts.s",
    "plans.shard_writer.append_batch_shards.s",
    "streaming.overhead_s",
    "io.write_run_csv.s", "io.read_processed_csvs.s",
    *(f"self_s.{layer}" for layer in LAYERS),
    "trace.overhead_s", "trace.traced_wall_s", "trace.untraced_wall_s",
)
_JOBS = ("jobs", "stages", "tasks", "tasks_failed")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {k: "s" for k in _TIMES}
    units.update({k: "count" for k in _COUNTS})
    units.update({k: "ratio" for k in _RATIOS})
    units.update({k: "bytes" for k in _BYTES})
    units.update({f"{span}.{c}": "count" for span in SPANS for c in _JOBS})
    return units


def process_age() -> float:
    """Seconds since this process started (Linux /proc), so set-up
    time includes interpreter start; elsewhere, since this module
    was first executed."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time() - T_IMPORT


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def start_spark(work: str, tracer):
    from etl_guiacores_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.local.dir": f"{work}/local",
        # the whole heap committed and touched at start: peak RSS then
        # does not follow G1's load-dependent heap growth. No
        # hsperfdata file: HotSpot would write it to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData",
    }
    with tracer.span("session.get_spark", "session") as sp:
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    tracer.bind(spark.sparkContext)
    with tracer.span("session.worker_warmup", "session") as sw:
        # one pandas task per task slot: forks the Python workers and pays
        # their pandas/pyarrow imports before anything is timed
        n = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(0, 64 * n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()
    return spark, sp, sw


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit
    (it exits when its stdin closes; Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(out, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = out.latencies
    return {
        "setup_s": setup_s,
        "first_run_s": out.first_run_s,
        "throughput_rps": out.warm_records / sum(lat),
        "batch_latency_p50_s": statistics.median(lat),
        "batch_latency_max_s": max(lat),
        "write_amplification": out.output_bytes / out.input_bytes,
        "peak_rss_mb": rss_mb,
    }


def per_layer(out, tracer, setup: dict) -> dict[str, float]:
    vals = {k: 0.0 for k in per_layer_units()}
    vals.update(setup)
    vals.update(out.layer)
    vals["quality.error_rate"] = out.failed / max(out.attempted, 1)
    n = max(len(out.traced_latencies), 1)
    for layer, s in tracer.self_times("warm").items():
        if f"self_s.{layer}" in vals:
            vals[f"self_s.{layer}"] = s / n
    vals["self_s.session"] = tracer.self_times("setup").get("session", 0.0)
    traced = statistics.median(out.traced_latencies)
    plain = statistics.median(out.untraced_latencies[1:])
    vals["trace.traced_wall_s"], vals["trace.untraced_wall_s"] = traced, plain
    vals["trace.overhead_s"] = traced - plain
    for span in SPANS:
        # a lazy call's work shows in its isolated probe, when it has one
        named = [s for s in tracer.spans if s.name == span]
        hits = ([s for s in named if s.phase == "probe"]
                or [s for s in named if s.phase == "warm"] or named)
        for c in _JOBS:
            if hits:
                vals[f"{span}.{c}"] = sum(s.counts.get(c, 0) for s in hits) / len(hits)
    return vals


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_guiacores_spark", "__init__.py")):
        print(f"perfbench: no engine source at {ROOT}/etl_guiacores_spark", file=sys.stderr)
        return 2
    age_at_start = process_age()
    t_start = time.perf_counter() - age_at_start

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for d in ("tmp", "local", "inputs", "out"):
        os.makedirs(os.path.join(work, d))
    # one task slot fewer than the cores the process may use: the JVM's
    # JIT and GC threads, py4j and this Python process get a core of
    # their own, so a busy core does not hold back a whole stage (on 4
    # vCPUs local[3] ran as fast as local[4] and spread far less while
    # the host was busy; see README.md)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpus = max(1, cores - 1)
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # the short-lived JVM spark-submit starts to build the Spark
        # JVM's command line: no /tmp/hsperfdata_* file from it either
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    })
    os.chdir(work)  # anything the engine writes relative to cwd lands here
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    correct, error = True, None
    out = workloads.Outcome()
    try:
        spark, sp_get, sp_warm = start_spark(work, tracer)
        session_s = time.perf_counter() - t_start
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
        out = workloads.WORKLOADS[args.workload](ctx, out)
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024
    except Exception as e:  # noqa: BLE001 — a failed check, crash or deadline: report it
        correct, error = False, e
        traceback.print_exc(file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        signal.alarm(0)
        if args.trace and tracer.spans:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    metrics: dict[str, float] = {}
    if correct:
        setup_s = session_s + out.extra_setup_s
        if args.trace:
            setup = {"session.get_spark.s": sp_get.duration,
                     "session.worker_warmup.s": sp_warm.duration}
            values, units = per_layer(out, tracer, setup), per_layer_units()
        else:
            values, units = end_to_end(out, setup_s, rss_mb), END_TO_END
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
        for k, m in metrics.items():
            print(f"{k:<56} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    else:
        print(f"perfbench: FAILED: {error}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed if out.failed or correct else max(out.attempted, 1),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
