"""Seeded closed-loop benchmark of the engine's mrlite jobs and query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 20 --trace 0

One client drives one workload on ``local[<slots>]``, with half the CPUs
as task slots (see README.md): it submits the next job, or the next query
of a mix pass, only after the previous one has completed. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Every metric is also printed above it as ``name value unit``.
See README.md beside this file for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: seconds the CPU speed probe takes on a host whose CPUs run at full
#: speed; every reported time is scaled to such a host (see README.md)
PROBE_REFERENCE_S = 0.007
#: probe time after each operation, as a share of the operation's time
PROBE_SHARE = 0.05


def metric_units() -> tuple[dict, dict]:
    """The end-to-end and per-layer metric names and units, as
    ``BENCHMARK.json`` at the repository root declares them."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


def isolate(run_dir: Path, slots: int) -> None:
    """Point every writable location of the engine at this run's own
    directory, and let Python workers import the package from anywhere.
    Must run before the package is imported (it reads these at import)."""
    for sub in ("stage", "local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    path = os.pathsep.join(p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    # The JVM ignores TMPDIR: it unpacks native codecs and makes Spark's
    # scratch directories under java.io.tmpdir, and writes its perf-data
    # file to /tmp unless that is switched off.
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ.update({
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts))),
        "SPARK_GRAFT_WORK_DIR": str(run_dir / "stage"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_GRAFT_CPUS": str(slots),
        "PYTHONPATH": path,
    })
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [str(ROOT), str(HERE)]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def measure(wl, spans, seconds: int, trace: bool, run_dir: Path, per_layer) -> dict:
    from inf2106_map_reduce_spark import get_spark
    from tracing import Attribution, cpu_speed_samples, make_stream_listener, read_event_log

    extra = None
    events = run_dir / "events"
    if trace:
        events.mkdir()
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    listener = None
    spark = None
    try:
        with spans.span("setup", "setup") as setup:
            with spans.span("session.start", "setup") as start:
                spark = get_spark(app_name="perfbench", extra_conf=extra)
            spark.sparkContext.setLogLevel("ERROR")
            if trace:
                spans.tag_jobs_on = spark.sparkContext
                listener = make_stream_listener()
                spark.streams.addListener(listener)
            attempted, failed = wl.warm_up(spark, spans)

        # Closed loop within the time budget: start another operation
        # only while one more of the last one's length still fits.
        outcomes, probe = [], []
        with spans.span("measure", "measure") as loop:
            deadline = time.perf_counter() + seconds
            while True:
                outcomes.append(wl.operation(spark, spans, len(outcomes)))
                probe += cpu_speed_samples(PROBE_SHARE * outcomes[-1].span.wall)
                if time.perf_counter() + outcomes[-1].span.wall > deadline:
                    break
        checked, wrong = wl.check_outputs(spark)
        attempted += checked + sum(o.attempted for o in outcomes)
        failed += wrong + sum(o.failed for o in outcomes)
        good = [o for o in outcomes if o.ok] or outcomes
        jobs = [o.span for o in good]
        queries = [q for o in good for q in o.queries] or jobs
        probe_s = statistics.fmean(probe)
        scale = PROBE_REFERENCE_S / probe_s
        job_p50 = statistics.median(s.wall for s in jobs) * scale
        probes = wl.probes(spark, spans) if trace else {}
        if listener is not None:
            listener.settle()
    finally:
        if spark is not None:
            stop_spark(spark)

    result = {
        "attempted": attempted,
        "failed": failed,
        "outcomes": len(outcomes),
        "queries": len(queries),
        "metrics": {
            "setup_s": setup.wall * scale,
            "job_p50_s": job_p50,
            "input_mb_s": wl.input_mb / job_p50,
            "query_p50_s": statistics.median(s.wall for s in queries) * scale,
        },
        "wall": {
            "setup_s": setup.wall,
            "job_p50_s": statistics.median(s.wall for s in jobs),
            "query_p50_s": statistics.median(s.wall for s in queries),
        },
        "probe_s": probe_s,
    }
    if len(queries) >= 100:
        result["query_p90_s"] = statistics.quantiles([s.wall for s in queries], n=10)[-1] * scale
    if trace:
        ops = spans.of_kind("op")
        att = Attribution(read_event_log(str(events)), ops)
        layer = dict.fromkeys(per_layer, 0.0)  # layers a workload does not touch
        layer.update(wl.layer_metrics(att, ops, len(outcomes), probes, listener))
        tasks = [t for op in ops for t in att.tasks[op.id]]
        n = len(outcomes)
        layer.update({
            "session.start_s": start.wall,
            "session.task_s": sum(t.run_ms for t in tasks) / 1e3 / n,
            "session.cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 / n,
            "session.gc_s": sum(t.gc_ms for t in tasks) / 1e3 / n,
            "session.spill_mb": sum(t.spill_bytes for t in tasks) / 1e6 / n,
            "session.busy_frac": sum(t.run_ms for t in tasks) / 1e3 / (loop.wall * wl.cpus),
            "session.tasks": len(tasks) / n,
            "session.tasks_failed": sum(not t.ok for t in tasks),
            "trace.job_p50_s": job_p50,
        })
        result["layer"] = layer
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("mr_wordcount", "mr_sort", "engine_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    end_to_end, per_layer = metric_units()
    cpus = len(os.sched_getaffinity(0))
    # Each Spark task slot keeps a Python worker busy beside its JVM
    # thread; half the CPUs as slots leaves room for both and for the
    # driver, so a run measures the program rather than the scheduler.
    slots = max(1, cpus // 2)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = ROOT / ".perfbench_work" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, slots)

    from tracing import MemorySampler, Spans
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](str(run_dir), args.seed, cpus)
    wl.generate()
    spans = Spans(run_id)
    sampler = MemorySampler()
    sampler.start()
    try:
        result = measure(wl, spans, args.seconds, bool(args.trace), run_dir, per_layer)
    finally:
        sampler.stop()
        spans.write(str(run_dir / "spans.json"))
        for sub in ("stage", "local", "tmp", "mr", "tables"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)

    peak_mb = sampler.peak_bytes / 1e6
    attempted, failed = result["attempted"], result["failed"]
    print(f"workload {args.workload} seed {args.seed} on local[{slots}] ({cpus} CPUs), one closed-loop "
          f"client: {result['outcomes']} operations, {result['queries']} query samples")
    for name, unit in end_to_end.items():
        print(f"{name} {result['metrics'][name]:.6g} {unit}")
    wall = ", ".join(f"{n} {v:.6g} s" for n, v in result["wall"].items())
    print(f"on the wall clock: {wall}; the speed probe took {result['probe_s'] * 1e3:.4g} ms "
          f"(reference {PROBE_REFERENCE_S * 1e3:.4g} ms)")
    print(f"peak_rss_mb {peak_mb:.6g} MB")
    print(f"ops_failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted})")
    if "query_p90_s" in result:
        print(f"query_p90_s {result['query_p90_s']:.6g} s")
    if args.trace:
        names, values = per_layer, {**result["layer"], "session.peak_rss_mb": peak_mb}
        for name, unit in names.items():
            print(f"{name} {values[name]:.6g} {unit}")
    else:
        names, values = end_to_end, result["metrics"]
    payload = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }
    print(json.dumps(payload), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
