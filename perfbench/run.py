#!/usr/bin/env python3
"""Benchmark of the OCSF security data platform's core path.

    python3 perfbench/run.py --workload <ingest_batch|analytics_panel|all>
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``perfbench/out/``, keeps Spark's scratch space there too,
measures an amount of work sized to take about ``--seconds`` seconds,
checks the program's outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics and ``--trace 1`` the
per-layer metrics that BENCHMARK.json declares. With ``--trace 1`` the
measured operations run untraced, with spans, and untraced again; the
traced operation time minus the mean of the untraced ones is the tracing
overhead. The line before the last carries the workload's own metric
names with units and sample counts, the checks and the environment stamp;
``perfbench/out/<run>/report.json`` and ``spans.jsonl`` keep the same plus
every span.

METRICS.md lists what each metric means on each workload and which
end-to-end metric each per-layer metric should move.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "boann_ocsf_security_data_platform_spark"
WORKLOADS = ("ingest_batch", "analytics_panel")
# session set-ups per run: the first launches the JVM (session.get_spark_s),
# setup_s is the median of the others
SETUPS = 9
T0 = time.perf_counter()

# span name -> per-layer metric holding the median of its self times
SPAN_METRIC = {
    "sources.sarif.read": "sources.sarif.read_s",
    "plans.convert": "plans.convert.s",
    "plans.enrich": "plans.enrich.s",
    "plans.landing.land": "plans.landing.land_s",
    "plans.staging.high_water_mark": "plans.staging.high_water_mark_s",
    "plans.quality.check": "plans.quality.check_s",
}


def declared_metrics() -> tuple[dict, dict]:
    """name -> unit of the end-to-end and of the per-layer metrics, as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate_scratch(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside ``work``:
    the benchmark writes nothing outside its checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the results."""
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def start_sessions(nproc: int):
    """SETUPS session set-ups (the first launches the JVM); returns the
    last session and each set-up's seconds."""
    from boann_ocsf_security_data_platform_spark import get_spark

    spark, times = None, []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return spark, times


def stop_jvm(spark, proc) -> None:
    """Stop the session, then end the driver JVM (``proc``) and wait for it:
    the JVM exits when its stdin closes, and takes Spark's Python workers
    along."""
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_phases(run, workload: str, trace: bool):
    """The measured loop, untraced; with ``trace`` twice more, traced and
    then untraced again, so that the warm-up the traced pass gains over the
    first cancels in the overhead. Returns (phases, tracer, extra checks)."""
    import workloads as w
    from tracing import Tracer

    off = Tracer(run.spark, False, "untraced")
    tr = Tracer(run.spark, trace, f"{workload}-{run.seed}")
    checks = {}
    if workload == "ingest_batch":
        w.ingest_warmup(run)
        drops = w.write_drops(run)
        log("warm-up done, drops written")
        phases = [w.ingest_batch(run, off, "a", drops)]
        if trace:
            phases += [w.ingest_batch(run, tr, "b", drops),
                       w.ingest_batch(run, off, "c", drops)]
        checks["fixture_uid"] = w.fixture_uid_ok(run.spark, run.root)
    else:
        panel = w.Panel(run, tr)
        log("set-up done")
        correct = panel.check(run.spark)
        log("oracle check done")
        checks["setup"] = panel.checks
        checks["oracle_match"] = dict(correct)
        phases = [w.analytics_panel(run, off, panel, correct)]
        if trace:
            phases += [w.analytics_panel(run, tr, panel, correct),
                       w.analytics_panel(run, off, panel, correct)]
            phases[1].layers.update(panel.layers)
    log("measured and checked")
    return phases, tr, checks


def _checks_pass(checks) -> bool:
    if isinstance(checks, dict):
        return all(_checks_pass(v) for v in checks.values())
    if isinstance(checks, list):  # error messages
        return not checks
    if isinstance(checks, bool):
        return checks
    return checks == 0  # counts of wrong items


def measure(args) -> dict:
    work = os.path.join(HERE, "out", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate_scratch(work)
    sys.path[:0] = [ROOT, HERE]

    import workloads as w
    from bench import _cpu_stat, _steal_pct
    from tracing import JvmBeans, RssSampler, environment

    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    cpu_before = _cpu_stat()
    log("start")
    spark, setups = start_sessions(nproc)
    jvm = spark.sparkContext._gateway.proc  # spark-class execs java in place
    log("sessions up")
    try:
        beans = JvmBeans(spark)
        beans.reset_heap_peak()
        gc0 = beans.gc_s()
        run = w.Run(spark, ROOT, work, args.seed, args.seconds)
        with RssSampler([os.getpid(), jvm.pid]) as rss:
            phases, tr, checks = run_phases(run, args.workload, bool(args.trace))
        gc_s = beans.gc_s() - gc0
        heap_mb = beans.heap_peak_mb()
        env = environment(spark, args.seed)
    finally:
        stop_jvm(spark, jvm)
    log("stopped")
    env["loadavg_before"] = list(load_before)
    env["loadavg_after"] = list(os.getloadavg())
    env["steal_pct"] = _steal_pct(cpu_before, _cpu_stat())

    end_to_end, per_layer = declared_metrics()
    base = phases[0]
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    for i, p in enumerate(phases):
        checks[f"phase{i}"] = p.checks
    correct = failed == 0 and _checks_pass(checks)

    e2e = {
        "setup_s": statistics.median(setups[1:]),
        "cpu_s_per_op": base.cpu_s,
        "storage_bytes_per_finding": base.storage_bytes_per_finding,
    }
    named = dict(base.named)
    named.update({
        "setup_s": (e2e["setup_s"], "s", len(setups) - 1),
        "peak_rss_mb": (rss.peak_mb, "MB", None),
        "peak_rss_python_mb": (rss.peak_each_kb[0] / 1024, "MB", None),
        "peak_rss_jvm_mb": (rss.peak_each_kb[1] / 1024, "MB", None),
        "failed_ops_ratio": (failed / attempted if attempted else 1.0, "ratio", attempted),
    })
    if args.trace:
        traced = phases[1]
        layers = dict.fromkeys(per_layer, 0.0)
        for span, values in tr.self_times().items():
            if span in SPAN_METRIC:
                layers[SPAN_METRIC[span]] = statistics.median(values)
        layers.update(traced.layers)
        untraced = (base.op_s + phases[2].op_s) / 2
        overhead = traced.op_s - untraced
        layers.update({
            "bench.op_latency_s": base.op_s,
            "bench.rate_per_s": base.rate_per_s,
            "session.get_spark_s": setups[0],
            "process.peak_rss_mb": rss.peak_mb,
            "bench.failed_tasks": sum(tr.totals("failed_tasks").values()),
            "jvm.gc_s": gc_s,
            "jvm.heap_used_peak_mb": heap_mb,
            "bench.trace_overhead_s": overhead,
            "bench.trace_overhead_share": overhead / untraced,
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
        tr.dump(os.path.join(work, "spans.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    report = {
        "workload": args.workload,
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "checks": checks,
        "samples": [p.samples for p in phases],
        "env": env,
        "setups_s": setups,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for entry in os.listdir(work):  # generated inputs, tables, Spark scratch
        if os.path.isdir(os.path.join(work, entry)):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    print(json.dumps(report, default=str))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def run_all(args) -> dict:
    """Every workload in its own process, one after the other."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            raise SystemExit(f"perfbench: workload {wl} exited {proc.returncode}")
        print(lines[-2])
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{wl}.{k}": v for k, v in res["metrics"].items()})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (PACKAGE, "__spark_entry__.py", "bench.py", "tools",
                           "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a checkout of the project, missing {missing}",
              file=sys.stderr)
        return 2
    result = run_all(args) if args.workload == "all" else measure(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
