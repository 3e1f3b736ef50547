#!/usr/bin/env python3
"""The repository benchmark: one workload per run, from one process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout generates
the datasets and caches the oracle answers under ``.bench_build/``.
A run loads what the workload checks against (oracle answers, replay
base, numpy columns), then starts the Spark session and sets the
workload up once (together, the set-up time), warms up (every result
checked), probes the job-launch latency and then measures.

``--trace 0`` measures the end-to-end metrics with no tracing. The
last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is the drift record (job-launch probe, ``nproc``, load
average) and the run's detail. ``--trace 1`` runs with the Spark event
log and the layer wrappers of ``tracing.py`` on and reports the
per-layer metrics of ``layers.py`` instead; it spends the second half
of its time untraced, so it can report its own tracing overhead.

Exits non-zero without printing a result when the program cannot be
imported or a workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("headline", "wire_sessions", "cdc_lakehouse")
# dataset scale factor per workload. A headline pass takes about 8 s
# at sf0.01 against 13 to 20 s at sf0.1 on a 4-core host (per-query
# planning and job costs dominate), and the 70 runs the benchmark is
# measured with have to fit in under an hour
DEFAULT_SF = {"headline": 0.01, "wire_sessions": 0.1, "cdc_lakehouse": 0.1}
PROBE_JOBS = 9
# a fixed-size heap: a heap that grew as needed made the same work
# take a different time in each run; bounded, as the host's memory
# is shared
HEAP = "4g"


def median(values) -> float:
    return float(statistics.median(values))


def p90(values) -> float:
    vals = sorted(values)
    if len(vals) < 2:
        return float(vals[0])
    return float(statistics.quantiles(vals, n=10, method="inclusive")[8])


def job_launch_ms(spark) -> float:
    """Median wall time of a trivial one-task JVM job: the host's
    fixed per-job cost, the drift axis of every A/B comparison."""
    times = []
    for i in range(PROBE_JOBS + 2):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        if i >= 2:
            times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM (``VmHWM``), in MB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """What a workload receives: the session, the dataset, the run's
    seed and a scratch directory of its own."""

    def __init__(self, spark, sf_dir: str, seed: int, workdir: str | None, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer

    def rng(self, stream: str) -> random.Random:
        return random.Random(f"{self.seed}:{stream}")


def _workload(name: str):
    if name == "headline":
        from headline import Headline
        return Headline
    if name == "wire_sessions":
        from wire import WireSessions
        return WireSessions
    from cdc import CdcLakehouse
    return CdcLakehouse


def _prepare_env(workdir: str) -> None:
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _spark_conf(workdir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} "
            "-Duser.timezone=UTC "
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} "
            f"-Dderby.system.home={workdir}"
        ),
    }
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = evdir
        conf["spark.eventLog.compress"] = "false"
    return conf


def run(args) -> dict:
    t_start = time.perf_counter()
    try:
        import konohadataplatform_spark  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import the program: {exc}")
    import datagen

    sf_dir = datagen.ensure_dataset(os.path.join(BUILD, "data"), args.sf)
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    workdir = os.path.join(BUILD, "runs", stamp)
    os.makedirs(workdir, exist_ok=True)
    _prepare_env(workdir)
    drift = {
        "nproc": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
    }
    ctx = Context(None, sf_dir, args.seed, workdir, None)
    wl = _workload(args.workload)(ctx)
    wl.prepare(sf_dir)  # the benchmark's own inputs, not the client's cost

    # -- set-up: session start, then the workload's set-up -------------
    t0 = time.perf_counter()
    from konohadataplatform_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(workdir, bool(args.trace)))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    if args.trace:
        import tracing

        ctx.tracer = tracer = tracing.Tracer(spark.sparkContext)
        tracing.install(tracer)
    phases = {"build_s": t0 - t_start, "session_s": session_s}
    try:
        if args.trace:  # set-up spans: SessionEngine construction, catalog writes
            tracer.enabled = True
        t1 = time.perf_counter()
        wl.setup(sf_dir)
        phases["setup_s"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer.enabled = False
        t1 = time.perf_counter()
        checks = wl.warm()  # untimed, every result checked
        phases["warm_s"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        drift["job_launch_ms"] = job_launch_ms(spark)
        phases["probe_s"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        if args.trace:
            # the traced half runs first, so warm-up drift between the
            # halves counts against tracing: the overhead is overstated
            tracer.enabled = True
            ops = wl.measure(args.seconds / 2.0)
            tracer.enabled = False
            untraced = wl.measure(args.seconds / 2.0)
        else:
            ops = wl.measure(args.seconds)
        phases["measure_s"] = time.perf_counter() - t1
        facts = wl.facts()
        facts["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        t1 = time.perf_counter()
        wl.teardown()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t1

    done = [o for o in ops if o["ok"]]
    every = ops + (untraced if args.trace else [])
    failed = checks["failed"] + sum(1 for o in every if not o["ok"])
    attempted = checks["attempted"] + len(every)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "drift": drift, "phases": phases,
        "kind_p50_ms": {k: median(o["ms"] for o in done if o["kind"] == k)
                        for k in sorted({o["kind"] for o in done})},
        "ops": len(ops), "errors": [o.get("error") for o in every if not o["ok"]][:5]
        + checks.get("errors", [])[:5],
        "wall_s": time.perf_counter() - t_start,
        **facts,
    }
    if not done:
        raise SystemExit(f"perfbench: no operation succeeded: {detail['errors']}")
    if args.trace:
        import layers

        metrics, counts = layers.per_layer(
            tracer, os.path.join(workdir, "eventlog"),
            untraced=untraced, ops=ops, session_s=session_s, drift=drift, facts=facts,
        )
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tracer.dump(os.path.join(BUILD, "traces", f"{stamp}.json"))
        layers.write_counts(os.path.join(BUILD, "counts", f"{stamp}.json"), args.workload, counts)
    else:
        lat = [o["ms"] for o in done]
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (median(lat), "ms"),
            "ops_per_s": (len(done) / wl.measured_s, "1/s"),
        }
        # a run has too few operations for a steady p90 (fewer than ten
        # beyond it): reported in the detail line, not as a metric
        detail["latency_p90_ms"] = p90(lat)
    # the warehouses, event log and Spark scratch space of a run are
    # tens of MB each; the results, spans and counts are kept
    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="dataset scale factor (default: the workload's DEFAULT_SF)")
    args = ap.parse_args(argv)
    if args.sf is None:
        args.sf = DEFAULT_SF[args.workload]
    sys.path.insert(0, ROOT)
    out = run(args)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(BUILD, "results", name), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
