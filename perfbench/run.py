#!/usr/bin/env python3
"""Benchmark of the covsar_spark tier pipeline, its closure leg and the tier
store. Run from the repository root:

    python3 perfbench/run.py --workload sparse_recent --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. A human-readable summary goes to standard
error and a full report (host calibration, session sizing, spans) to
``.perfbench_work/reports/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

UNITS = {
    "setup_s": "s",
    "rolled_up_pps": "1/s",
    "rolled_up_pps_closure": "1/s",
    "write_pps": "1/s",
    "read_pps": "1/s",
    "read_p50_s": "s",
    "refresh_s": "s",
    "maintain_s": "s",
    "chunk_bytes_per_point": "B",
    "stored_bytes_per_point": "B",
    "peak_rss_mb": "MiB",
}


# spans that run no Spark task: the parent (its tasks belong to its children),
# plan construction and retention (file-system deletes only)
NO_TASKS = (
    "plans.pipeline.iteration",
    "plans.pipeline.plan",
    "sources.tables.retention",
)


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _size_session(host) -> dict[str, str]:
    """Fit the Spark session to this host, in this process's environment,
    before the package reads it at import."""
    env = {
        "SPARK_GRAFT_CPUS": str(host.cpu_count()),
        "SPARK_DRIVER_MEM": f"{host.HEAP_MB}m",
        # every scratch file of the JVM, Spark and Python stays in the checkout
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "tmp"),
    }
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[var] = "1"
    os.environ.update(env)
    return env


def _stop_session(spark, wait_s: float = 60.0) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and wait
    until no descendant process is left."""
    from pyspark import SparkContext

    import host

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=wait_s)
    deadline = time.time() + wait_s
    while host.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def layer_metrics(tracer, eventlog: str, untraced_wall: float) -> dict[str, tuple]:
    """Per-span walls and Spark task figures of a traced run, the share of
    the traced pipeline iteration its layer spans cover, and the tracing
    overhead against the untraced iteration of the same run."""
    from measure import EVENT_UNITS, attribute_tasks, children_share, median
    from measure import parse_event_log, self_times

    tasks = []
    for d, _, files in os.walk(eventlog):
        for name in files:
            if name.startswith(("events_", "local-")):
                with open(os.path.join(d, name)) as f:
                    tasks += parse_event_log(f)
    spans = tracer.spans
    walls: dict[str, list[float]] = {}
    for s in spans:
        walls.setdefault(s.name, []).append(s.duration)
    iteration = "plans.pipeline.iteration"
    metrics = {f"{name}_s": (median(v), "s") for name, v in walls.items() if name != iteration}
    st = self_times(spans)
    metrics[f"{iteration}.self_s"] = (
        sum(st[i] for i, s in enumerate(spans) if s.name == iteration), "s"
    )
    # per span: CPU, shuffle bytes and tasks; GC time is pooled over the run
    # because most single spans see none
    by_span = attribute_tasks(spans, tasks)
    for name in walls:
        if name not in NO_TASKS:
            acc = by_span.get(name, dict.fromkeys(EVENT_UNITS, 0.0))
            for k in ("task_cpu_s", "shuffle_write_bytes", "tasks"):
                metrics[f"{name}.{k}"] = (acc[k], EVENT_UNITS[k])
    metrics["spark.gc_s"] = (sum(t["gc_s"] for t in tasks), "s")
    traced = sum(walls[iteration])
    metrics["trace.overhead_share"] = ((traced - untraced_wall) / untraced_wall, "share")
    metrics["trace.attributed_share"] = (children_share(spans, iteration), "share")
    return metrics


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import host

    env = _size_session(host)
    mem_available_mb = host.mem_available_mb()
    if mem_available_mb < 2 * host.HEAP_MB:
        print(
            f"warning: {mem_available_mb} MiB available for a {host.HEAP_MB} MiB heap",
            file=sys.stderr,
        )
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "store"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)

    import cycle  # imports covsar_spark: fails here when the package is absent
    from measure import Tracer, failed_share, median

    if args.workload not in cycle.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(cycle.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2

    excluded = 0.0  # set-up time that is not set-up: calibration, fixture generation
    t = time.time()
    calib_pre = host.calibrate(0.3)
    fixture = cycle.make_fixture(os.path.join(WORK, "fixtures"), args.workload, args.seed)
    excluded += time.time() - t

    rss = host.RssSampler()
    rss.start()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    extra_conf = {"spark.local.dir": env["SPARK_LOCAL_DIRS"]}
    eventlog = os.path.join(WORK, "eventlog", run_id)
    if args.trace:
        os.makedirs(eventlog)
        extra_conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{eventlog}",
            }
        )

    from covsar_spark.session import get_spark

    with tracer.span("session.get_spark"):
        # one shuffle partition per core, as bench.py sizes its session
        cores = int(env["SPARK_GRAFT_CPUS"])
        spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=extra_conf)
    run = cycle.Run(
        spark, cycle.WORKLOADS[args.workload], fixture, os.path.join(WORK, "store"), args.seed,
        cycle.n_batches(args.seconds), tracer,
    )
    phases = {"get_spark": time.time()}
    ticks0 = host.cpu_ticks()
    try:
        with tracer.span("session.warmup_iters"):
            warm_tiers, points = run.warm_up()
        setup_s = time.time() - t_proc - excluded
        rss.mark()
        phases["warm_up"] = time.time()

        # the store cycle runs on the warm-up iteration's tiers, and the timed
        # pipeline iteration after it, on a JVM the store cycle warmed further
        run.write(warm_tiers, points)
        phases["write"] = time.time()
        run.refresh_and_read()
        phases["refresh_and_read"] = time.time()
        run.check_rebuild()
        phases["check_rebuild"] = time.time()
        run.maintain()
        phases["maintain"] = time.time()
        cycle.unpersist(warm_tiers)
        tiers, points = run.pipeline()
        if args.trace:
            cycle.unpersist(tiers)
            tiers, points = run.traced_pipeline()
        phases["pipeline"] = time.time()
        run.check_pipeline(tiers)
        phases["check_pipeline"] = time.time()
    finally:
        ticks1 = host.cpu_ticks()
        _stop_session(spark)
        phases["stop"] = time.time()
    peak_rss_mb = rss.stop()
    marks = [t_proc + excluded] + list(phases.values())
    phase_s = {k: round(b - a, 2) for k, a, b in zip(phases, marks, marks[1:])}
    calib_post = host.calibrate(0.3)
    m = run.m
    if args.trace:
        metrics = layer_metrics(tracer, eventlog, m["iteration_closure_s"])
        metrics.update(cycle.layer_counters(run))
        tracer.dump(os.path.join(reports, f"{run_id}.spans.jsonl"))
    else:
        e2e = cycle.end_to_end(run, points)
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = peak_rss_mb
        metrics = {k: (v, UNITS[k]) for k, v in e2e.items()}

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "late_batches": run.batches,
        "session_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        "mem_available_mb": mem_available_mb,
        "rss_after_setup_mb": rss.base_bytes / (1 << 20),
        "peak_rss_after_setup_mb": rss.peak_after_bytes / (1 << 20),
        "calib_pre_ops_s": calib_pre,
        "calib_post_ops_s": calib_post,
        "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "phase_s": phase_s,
        "attempted": run.attempted,
        "failed": run.failed,
        "failed_share": failed_share(run.attempted, run.failed),
        "failed_checks": run.failures,
        "latency_s": {
            name: {
                "n": len(v),
                "median": median(v),
                "samples": v,
            }
            for name, v in (
                ("short_read", m.get("short_read_walls", [])),
                ("read", m.get("read_walls", [])),
                ("refresh", m.get("refresh_walls", [])),
            )
            if v
        },
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(reports, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for k, (v, u) in metrics.items():
        print(f"{args.workload:>15} {k:<48} {v:>16.6g} {u}", file=sys.stderr)
    print(
        f"{args.workload:>15} failed_share {report['failed_share']:.4f} "
        f"({run.failed}/{run.attempted}; {run.failures}) calib {calib_pre:.0f}/{calib_post:.0f} ops/s "
        f"cpus {env['SPARK_GRAFT_CPUS']} heap {env['SPARK_DRIVER_MEM']} phases {phase_s}",
        file=sys.stderr,
    )
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "store"), ignore_errors=True)
    shutil.rmtree(eventlog, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
