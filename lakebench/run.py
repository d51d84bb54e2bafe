"""Lake benchmark: one seeded, single-client, closed-loop workload per run.

Run from the repository root:

    python3 lakebench/run.py --workload replay --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the run's report: host noise, warm-up counts, per-kind medians
and, for a traced run, every per-layer figure with its base. The same
report is kept under ``.lakebench/out/``. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".lakebench")


def _isolate(work: str, cpus: int) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work dir, and fix the session's parallelism to the host's."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # get_spark's default heap


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM has exited; the JVM's Python
    workers end with the SparkContext."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError, AttributeError):
        pass  # already gone
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). Below 11 samples, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(ops, setup_s: float, pass_of: dict[str, int] | None) -> tuple[dict, dict]:
    """Metrics a user of the system sees, plus the bases behind them.

    ``op_p50_s`` never pools ops of different kinds where kinds differ
    by design: for analytics (``pass_of`` maps each op to its pass) it
    is the median time of one pass of the mix. A failed op counts as
    missing every latency limit (infinite latency)."""
    lat = [o.latency if o.ok else math.inf for o in ops]
    kinds: dict[str, list[float]] = {}
    for o, x in zip(ops, lat):
        kinds.setdefault(o.kind, []).append(x)
    kind_p50 = {k: statistics.median(v) for k, v in kinds.items()}
    if pass_of:
        passes: dict[int, float] = {}
        for o, x in zip(ops, lat):
            passes[pass_of[o.trace]] = passes.get(pass_of[o.trace], 0.0) + x
        p50 = statistics.median(passes.values())
    else:
        p50 = statistics.median(lat)
    t_value, t_pct, t_beyond = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (p50, "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in kind_p50.values())), "s"),
        "pass_s": (sum(kind_p50.values()), "s"),
    }
    bases = {
        "ops": len(ops),
        # at these run lengths the tail sits at or below the median, so
        # it is reported here and not used as a gate
        "op_tail_s": t_value,
        "op_tail_percentile": round(t_pct, 2),
        "op_tail_samples_beyond": t_beyond,
        "kind_p50_s": {k: round(v, 5) for k, v in sorted(kind_p50.items())},
        "ops_per_kind": {k: len(v) for k, v in sorted(kinds.items())},
        "op_latencies_s": [[o.kind, round(o.latency, 4)] for o in ops],
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, bases


def spark_runtime(ctx, ops, groups: dict) -> dict:
    """Spark work under the timed ops, summed from the event log; times
    are per timed op, busy share is over the timed wall time."""
    gs = [groups[o.trace] for o in ops if o.trace in groups]
    n = max(1, len(ops))
    run_s = sum(g.run_ms for g in gs) / 1000
    return {
        "spark.core_busy_frac": {"value": run_s / (ctx.timed_s * ctx.cpus), "unit": "fraction",
                                 "task_run_s": run_s, "timed_s": ctx.timed_s, "cores": ctx.cpus},
        "spark.gc_s": {"value": ctx.jvm_gc_s / n, "unit": "s", "jvm_gc_s": ctx.jvm_gc_s,
                       "task_gc_s": sum(g.gc_ms for g in gs) / 1000, "ops": n},
        "spark.scheduler_delay_s": {"value": sum(g.sched_delay_ms for g in gs) / 1000 / n,
                                    "unit": "s", "ops": n},
        "spark.shuffle_fetch_wait_s": {"value": sum(g.fetch_wait_ms for g in gs) / 1000 / n,
                                       "unit": "s", "ops": n},
        "spark.jobs_per_op": {"value": sum(g.jobs for g in gs) / n, "unit": "count", "ops": n},
        "spark.tasks_per_op": {"value": sum(g.tasks for g in gs) / n, "unit": "count", "ops": n},
        "spark.shuffle_write_bytes_per_op": {
            "value": sum(g.shuffle_write_bytes for g in gs) / n, "unit": "bytes", "ops": n},
        "spark.input_records_per_op": {
            "value": sum(g.input_records for g in gs) / n, "unit": "count", "ops": n},
    }


def tracing_overhead(record_path: str, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, when an untraced run of
    the same workload, seed and length has left its record here."""
    try:
        with open(record_path) as f:
            untraced = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    return {
        k: {"traced": v["value"], "untraced": untraced[k]["value"],
            "delta": v["value"] - untraced[k]["value"]}
        for k, v in traced.items() if k in untraced
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import hostinfo

    cpus = hostinfo.nproc()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    _isolate(work, cpus)
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    from serverless_datalake_spark.session import get_spark

    if args.workload not in workloads.RUNNERS:
        ap.error(f"--workload must be one of {sorted(workloads.RUNNERS)}")
    os.makedirs(os.environ["TMPDIR"])
    runner, layer_report = workloads.RUNNERS[args.workload]
    host = {"nproc": cpus, "load_avg_1m_at_start": hostinfo.load_average()}
    # memory is sampled in traced runs only: the sampler thread shares
    # the interpreter lock with the client loop
    rss = hostinfo.PeakRss().start() if args.trace else None
    tracer = Tracer(bool(args.trace))
    conf = {"spark.ui.showConsoleProgress": "false"}  # no progress bars on stderr
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"lakebench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        ctx = workloads.Context(spark, tracer, work, args.seed, args.seconds, t_start,
                                event_dir, rss, cpus)
        try:
            out = runner(ctx)
        finally:
            _stop(spark)
        ops = out.ops
        e2e, bases = end_to_end(ops, ctx.setup_s, out.pass_of)
        failed = sum(1 for o in ops if not o.ok)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace,
            "host": dict(host, steal_share_timed=ctx.steal),
            "warmup_ops_per_kind": out.warmup,
            "timed_s": ctx.timed_s,
            "end_to_end": e2e, "bases": bases, "workload_figures": out.extra,
            "problems": out.problems[:20], "failed_ops": [o.error for o in ops if not o.ok][:5],
        }
        if args.trace:
            groups = ctx.spark_groups()
            runtime = spark_runtime(ctx, ops, groups)
            process = {
                "session.get_spark_s": {"value": session_s, "unit": "s"},
                "process.peak_rss_mb": {"value": ctx.peak_rss_mb, "unit": "MB"},
            }
            report["layers"] = dict(process, **runtime, **layer_report(ctx, out, groups))
            report["span_times"] = tracer.self_time_table()
            report["tracing_overhead"] = tracing_overhead(
                os.path.join(STATE, "out", f"{args.workload}-seed{args.seed}-s{args.seconds}-trace0.json"),
                e2e,
            )
            # fetch wait is always 0 under local[n]: reported, not a metric
            metrics = {k: {"value": v["value"], "unit": v["unit"]}
                       for k, v in dict(process, **runtime).items()
                       if k != "spark.shuffle_fetch_wait_s"}
        else:
            metrics = e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    stem = os.path.join(STATE, "out", f"{args.workload}-seed{args.seed}-s{args.seconds}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    result = {
        "correct": failed == 0 and not out.problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
