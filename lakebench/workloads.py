"""The benchmark's workloads: seeded, single-client closed loops.

Each workload runs the same seeded sequence of operations on the same
starting state every time: set-up (session, inputs, warm-up) and then a
fixed number of timed operations. The number of timed operations comes
from ``--seconds`` through a fixed nominal rate, never from a clock, so
two runs with equal arguments do equal work.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import gen
import hostinfo
from spans import Tracer, median, read_event_log

# replay: lake size and warm-up, set from the measured warm-up curves
# (README.md, "Warm-up"). A wide request covers a quarter of history
# but at least 3 batches, so it is wider than any narrow one (1-2).
REPLAY_LAKE_BATCHES = 10
# the ingest.* and lake.* figures leave out the build's first batches,
# the steep part of the ingest warm-up curve
REPLAY_BUILD_WARMUP_BATCHES = 4
REPLAY_WARMUP_REQUESTS = 5
REPLAY_REQUESTS_PER_S = 1.2

# analytics: one query per family, fixture tables, warm-up passes
ANALYTICS_MIX = (
    "replay_range",
    "agg_rollup",
    "stream_session_window",
    "join_inner",
    "window_ranking",
    "sim_topk_ivfpq_rerank_np8",
)
# the sf0.01 fixture tables the repository's tests use (TESTDATA.md),
# copied here so that a run reads nothing outside its checkout
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
ANALYTICS_WARMUP_PASSES = 2
ANALYTICS_PASS_S = 4.0  # nominal time of one pass, sizes the timed phase

@dataclass
class Op:
    kind: str
    trace: str
    latency: float
    ok: bool = True
    error: str = ""


@dataclass
class Outcome:
    """What a workload hands back: its timed ops, the warm-up ops per
    kind, problems found by the checks, and workload-specific figures."""

    ops: list[Op]
    warmup: dict[str, int]
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    pass_of: dict[str, int] | None = None  # analytics: op trace id -> pass


class Context:
    """Per-run state: the Spark session, the tracer and the work dir."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: int,
                 t_start: float, event_log_dir: str | None,
                 rss: hostinfo.PeakRss | None, cpus: int) -> None:
        self.spark = spark
        self.cpus = cpus
        self.rss = rss
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.event_log_dir = event_log_dir
        self.build_ops: list[tuple[gen.Batch, Op]] = []  # replay's lake build

    def begin_timed(self) -> None:
        """Mark the end of set-up: the first timed operation starts now."""
        self.setup_s = time.perf_counter() - self.t_start
        self.cpu_before = hostinfo.cpu_times()
        self.gc_before_ms = self._jvm_gc_ms()
        self.timed_t0 = time.perf_counter()

    def end_timed(self) -> None:
        """Mark the end of the timed phase, before any output check."""
        self.timed_s = time.perf_counter() - self.timed_t0
        self.jvm_gc_s = (self._jvm_gc_ms() - self.gc_before_ms) / 1000
        self.steal = hostinfo.steal_share(self.cpu_before, hostinfo.cpu_times())
        self.peak_rss_mb = self.rss.stop() if self.rss else None

    def _jvm_gc_ms(self) -> int:
        """Collection time of every garbage collector of the JVM so far.
        Under local[n] the driver JVM runs the tasks too, so this covers
        GC between tasks, which the per-task event-log figure misses.
        Read in traced runs only (one py4j call at each end of the timed
        phase)."""
        if not self.tracer.enabled:
            return 0
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def timed(self, kind: str, trace_id: str, fn, span: str | None = None) -> Op:
        """Run one operation, timing it and counting an exception as a
        failed operation."""
        with self.tracer.operation(self.spark, trace_id):
            t0 = time.perf_counter()
            try:
                if span:
                    with self.tracer.span(span):
                        fn()
                else:
                    fn()
            except Exception as exc:  # a failed op is a result, not a crash
                return Op(kind, trace_id, time.perf_counter() - t0, False, repr(exc)[:300])
            return Op(kind, trace_id, time.perf_counter() - t0)

    def spark_groups(self) -> dict:
        """Per-operation Spark counts, after the session has stopped."""
        if not self.event_log_dir:
            return {}
        (name,) = [f for f in os.listdir(self.event_log_dir) if not f.startswith(".")]
        work = os.path.realpath(self.work)

        def classify(text: str) -> str | None:
            for area in ("lake", "catalog", "delivery", "redelivery"):
                if f"{work}/{area}" in text:
                    return area
            return None

        return read_event_log(os.path.join(self.event_log_dir, name), classify)


# ------------------------------------------------------------------ replay

REQUEST_KINDS = ("narrow_hot", "narrow_cold", "wide")


def _plan_requests(rng: random.Random, n: int, batches: list[gen.Batch]) -> list[dict]:
    """``n`` replay requests whose sources and windows the seed picks.
    The kinds take turns: narrow on the hot source, narrow on a cold
    one (both 1-2 batches), and wide (a quarter of history but at least
    3 batches, so wider than any narrow one; alternating hot and cold
    sources). So a third are wide, and every kind samples the JIT's
    slow speed-up over a run alike."""
    kinds = [REQUEST_KINDS[i % len(REQUEST_KINDS)] for i in range(n)]
    hot, cold = gen.SOURCES[0], gen.SOURCES[1:]
    wide_w = min(len(batches), max(3, len(batches) // 4))
    out, n_seen_wide = [], 0
    for kind in kinds:
        if kind == "wide":
            src = hot if n_seen_wide % 2 == 0 else rng.choice(cold)
            n_seen_wide += 1
            width = wide_w
        else:
            src = hot if kind == "narrow_hot" else rng.choice(cold)
            width = rng.choice((1, 2))
        first = rng.randrange(0, len(batches) - width + 1)
        sel = batches[first:first + width]
        out.append({
            "kind": kind,
            "source": src,
            "batches": [b.batch_id for b in sel],
            "expected": {b.batch_id: b.per_source[src] for b in sel},
        })
    return out


def _patch_lake_layers(tracer: Tracer) -> None:
    from serverless_datalake_spark.sources import ingest, lake, replay

    tracer.patch(lake, "read_json_events", "lake.read_json_events")
    tracer.patch(lake, "write_partitioned", "lake.write_partitioned")
    tracer.patch(ingest, "build_catalog_entries", "ingest.build_catalog_entries")
    tracer.patch(ingest, "append_catalog", "ingest.append_catalog")
    tracer.patch(ingest, "fan_out", "ingest.fan_out")
    tracer.patch(replay, "select_replay_keys", "replay.select_replay_keys")


def ingest_problems(spark, batches: list[gen.Batch], lake_path: str,
                    catalog_path: str, delivery_path: str) -> list[str]:
    """Events per (source, batch) in the lake, the catalog and the
    delivery directory must equal what the generator staged."""
    from pyspark.sql import functions as F

    expected = {(s, b.batch_id): n for b in batches for s, n in b.per_source.items()}

    def counts(path: str) -> dict[tuple, int]:
        rows = spark.read.parquet(path).groupBy("source", "batch_id").count().collect()
        return {(r["source"], r["batch_id"]): r["count"] for r in rows}

    cat = (
        spark.read.parquet(catalog_path)
        .select("source", F.regexp_extract("file_key", r"([^/]+)\.parquet$", 1).alias("b"),
                "n_records")
        .groupBy("source", "b").agg(F.sum("n_records").alias("n"))
        .collect()
    )
    return (
        check.count_problems("lake", expected, counts(lake_path))
        + check.count_problems("catalog", expected, {(r["source"], r["b"]): r["n"] for r in cat})
        + check.count_problems("delivery", expected, counts(delivery_path))
    )


def replay_problems(plan: list[dict], delivered: dict[int, dict[tuple, int]],
                    returned: dict[int, dict]) -> dict[int, list[str]]:
    """Per request index, how its re-delivery differs from the staged
    events of the batches it selected: the events found in its delivery
    directory per (source, batch), and the counts ``replay`` returned."""
    out = {}
    for k, req in enumerate(plan):
        expected = {(req["source"], b): n for b, n in req["expected"].items()}
        bad = check.count_problems(f"request {k}", expected, delivered.get(k, {}))
        res = returned.get(k)
        if res is None:
            bad.append(f"request {k}: no result returned")
        elif (res["n_events"], res["n_batches"]) != (sum(expected.values()), len(req["batches"])):
            bad.append(f"request {k}: returned {res}, expected {sum(expected.values())} "
                       f"events in {len(req['batches'])} batches")
        if bad:
            out[k] = bad
    return out


def run_replay(ctx: Context) -> Outcome:
    from serverless_datalake_spark.sources import ingest, replay

    spark, tracer = ctx.spark, ctx.tracer
    _patch_lake_layers(tracer)
    lake_p, cat_p = ctx.path("lake"), ctx.path("catalog")
    dlv_p, rdlv_p = ctx.path("delivery"), ctx.path("redelivery")
    batches = gen.stage_batches(ctx.seed, ctx.path("staging"), REPLAY_LAKE_BATCHES)

    # lake build: the ingest path, one batch per call, into empty dirs
    build = []
    for b in batches:
        def land(b=b):
            res = ingest.ingest_batch(spark, b.path, lake_p, cat_p, dlv_p, b.batch_id)
            if res["n_events"] != b.n_events:
                raise AssertionError(f"{b.batch_id}: ingested {res['n_events']}, staged {b.n_events}")
        build.append(ctx.timed("ingest", f"ingest-{b.batch_id}", land, span="ingest.batch"))
    problems = [f"ingest {o.trace}: {o.error}" for o in build if not o.ok]
    problems += ingest_problems(spark, batches, lake_p, cat_p, dlv_p)

    # each batch's catalog stamp bounds the requests that select it
    stamps = {
        (r["source"], r["file_key"].rsplit("/", 1)[1][: -len(".parquet")]): r["ingest_ts"]
        for r in ingest.read_catalog(spark, cat_p).select("source", "file_key", "ingest_ts").collect()
    }
    rng = random.Random(ctx.seed)
    n_timed = max(1, round(ctx.seconds * REPLAY_REQUESTS_PER_S))
    warm_plan = _plan_requests(rng, REPLAY_WARMUP_REQUESTS, batches)
    timed_plan = _plan_requests(rng, n_timed, batches)
    plan = warm_plan + timed_plan

    def request(k: int, req: dict, counts: dict):
        src = req["source"]
        lo, hi = stamps[(src, req["batches"][0])], stamps[(src, req["batches"][-1])]

        def go():
            res = replay.replay(spark, cat_p, lake_p, f"{rdlv_p}/req={k:04d}", src, lo, hi)
            counts[k] = res
        return go

    returned: dict[int, dict] = {}
    for k, req in enumerate(warm_plan):
        op = ctx.timed(req["kind"], f"warm-{k:04d}", request(k, req, returned), span="replay.request")
        if not op.ok:
            problems.append(f"warm-up request {k}: {op.error}")

    ctx.begin_timed()
    ops = []
    for k, req in enumerate(timed_plan, start=len(warm_plan)):
        ops.append(ctx.timed(req["kind"], f"req-{k:04d}", request(k, req, returned), span="replay.request"))
    ctx.end_timed()

    t_check = time.perf_counter()
    # every request re-delivered exactly the staged events of its batches
    delivered: dict[int, dict[tuple, int]] = defaultdict(dict)
    if os.path.isdir(rdlv_p):
        for r in spark.read.parquet(rdlv_p).groupBy("req", "source", "batch_id").count().collect():
            delivered[int(r["req"])][(r["source"], r["batch_id"])] = r["count"]
    bad = replay_problems(plan, delivered, returned)
    for k, op in enumerate(ops, start=len(warm_plan)):
        if op.ok and k in bad:
            op.ok, op.error = False, bad[k][0]
    problems += [p for k in sorted(bad) for p in bad[k]]

    delivered_events = sum(returned[o_k]["n_events"] for o_k in range(len(warm_plan), len(plan))
                           if o_k in returned)
    extra = {
        "requests_per_kind": {k: sum(1 for r in timed_plan if r["kind"] == k)
                              for k in REQUEST_KINDS},
        "events_redelivered": delivered_events,
        "events_per_request": [returned.get(k, {}).get("n_events")
                               for k in range(len(warm_plan), len(plan))],
        "events_per_s": delivered_events / ctx.timed_s,
        "lake_batches": len(batches),
        "lake_events": sum(b.n_events for b in batches),
        "check_s": time.perf_counter() - t_check,
    }
    warmup = {"ingest": len(build)}
    for r in warm_plan:
        warmup[r["kind"]] = warmup.get(r["kind"], 0) + 1
    ctx.build_ops = list(zip(batches, build))
    return Outcome(ops, warmup, problems, extra)


def replay_layers(ctx: Context, out: Outcome, groups: dict) -> dict:
    """Per-layer report of a traced replay run. Ingest-side figures come
    from the lake build's batches past its warm-up, replay-side figures
    from the timed requests."""
    tr = ctx.tracer
    build = ctx.build_ops[REPLAY_BUILD_WARMUP_BATCHES:]
    steady = {o.trace for _, o in build}
    steady_events = sum(b.n_events for b, _ in build)
    timed = {o.trace for o in out.ops}
    n_b = max(1, len(steady))
    ig = [groups.get(t) for t in steady]
    ig = [g for g in ig if g is not None]
    rg = [groups[t] for t in timed if t in groups]
    lake_written = sum(g.sql.get(("lake", "number of written files"), 0) for g in ig)
    lake_bytes = sum(g.sql.get(("lake", "written output"), 0) for g in ig)
    rows_scanned = sum(g.sql.get(("lake", "number of output rows"), 0) for g in rg)
    files_read = sum(g.sql.get((a, "number of files read"), 0) for g in rg for a in ("lake", "catalog"))
    redelivered = out.extra["events_redelivered"]
    return {
        "lake.read_json_events_s": median(tr.durations("lake.read_json_events", steady)),
        "lake.write_partitioned_s": median(tr.durations("lake.write_partitioned", steady)),
        "lake.files_per_batch": {"value": lake_written / n_b, "files": lake_written, "batches": n_b},
        "lake.bytes_per_event": {"value": lake_bytes / max(1, steady_events),
                                 "bytes": lake_bytes, "events": steady_events},
        "ingest.batch_s": median(tr.durations("ingest.batch", steady)),
        "ingest.self_s": median(tr.self_times("ingest.batch", steady)),
        "ingest.append_catalog_s": median(tr.durations("ingest.append_catalog", steady)),
        "ingest.fan_out_s": median(tr.durations("ingest.fan_out", steady)),
        "ingest.spark_jobs_per_batch": {"value": sum(g.jobs for g in ig) / n_b, "batches": n_b},
        "ingest.spark_tasks_per_batch": {"value": sum(g.tasks for g in ig) / n_b, "batches": n_b},
        "ingest.shuffle_write_bytes_per_batch": {
            "value": sum(g.shuffle_write_bytes for g in ig) / n_b, "batches": n_b},
        "catalog.files_per_batch": {
            "value": sum(g.sql.get(("catalog", "number of written files"), 0) for g in ig) / n_b,
            "batches": n_b},
        "delivery.files_per_batch": {
            "value": sum(g.sql.get(("delivery", "number of written files"), 0) for g in ig) / n_b,
            "batches": n_b},
        "replay.request_s": median(tr.durations("replay.request", timed)),
        "replay.select_replay_keys_s": median(tr.durations("replay.select_replay_keys", timed)),
        "replay.self_s": median(tr.self_times("replay.request", timed)),
        "replay.spark_jobs_per_request": {"value": sum(g.jobs for g in rg) / max(1, len(timed)),
                                          "requests": len(timed)},
        "replay.spark_tasks_per_request": {"value": sum(g.tasks for g in rg) / max(1, len(timed)),
                                           "requests": len(timed)},
        "replay.files_read_per_request": {"value": files_read / max(1, len(timed)),
                                          "files": files_read, "requests": len(timed)},
        "replay.rows_scanned_per_event": {"value": rows_scanned / max(1, redelivered),
                                          "rows_scanned": rows_scanned,
                                          "events_redelivered": redelivered},
    }


# --------------------------------------------------------------- analytics

def oracle_problems(outputs: dict[str, tuple], fixtures: str,
                    oracles: dict[str, str | None]) -> dict[str, list[str]]:
    """Each collected query result against its DuckDB oracle
    (``Query.oracle``) run on the same fixture files."""
    import duckdb

    from serverless_datalake_spark.tables import TABLES, table_path

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(fixtures, t)}')")
        out = {}
        for name, sql in oracles.items():
            if name not in outputs:
                out[name] = [f"{name}: no result collected"]
            elif sql is None:
                out[name] = [f"{name}: no DuckDB oracle"]
            else:
                rel = con.sql(sql)
                out[name] = check.result_problems(name, *outputs[name], list(rel.columns),
                                                  rel.fetchall())
        return out
    finally:
        con.close()


def run_analytics(ctx: Context) -> Outcome:
    from serverless_datalake_spark.queries import load_registry

    spark, tracer = ctx.spark, ctx.tracer
    fixtures = FIXTURES
    registry = load_registry()
    rng = random.Random(ctx.seed)
    n_passes = max(2, round(ctx.seconds / ANALYTICS_PASS_S))

    def run_query(name: str):
        def go():
            with tracer.span(f"query.{name}.build"):
                df = registry[name].fn(spark, fixtures)
            with tracer.span(f"query.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return go

    # warm-up pass 0 collects every result for the output check. Its
    # queries run concurrently, one thread each: the first query's JVM
    # start-up and the UDF query's Python-worker start-up overlap instead
    # of adding up. The other warm-up passes run exactly like timed ones.
    def collect(name: str) -> tuple[list[str], list[tuple]]:
        df = registry[name].fn(spark, fixtures)
        return list(df.columns), [tuple(r) for r in df.collect()]

    outputs: dict[str, tuple] = {}
    problems = []
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(ANALYTICS_MIX)) as pool:
        futures = {n: pool.submit(collect, n) for n in rng.sample(ANALYTICS_MIX, len(ANALYTICS_MIX))}
        for name, fut in futures.items():
            try:
                outputs[name] = fut.result()
            except Exception as exc:  # recorded as a check failure below
                problems.append(f"warm-up {name}: {exc!r}"[:300])
    collect_pass_s = time.perf_counter() - t0
    warm_curve = []
    for p in range(1, ANALYTICS_WARMUP_PASSES):
        for name in rng.sample(ANALYTICS_MIX, len(ANALYTICS_MIX)):
            op = ctx.timed(name, f"warm{p}-{name}", run_query(name))
            warm_curve.append((name, op.latency))
            if not op.ok:
                problems.append(f"warm-up {name}: {op.error}")

    ctx.begin_timed()
    ops, pass_of = [], {}
    for p in range(n_passes):
        for name in rng.sample(ANALYTICS_MIX, len(ANALYTICS_MIX)):
            ops.append(ctx.timed(name, f"pass{p}-{name}", run_query(name)))
            pass_of[ops[-1].trace] = p
    ctx.end_timed()

    t_check = time.perf_counter()
    # each query's collected result against its DuckDB oracle
    found = oracle_problems(outputs, fixtures, {n: registry[n].oracle for n in ANALYTICS_MIX})
    for name, bad in found.items():
        for op in ops:
            if op.kind == name and op.ok and bad:
                op.ok, op.error = False, bad[0]
        problems += bad

    warmup = {name: ANALYTICS_WARMUP_PASSES for name in ANALYTICS_MIX}
    extra = {
        "passes": n_passes,
        "check_s": time.perf_counter() - t_check,
        "fixtures": os.path.basename(FIXTURES),
        "rows_checked": {n: len(outputs[n][1]) for n in outputs},
        "collect_pass_s": collect_pass_s,
        "warmup_curve_s": {
            n: [round(lat, 4) for q, lat in warm_curve if q == n] for n in ANALYTICS_MIX
        },
    }
    return Outcome(ops, warmup, problems, extra, pass_of)


def analytics_layers(ctx: Context, out: Outcome, groups: dict) -> dict:
    tr = ctx.tracer
    layers = {}
    for name in ANALYTICS_MIX:
        traces = {o.trace for o in out.ops if o.kind == name}
        gs = [groups[t] for t in traces if t in groups]
        n = max(1, len(traces))
        layers[f"query.{name}.build_s"] = median(tr.durations(f"query.{name}.build", traces))
        layers[f"query.{name}.exec_s"] = median(tr.durations(f"query.{name}.exec", traces))
        layers[f"query.{name}.spark_tasks"] = {"value": sum(g.tasks for g in gs) / n, "runs": n}
        layers[f"query.{name}.shuffle_write_bytes"] = {
            "value": sum(g.shuffle_write_bytes for g in gs) / n, "runs": n}
        layers[f"query.{name}.input_records"] = {
            "value": sum(g.input_records for g in gs) / n, "runs": n}
    return layers


RUNNERS = {"replay": (run_replay, replay_layers), "analytics": (run_analytics, analytics_layers)}
