"""Tests of the benchmark's own checks: identical inputs per seed, and
every seeded defect — a dropped batch, a duplicated batch, a lost or
extra replayed event, a wrong query result — turns the run incorrect.

Run from the repository root:

    python -m pytest lakebench/test_lakebench.py -q -p no:cacheprovider

The last two tests start a local Spark session (about a minute).
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _staged(tmp_path, seed: int, name: str, n: int = 3) -> list[gen.Batch]:
    return gen.stage_batches(seed, str(tmp_path / name), n)


def test_same_seed_writes_byte_identical_staging(tmp_path):
    a = _staged(tmp_path, 5, "a")
    b = _staged(tmp_path, 5, "b")
    c = _staged(tmp_path, 6, "c")
    for x, y in zip(a, b):
        assert filecmp.cmp(x.path, y.path, shallow=False)
        assert x.per_source == y.per_source
    assert not all(filecmp.cmp(x.path, z.path, shallow=False) for x, z in zip(a, c))


def test_batch_sizes_are_a_fixed_multiset():
    import numpy as np

    s1 = gen.batch_sizes(np.random.default_rng(1), 9)
    s2 = gen.batch_sizes(np.random.default_rng(2), 9)
    assert sorted(s1) == sorted(s2) and s1 != s2
    assert min(s1) == gen.MIN_BATCH and max(s1) == gen.MAX_BATCH


def test_hot_source_carries_half():
    import numpy as np

    counts = gen.source_counts(np.random.default_rng(3), 10_000)
    assert sum(counts.values()) == 10_000
    assert counts[gen.SOURCES[0]] == 5_000


def test_wide_requests_are_wider_than_narrow_ones():
    import random

    batches = [gen.Batch(f"b{i:05d}", "", 1, {s: 1 for s in gen.SOURCES})
               for i in range(workloads.REPLAY_LAKE_BATCHES)]
    plan = workloads._plan_requests(random.Random(1), 40, batches)
    narrow = {len(r["batches"]) for r in plan if r["kind"] != "wide"}
    wide = {len(r["batches"]) for r in plan if r["kind"] == "wide"}
    assert narrow == {1, 2} and min(wide) > max(narrow) and min(wide) >= len(batches) // 4


def _expected(batches):
    return {(s, b.batch_id): n for b in batches for s, n in b.per_source.items()}


def test_dropped_and_duplicated_batches_are_caught(tmp_path):
    batches = _staged(tmp_path, 7, "s")
    exact = _expected(batches)
    assert check.count_problems("lake", exact, dict(exact)) == []
    dropped = {k: v for k, v in exact.items() if k[1] != batches[1].batch_id}
    assert check.count_problems("lake", exact, dropped)
    doubled = {k: v * (2 if k[1] == batches[0].batch_id else 1) for k, v in exact.items()}
    assert check.count_problems("lake", exact, doubled)


def _one_request(tmp_path):
    batches = _staged(tmp_path, 8, "s", n=4)
    import random

    plan = workloads._plan_requests(random.Random(0), 1, batches)
    req = plan[0]
    delivered = {0: {(req["source"], b): n for b, n in req["expected"].items()}}
    returned = {0: {"n_events": sum(req["expected"].values()), "n_batches": len(req["batches"])}}
    return plan, delivered, returned


def test_replay_check_accepts_exact_redelivery(tmp_path):
    plan, delivered, returned = _one_request(tmp_path)
    assert workloads.replay_problems(plan, delivered, returned) == {}


def test_replay_check_catches_a_lost_event(tmp_path):
    plan, delivered, returned = _one_request(tmp_path)
    key = next(iter(delivered[0]))
    delivered[0][key] -= 1
    assert workloads.replay_problems(plan, delivered, returned)


def test_replay_check_catches_a_replayed_duplicate_batch(tmp_path):
    plan, delivered, returned = _one_request(tmp_path)
    for key in delivered[0]:
        delivered[0][key] *= 2
    returned[0]["n_events"] *= 2
    assert workloads.replay_problems(plan, delivered, returned)


def test_replay_check_catches_a_wrong_returned_count(tmp_path):
    plan, delivered, returned = _one_request(tmp_path)
    returned[0]["n_batches"] += 1
    assert workloads.replay_problems(plan, delivered, returned)


def test_query_digest_is_order_insensitive_and_value_sensitive():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert check.result_problems("q", cols, rows, ["a", "b"], [("y", 2), ("x", 1)]) == []
    assert check.result_problems("q", cols, rows, ["a", "b"], [("y", 2), ("x", 3)])
    assert check.result_problems("q", cols, rows, ["a", "b"], [("y", 2)])
    assert check.result_problems("q", cols, rows, ["a", "c"], [("y", 2), ("x", 1)])


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    value, pct, beyond = run.tail(xs)
    assert sum(1 for x in xs if x > value) == beyond == 10
    assert pct == 75.0


def test_a_failed_op_counts_against_latency():
    ops = [workloads.Op("k", f"t{i}", 1.0) for i in range(11)]
    ops[0].ok = False
    e2e, bases = run.end_to_end(ops, 1.0, None)
    assert bases["op_tail_s"] == 1.0 and e2e["op_p50_s"]["value"] == 1.0
    ops = [workloads.Op("k", f"t{i}", 1.0, ok=False) for i in range(11)]
    e2e, _ = run.end_to_end(ops, 1.0, None)
    assert e2e["op_p50_s"]["value"] == float("inf")


def test_analytics_p50_is_a_pass_not_a_pooled_median():
    ops = [workloads.Op(k, f"p{p}-{k}", lat) for p in range(3)
           for k, lat in (("fast", 0.1 * (p + 1)), ("slow", 2.0))]
    pass_of = {o.trace: int(o.trace[1]) for o in ops}
    e2e, _ = run.end_to_end(ops, 1.0, pass_of)
    assert e2e["op_p50_s"]["value"] == 2.2  # median of the pass totals 2.1, 2.2, 2.3
    assert e2e["pass_s"]["value"] == 2.2


# ----------------------------------------------------------- with Spark

@pytest.fixture(scope="module")
def spark():
    from serverless_datalake_spark.session import get_spark

    s = get_spark(app_name="lakebench-tests", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_ingest_check_catches_dropped_and_duplicated_batch(spark, tmp_path):
    from serverless_datalake_spark.sources import ingest

    batches = _staged(tmp_path, 9, "stg")
    paths = [str(tmp_path / d) for d in ("lake", "catalog", "delivery")]
    for b in batches:
        ingest.ingest_batch(spark, b.path, *paths, b.batch_id)
    assert workloads.ingest_problems(spark, batches, *paths) == []

    dropped = [str(tmp_path / f"d-{d}") for d in ("lake", "catalog", "delivery")]
    for b in batches[:-1]:
        ingest.ingest_batch(spark, b.path, *dropped, b.batch_id)
    assert workloads.ingest_problems(spark, batches, *dropped)

    duplicated = [str(tmp_path / f"x-{d}") for d in ("lake", "catalog", "delivery")]
    for b in batches + batches[:1]:
        ingest.ingest_batch(spark, b.path, *duplicated, b.batch_id)
    assert workloads.ingest_problems(spark, batches, *duplicated)


def test_query_check_catches_a_wrong_result(spark, tmp_path):
    from serverless_datalake_spark.queries import load_registry

    fixtures = workloads.FIXTURES
    q = load_registry()["agg_rollup"]
    df = q.fn(spark, fixtures)
    cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
    wrong = rows[:-1] + [tuple(v + 1 if isinstance(v, int) else v for v in rows[-1])]
    found = workloads.oracle_problems(
        {"exact": (cols, rows), "wrong": (cols, wrong), "short": (cols, rows[1:])},
        fixtures, {"exact": q.oracle, "wrong": q.oracle, "short": q.oracle, "absent": q.oracle},
    )
    assert found["exact"] == []
    assert found["wrong"] and found["short"] and found["absent"]
