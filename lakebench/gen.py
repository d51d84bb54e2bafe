"""Seeded staging batches for the replay workload's lake build.

Everything here is a pure function of its seed, so two runs with the same
``--seed`` start from byte-identical inputs. Nothing here imports Spark.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np

# Five sources; the first carries half of every batch (the hot source).
SOURCES = ("click", "view", "purchase", "signup", "error")
HOT_SHARE = 0.5
MIN_BATCH, MAX_BATCH = 1_000, 20_000
HISTORY_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
BATCH_SPAN_MS = 3_600_000  # each staging batch covers one hour of event time


@dataclass(frozen=True)
class Batch:
    """One staged file: where it is, its id, and what it holds."""

    batch_id: str
    path: str
    n_events: int
    per_source: dict[str, int]


def batch_sizes(rng: np.random.Generator, n: int) -> list[int]:
    """``n`` sizes spread evenly over [MIN_BATCH, MAX_BATCH], in seeded order.

    The multiset of sizes depends only on ``n``, so every seed stages the
    same number of events; the seed decides the order and the contents."""
    if n == 1:
        return [MIN_BATCH]
    sizes = np.linspace(MIN_BATCH, MAX_BATCH, n).round().astype(int)
    return [int(s) for s in rng.permutation(sizes)]


def source_counts(rng: np.random.Generator, n: int) -> dict[str, int]:
    """Split ``n`` events: half to the hot source, the rest across the
    four cold sources by a seeded multinomial draw."""
    hot = int(round(n * HOT_SHARE))
    cold = rng.multinomial(n - hot, [1 / (len(SOURCES) - 1)] * (len(SOURCES) - 1))
    counts = {SOURCES[0]: hot}
    counts.update({s: int(c) for s, c in zip(SOURCES[1:], cold)})
    return counts


def _iso_ms(ms: np.ndarray) -> list[str]:
    base = np.datetime64(0, "ms") + ms.astype("timedelta64[ms]")
    return [s + "Z" for s in np.datetime_as_string(base, unit="ms")]


def write_staging_batch(
    rng: np.random.Generator, root: str, index: int, n: int, first_event_id: int
) -> Batch:
    """Write one gzip JSON-lines batch in ``lake.EVENTS_JSON_SCHEMA`` shape.

    The gzip header carries no name or mtime, so equal seeds give equal
    bytes. Event time falls in the batch's own hour of history."""
    counts = source_counts(rng, n)
    sources = np.repeat(np.array(SOURCES), [counts[s] for s in SOURCES])
    sources = sources[rng.permutation(n)]
    start = HISTORY_START_MS + index * BATCH_SPAN_MS
    ts = np.sort(rng.integers(start, start + BATCH_SPAN_MS, n))
    users = rng.integers(0, 500, n)
    values = rng.integers(1, 50_000, n) / 100
    ks = rng.integers(0, 100, n)
    ids = np.arange(first_event_id, first_event_id + n)
    lines = [
        f'{{"event_id": {i}, "ts": "{t}", "user_id": {u}, "event_type": "{s}", '
        f'"value": {v}, "props": "{{\\"k\\": {k}}}"}}\n'
        for i, t, u, s, v, k in zip(
            ids.tolist(), _iso_ms(ts), users.tolist(), sources.tolist(),
            values.tolist(), ks.tolist(),
        )
    ]
    batch_id = f"b{index:05d}"
    bdir = os.path.join(root, batch_id)
    os.makedirs(bdir, exist_ok=True)
    path = os.path.join(bdir, "part-0.json.gz")
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
    ) as gz:
        gz.write("".join(lines).encode())
    return Batch(batch_id, path, n, counts)


def stage_batches(seed: int, root: str, n_batches: int, first_index: int = 0) -> list[Batch]:
    """Stage ``n_batches`` batches under ``root`` with event ids that never
    repeat across batches."""
    rng = np.random.default_rng([seed, first_index])
    out: list[Batch] = []
    next_id = first_index * MAX_BATCH
    for k, n in enumerate(batch_sizes(rng, n_batches)):
        out.append(write_staging_batch(rng, root, first_index + k, n, next_id))
        next_id += n
    return out
