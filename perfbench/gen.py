"""Seeded input generators. The program under test only ever sees the
files written here; the same seed writes the same bytes.

Events (``ops_chain``, ``stream_microbatch``): ``event_id`` in arrival
order, ``ts`` as a UTC-adjusted TIMESTAMP (a TIMESTAMP_NTZ column makes
``withWatermark`` fail with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
Zipf-distributed ``user_id``, a small ``event_type`` alphabet, and a
``value`` that is a multiple of 0.25 so every sum over it is exact in a
double whatever the summation order. A share of events arrives late:
their ``ts`` is pulled back by up to ``LATE_MAX_S`` seconds, less than
the stream watermark, so no event is ever dropped as too late.

Documents (``curation_suite``): the ``documents`` table the registry's
text queries read, drawn to the shape of the repository's sf0.1 corpus
as DuckDB counts it: 5,000 documents; 10..99 words each, uniform; words
drawn uniformly from 30 (each word 1.76..1.84% of tokens); 5% near-
duplicates, a copy of an earlier document plus the token ``dup`` (255
``dup`` tokens in sf0.1); language en 41%, de/es/fr/zh 14-15% each;
source ``src{doc_id % 20}``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])
TYPE_P = np.array([0.55, 0.25, 0.1, 0.07, 0.03])
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
USERS = 20_000
RATE_PER_S = 20.0  # event time advances 5 minutes every 6000 events
LATE_MAX_S = 60  # below the 2-minute stream watermark


@dataclass(frozen=True)
class EventSpec:
    n: int
    files: int
    zipf_s: float = 1.1
    late_share: float = 0.02


def events_table(seed: int, spec: EventSpec) -> pa.Table:
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(1e6 / RATE_PER_S, spec.n)
    ts = T0_US + np.cumsum(gaps).astype(np.int64)
    late = rng.random(spec.n) < spec.late_share
    ts[late] -= rng.integers(1, LATE_MAX_S * 1_000_000, late.sum())
    p = np.arange(1, USERS + 1, dtype=np.float64) ** -spec.zipf_s
    users = rng.choice(USERS, size=spec.n, p=p / p.sum())
    # which ids are hot is a property of the workload, not of the seed:
    # the same hot keys land in the same hash partitions on every run
    users = np.random.default_rng(0).permutation(USERS)[users]
    return pa.table({
        "event_id": pa.array(np.arange(spec.n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, spec.n, p=TYPE_P)),
        "value": pa.array(rng.integers(1, 4000, spec.n) * 0.25),
    })


def write_events(seed: int, spec: EventSpec, out_dir: str) -> None:
    """Write the events split in arrival order into ``spec.files``
    parquet files. Lexical order and modification-time order are both
    arrival order: a file stream source takes files oldest first."""
    os.makedirs(out_dir, exist_ok=True)
    table = events_table(seed, spec)
    bounds = np.linspace(0, spec.n, spec.files + 1).astype(int)
    mtime0 = int(time.time()) - spec.files
    for i in range(spec.files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (mtime0 + i, mtime0 + i))


WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def write_documents(seed: int, docs: int, out_dir: str, dup_share: float = 0.05) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 100, docs)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    for i in np.flatnonzero(rng.random(docs) < dup_share):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
