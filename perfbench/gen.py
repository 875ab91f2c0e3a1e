"""Seeded generator for the benchmark's ``events.parquet``.

The table follows the events schema and domains of the engine's fixtures:
dense ``event_id``, strictly increasing microsecond ``ts`` over 30 days
from 2024-01-01, ``user_id`` in ``[0, n_users)``, five event types,
2-decimal exponential ``value`` (mean 50, at least 0.01) and
``props = '{"k": <0..99>}'``. ``ts`` is written as parquet
TIMESTAMP(MICROS, isAdjustedToUTC=false), the unit the engine reads natively.

User keys are uniform when ``zipf_s`` is 0, else drawn from a Zipf law with
exponent ``zipf_s`` over ``n_users`` ranks (heavy-tailed, like top-talker
traffic). A permutation maps ranks to ids so the hot keys are not simply
the smallest ids. It is the same for every seed, so the state partitions
the heaviest keys hash to, which decide the slowest task, do not change
from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: 2024-01-01T00:00:00 as epoch microseconds.
START_US = 1_704_067_200 * 1_000_000
SPAN_US = 30 * 86_400 * 1_000_000
#: Fixed seed of the Zipf rank → user id permutation (see module doc).
RANK_PERMUTATION_SEED = 0


def user_ids(rng: np.random.Generator, n: int, n_users: int, zipf_s: float) -> np.ndarray:
    if zipf_s <= 0:
        return rng.integers(0, n_users, size=n, dtype=np.int64)
    weights = np.arange(1, n_users + 1, dtype=np.float64) ** -zipf_s
    ranks = rng.choice(n_users, size=n, p=weights / weights.sum())
    ids = np.random.default_rng(RANK_PERMUTATION_SEED).permutation(n_users)
    return ids.astype(np.int64)[ranks]


def timestamps_us(rng: np.random.Generator, n: int) -> np.ndarray:
    """Strictly increasing epoch µs inside ``[START_US, START_US + SPAN_US)``.

    Offsets are drawn directly as int64 microseconds. Scaling a coarser
    integer draw up to µs (or an epoch in ns) can wrap int64 without any
    error, and the oracle would still agree with the engine on the wrapped
    values, so :func:`check` re-verifies order and span on every table."""
    off = np.sort(rng.integers(0, SPAN_US - n, size=n, dtype=np.int64))
    # ties → strictly increasing: cummax(off - i) + i stays sorted and unique
    idx = np.arange(n, dtype=np.int64)
    off = np.maximum.accumulate(off - idx) + idx
    return START_US + off


def events_table(seed: int, n_events: int, n_users: int, zipf_s: float) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = timestamps_us(rng, n_events)
    users = user_ids(rng, n_events, n_users, zipf_s)
    types = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    ks = rng.integers(0, 100, n_events)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(types.tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in ks.tolist()], pa.string()),
        }
    )


def check(table: pa.Table, n_users: int) -> None:
    """Raise ``ValueError`` unless the table keeps the schema's invariants."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    if len(ts) == 0:
        raise ValueError("events table is empty")
    if not (np.diff(ts) > 0).all():
        raise ValueError("ts is not strictly increasing")
    if ts[0] < START_US or ts[-1] >= START_US + SPAN_US:
        raise ValueError(f"ts outside its 30-day span: {ts[0]}..{ts[-1]}")
    users = table.column("user_id").to_numpy()
    if users.min() < 0 or users.max() >= n_users:
        raise ValueError("user_id outside [0, n_users)")
    if not np.array_equal(table.column("event_id").to_numpy(), np.arange(len(ts))):
        raise ValueError("event_id is not dense 0..N-1")
    if table.column("value").to_numpy().min() < 0.01:
        raise ValueError("value below 0.01")


def write_events(out_dir: str, seed: int, n_events: int, n_users: int, zipf_s: float) -> str:
    table = events_table(seed, n_events, n_users, zipf_s)
    check(table, n_users)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return path

