"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The engine only ever sees these generated files and frames.

Values follow the long-tailed distribution of the engine's `events`
table (see FIXTURES.md in the repository root): `value` is exponential
with mean 50 and two decimals, sent and stored here as whole cents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_START_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z


def _event_values(rng, n):
    """Event values: long-tailed, two decimals, like the fixture data."""
    return np.round(rng.exponential(50.0, n), 2)


def write_replay(out_dir, seed, keys, events_per_key, files, disorder_us):
    """The replay_window input: `keys` users with `events_per_key` events
    each, as (user_id, cents, ts_ns) split over `files` parquet files in
    event-time order. Each row's timestamp is displaced by at most
    `disorder_us` from its in-order position, so event-time disorder stays
    bounded (the windows' delay must exceed it for no event to be late).
    Per-user timestamps stay unique so every engine orders a key's events
    identically."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n = keys * events_per_key
    # per key: one event every ~`step` us on average, start offsets spread
    step = 60 * 10**6
    user = np.tile(np.arange(keys, dtype=np.int64), events_per_key)
    slot = np.repeat(np.arange(events_per_key, dtype=np.int64), keys)
    ts_us = EVENTS_START_US + slot * step + rng.integers(0, step // 2, n)
    order = np.argsort(ts_us + rng.integers(-disorder_us, disorder_us + 1, n), kind="stable")
    user, ts_us = user[order], ts_us[order]
    cents = np.round(_event_values(rng, n) * 100).astype(np.int64)
    ts_ns = ts_us * 1000 + user % 1000  # unique per (user, slot), sub-us digits included
    per = -(-n // files)
    for i in range(files):
        s = slice(i * per, min(n, (i + 1) * per))
        pq.write_table(pa.table({"user_id": pa.array(user[s]), "cents": pa.array(cents[s]),
                                 "ts_ns": pa.array(ts_ns[s])}),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
        # strictly increasing mtimes: the file source orders files by
        # modification time, so this pins the replay order
        os.utime(os.path.join(out_dir, f"part-{i:05d}.parquet"), (1e9 + i, 1e9 + i))
    return n


def wire_population(seed, users=1500):
    """Per-user starting quote (cents) for the market-spread frames,
    drawn from the same long-tailed value distribution as `events`."""
    rng = np.random.default_rng([seed, 3])
    return np.maximum(100, np.round(_event_values(rng, users) * 100)).astype(np.int64)
