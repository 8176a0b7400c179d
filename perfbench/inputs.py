"""Seeded inputs and operation schedules.

Everything a run feeds the library is derived from ``--seed`` here, so
the same seed gives the same parquet files and the same op sequence.
The library only ever sees the files (read through its own sources).
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1-sized point-event and order tables (the shapes of the repo's
# TPC-H-ish testdata: 100k events over 30 days from 1500 users, 150k
# orders with dates in 1995-01-01 .. 2001-08-01)
N_EVENTS = 100_000
N_USERS = 1_500
N_ORDERS = 150_000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
ORDER_STATUS = ("O", "F", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ORDERS_D0 = 9_131  # 1995-01-01 in days since epoch
ORDERS_DAYS = 2_404  # .. 2001-08-01

# span tables of the binned workload: uniform starts over SPAN_T ns,
# exponential durations; expected overlaps per left row is
# 2 * SPAN_MEAN_DUR * N_SPANS / SPAN_T (about 3 at these values).  The
# sides' row product exceeds the library's AUTO_BNL_PAIR_BUDGET (2.5e8)
# many times over, so 'auto' picks the binned rewrite
N_SPANS = 40_000
N_GROUPS = 16
SPAN_T0 = 1_700_000_000_000_000_000
SPAN_T = 37_000_000_000_000  # ~10 hours in ns
SPAN_MEAN_DUR = 1_400_000_000

WINDOW_COUNTS = (4, 16, 64, 256)
WINDOW_FLAVOURS = ("inner", "keepleft", "keepright", "full", "groupby")
# bin widths the prebinned sink writes with (ns): near the mean span
# duration, where the binned layout is reasonable, and close to each
# other, so the seed's choice moves the cost of a run little
PREBIN_WIDTHS = (1_500_000_000, 2_000_000_000, 2_500_000_000)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream
    never shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def write_events(seed: int, sf_dir: str) -> str:
    rng = _rng(seed, "events")
    ts = np.sort(
        EVENTS_T0_US + rng.integers(0, 30 * 86_400_000_000, N_EVENTS)
    )
    table = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
            ),
        }
    )
    return _write(table, os.path.join(sf_dir, "events.parquet"))


def write_orders(seed: int, sf_dir: str) -> str:
    rng = _rng(seed, "orders")
    days = ORDERS_D0 + rng.integers(0, ORDERS_DAYS, N_ORDERS)
    table = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, N_ORDERS)),
            "o_orderstatus": pa.array(
                np.array(ORDER_STATUS)[rng.integers(0, 3, N_ORDERS)]
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1_000.0, 500_000.0, N_ORDERS), 2)
            ),
            "o_orderdate": pa.array(
                days.astype(np.int64) * 86_400_000_000, type=pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                np.array(ORDER_PRIORITY)[rng.integers(0, 5, N_ORDERS)]
            ),
        }
    )
    return _write(table, os.path.join(sf_dir, "orders.parquet"))


def write_span_table(seed: int, side: str, path: str, n: int = N_SPANS) -> str:
    """``{side}_id BIGINT, {side}_g BIGINT, start BIGINT, stop BIGINT``;
    positive-width spans (the library builds the span struct)."""
    rng = _rng(seed, f"spans-{side}")
    start = SPAN_T0 + rng.integers(0, SPAN_T, n)
    dur = 1 + rng.exponential(SPAN_MEAN_DUR, n).astype(np.int64)
    table = pa.table(
        {
            f"{side}_id": pa.array(np.arange(n, dtype=np.int64)),
            f"{side}_g": pa.array(rng.integers(0, N_GROUPS, n)),
            "start": pa.array(start),
            "stop": pa.array(start + dur),
        }
    )
    return _write(table, path)


def file_digest(path: str) -> str:
    """Content fingerprint of a generated input (seed determinism)."""
    t = pq.read_table(path)
    h = hashlib.sha256()
    for name in t.column_names:
        h.update(name.encode())
        h.update(repr(t.column(name).to_pylist()).encode())
    return h.hexdigest()[:16]


def windows_schedule(seed: int, n_ops: int) -> list[tuple[str, int]]:
    """``(flavour, n)`` per op in blocks of five: block b gives the i-th
    flavour the window count ``WINDOW_COUNTS[(b + i) % 4]``, so each
    block runs every flavour once and four blocks run every (flavour,
    n) pair once (a Latin square).  The seed shuffles the order inside
    each block; the pairs a block holds are fixed, so runs of the same
    number of blocks measure the same mix whatever the seed."""
    r = random.Random(f"{seed}:windows")
    ops: list[tuple[str, int]] = []
    block = 0
    while len(ops) < n_ops:
        pairs = [
            (f, WINDOW_COUNTS[(block + i) % len(WINDOW_COUNTS)])
            for i, f in enumerate(WINDOW_FLAVOURS)
        ]
        r.shuffle(pairs)
        ops.extend(pairs)
        block += 1
    return ops[:n_ops]


BINNED_BLOCK = (
    "binned_inner",
    "prebinned_write",
    "prebinned_inner",
    "binned_full",
    "prebinned_keepleft",
    "prebinned_inner",
)


def binned_schedule(seed: int, n_ops: int) -> list[tuple[str, int]]:
    """``(kind, bin_width)`` per op, in blocks of :data:`BINNED_BLOCK`:
    the in-memory binned join alternates inner and full outer, and each
    prebinned write is followed by three prebinned joins at the width
    it wrote (1 write per 3 joins).  The seed orders the widths, one
    per block, each used once every three blocks.  The kind order is
    fixed, so runs of the same number of blocks see the same mix."""
    r = random.Random(f"{seed}:binned")
    ops: list[tuple[str, int]] = []
    widths: list[int] = []
    while len(ops) < n_ops:
        if not widths:
            widths = list(PREBIN_WIDTHS)
            r.shuffle(widths)
        width = widths.pop()
        ops.extend(
            (kind, width if kind.startswith("prebinned") else 0)
            for kind in BINNED_BLOCK
        )
    return ops[:n_ops]
