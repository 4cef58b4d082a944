"""Seeded input generator for the benchmark.

``EventsFeed`` writes the events feed replayed through
``pipeline.run_incremental``, one landing parquet file per tick, from
``--seed`` alone: the same seed gives byte-identical files
(``test_inputs.py`` checks this). The program only ever receives the
files. The catalog workload reads the committed test tables instead
(see ``workloads.Catalog``).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(path: str, table: pa.Table) -> None:
    # no pandas metadata and a fixed writer: the bytes depend on the data only
    pq.write_table(
        table.replace_schema_metadata(None), path, compression="snappy",
        row_group_size=max(8192, table.num_rows // 64 or 1),
    )


class EventsFeed:
    """A seeded replay of the raw events feed, one landing file per tick.

    Tick ``k`` covers event time ``(as_of(k-1), as_of(k)]``. The first
    tick lands ``INITIAL`` of the ``TENANTS`` tenants; every later tick
    admits ``ADMIT`` new ones, so each later tick runs both the catchup
    pass (tenants without a watermark) and the general pass, and all
    ticks past the first have the same shape. A share of each tick's
    events is delivered twice in the same file (intra-batch dedup), and
    a small share arrives behind its tenant's watermark (the window
    filter drops them). The generator tracks each tenant's
    watermark, so it knows exactly which rows must land and what every
    watermark must read afterwards.
    """

    START = dt.datetime(2024, 3, 1)
    TICK = dt.timedelta(minutes=15)
    TENANTS = 1500
    INITIAL = 1000
    ADMIT = 20
    ROWS_PER_TICK = 3300
    DUP_SHARE = 0.05  # delivered twice in the same file
    LATE_SHARE = 0.01  # behind the tenant's watermark

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.active = self.INITIAL
        self.tick = 0
        self.next_event_id = 0
        self.watermark: dict[int, int] = {}  # tenant -> max landed ts (µs)
        self.expected_rows = 0

    def as_of(self, tick: int) -> dt.datetime:
        return self.START + self.TICK * (tick + 1)

    def _as_of_us(self, tick: int) -> int:
        return int((self.as_of(tick) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000

    def write_tick(self, path: str) -> dt.datetime:
        """Write the next tick's landing file to ``path``; return its as_of."""
        rng, k = self.rng, self.tick
        before = self.active
        if k:
            self.active = min(self.TENANTS, self.active + self.ADMIT)
        lo, hi = self._as_of_us(k - 1), self._as_of_us(k)
        n = self.ROWS_PER_TICK
        # the newly admitted tenants each get a row, so they land this tick
        new = np.arange(before, self.active)
        users = np.concatenate([
            new, rng.integers(0, self.active, n - len(new))
        ]).astype(np.int64)
        ts = rng.integers(lo + 1, hi + 1, n).astype(np.int64)
        ids = np.arange(self.next_event_id, self.next_event_id + n, dtype=np.int64)
        self.next_event_id += n
        # late rows: behind the watermark the tick reads (the one left by
        # earlier ticks), so no window ever admits them
        seen = np.array(sorted(self.watermark), dtype=np.int64)
        n_late = int(n * self.LATE_SHARE) if len(seen) else 0
        late_users = rng.choice(seen, n_late) if n_late else np.zeros(0, np.int64)
        late_ts = np.array(
            [self.watermark[u] - int(rng.integers(1, 6 * 3600 * 10**6))
             for u in late_users.tolist()],
            dtype=np.int64,
        )
        late_ids = np.arange(self.next_event_id, self.next_event_id + n_late, dtype=np.int64)
        self.next_event_id += n_late
        for u, t in zip(users.tolist(), ts.tolist()):
            if t > self.watermark.get(u, -1):
                self.watermark[u] = t
        self.expected_rows += n
        all_ids = np.concatenate([ids, late_ids])
        all_users = np.concatenate([users, late_users])
        all_ts = np.concatenate([ts, late_ts])
        dup = rng.choice(n, int(n * self.DUP_SHARE), replace=False)
        order = np.concatenate([np.arange(len(all_ids)), dup])
        m = len(all_ids)
        etype = rng.choice(_EVENT_TYPES, m)
        value = np.round(rng.uniform(0, 100, m), 6)
        kvals = rng.integers(0, 100, m)
        _write(path, pa.table({
            "event_id": all_ids[order],
            "ts": pa.array(all_ts[order], type=pa.timestamp("us", tz="UTC")),
            "user_id": all_users[order],
            "event_type": pa.array(etype[order]),
            "value": value[order],
            "props": pa.array([f'{{"k": {v}}}' for v in kvals[order]]),
        }))
        self.tick += 1
        return self.as_of(k)

    def watermarks(self) -> dict[int, dt.datetime]:
        """Expected watermark of every tenant that has landed rows."""
        epoch = dt.datetime(1970, 1, 1)
        return {u: epoch + dt.timedelta(microseconds=t) for u, t in self.watermark.items()}

