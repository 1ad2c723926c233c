"""Seeded input generators for the benchmark.

Two kinds of input, both made only from the workload seed:

* ``write_events``: the campaign ``events`` table the dashboard queries
  read, one parquet file with the same schema, value domains and
  timestamp encoding (``timestamp[us]``, snappy, one row group) as the
  project's test data. Rows are written in a seeded random order, so no
  answer may depend on it.
* ``CampaignEvents``: blocks of email-campaign events in the wire format
  the streaming MV consumes (JSONEachRow ``{"timestamp", "level",
  "message"}``). Campaign and user keys are Zipf-skewed, event types are
  skewed toward ``delivered`` like the reference's email events, and a
  share of each block arrives out of order, up to three days late. The
  generator keeps the exact per-(day, level) and per-day counts of every
  block it has produced, which are the ingest workload's expected answers.

The ``events`` distributions follow a profile of the project's sf0.1
test data (DuckDB over its parquet file): 100,000 rows; ``user_id``
uniform over 1,500 users (66.7 events per user, max 99); ``event_type``
uniform over five types; ``props`` ``{"k": 0..99}`` uniform; ``value``
exponential with mean 50 (quantiles 10/50/90 % = 5.35 / 34.77 / 114.30,
max 560.21), in cents; event times distinct microseconds over the 30
days from 2024-01-01, increasing with ``event_id``.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_S = 86_400
US = 1_000_000
EVENTS_PER_SF = 1_000_000  # so a scale factor of 0.1 gives the test data's size
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * DAY_S * US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        }
    )


def write_events(out_dir: str, seed: int, sf: float) -> dict[str, dict]:
    """Write ``out_dir/events.parquet``; return its identity (rows,
    bytes) for the run record."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    table = _events(rng, max(int(EVENTS_PER_SF * sf), 25))
    table = table.take(rng.permutation(table.num_rows))
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return {"events": {"rows": table.num_rows, "bytes": os.path.getsize(path)}}


# --- campaign event blocks -------------------------------------------------

# The reference's email event types, skewed toward delivered.
CAMPAIGN_LEVELS = ["delivered", "open", "click", "bounce", "unsubscribe"]
_LEVEL_P = [0.55, 0.25, 0.12, 0.05, 0.03]
_CAMPAIGNS = 500
_USERS = 50_000
_BLOCK_SPAN_S = 2 * 3600  # simulated time one block covers
_LATE_SHARE = 0.1
_MAX_LATE_S = 3 * DAY_S


class CampaignEvents:
    """Deterministic block generator for one seed. Block ``i`` covers
    the simulated interval ``[t0 + i*2h, t0 + (i+1)*2h)``; a tenth of
    its events are stamped up to three days earlier (out of order)."""

    def __init__(self, seed: int, block_rows: int, stream: int = 0):
        self.rng = np.random.default_rng([seed, 2, stream])
        self.block_rows = block_rows
        self.t0 = _epoch_us("2024-03-01") // US
        self.blocks = 0
        self.day_level: Counter = Counter()  # (epoch day, level) -> rows
        self.day_rows: Counter = Counter()  # epoch day -> rows

    def next_block(self) -> tuple[list[str], set[int]]:
        """Return the block's JSON lines and the epoch days it touches,
        and add its rows to the expected counts."""
        rng, n = self.rng, self.block_rows
        lo = self.t0 + self.blocks * _BLOCK_SPAN_S
        ts = rng.integers(lo, lo + _BLOCK_SPAN_S, n)
        late = rng.random(n) < _LATE_SHARE
        ts[late] -= rng.integers(0, _MAX_LATE_S, int(late.sum()))
        level = rng.choice(len(CAMPAIGN_LEVELS), n, p=_LEVEL_P)
        campaign = np.minimum(rng.zipf(1.3, n), _CAMPAIGNS)
        user = np.minimum(rng.zipf(1.2, n), _USERS)
        lines = [
            json.dumps(
                {
                    "timestamp": int(t),
                    "level": CAMPAIGN_LEVELS[lv],
                    "message": f'{{"campaign_id": "cmp-{c:04d}", "user_id": {u}}}',
                }
            )
            for t, lv, c, u in zip(ts.tolist(), level.tolist(), campaign.tolist(), user.tolist())
        ]
        days = ts // DAY_S
        for d, lv in zip(days.tolist(), level.tolist()):
            self.day_level[(d, CAMPAIGN_LEVELS[lv])] += 1
        self.day_rows.update(days.tolist())
        self.blocks += 1
        return lines, set(days.tolist())
