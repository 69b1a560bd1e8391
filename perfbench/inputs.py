"""Seeded inputs: the DNS events table and each workload's op list.

The seed draws only inputs. The traffic shape of each workload (window
lengths, exclusion cadence, client skew, write share) is fixed here and
recorded in BENCHMARK.json, so runs with different seeds do the same
kind and amount of work on different data and parameters.

Where each shape parameter comes from:

- Events: span, client and domain counts, and every column's marginal
  distribution follow those measured on the repo's sf0.1 `events`
  fixture (TESTDATA.md): 30 days from 2024-01-01, 1,500 clients, 100
  `{"k": N}` domains and 5 event types, all uniform, and `value`
  exponential with mean 50. Only the row count is smaller, 20k rather
  than 100k, so that a run fits its time budget.
- Reload windows: 1 to 30 days. The upper end is the reference
  dashboard's default window, its `--days` default of 31 (BASELINE.md),
  which covers the whole 30-day span. Each length is uniform over that
  range; that distribution is unverified, as the reference publishes no
  usage data. Reloads come in pairs of d and 31 - d days, so that every
  pair reads about one span's worth of days and the seed moves the
  run's mean window length very little.
- Exclusions: on every other reload, one or two patterns. Unverified.
- Callback clients: Zipf with exponent 1.2 over a seeded ranking.
  Unverified; the fixture's clients are uniform, so the skew models
  which clients a user looks at, not the data.
- Writes: one serve op in ten is a day upsert.
- Callback kinds alternate, so that every cycle has the same mix and
  the seed draws only clients and upsert days.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_START = dt.date(2024, 1, 1)
SPAN_DAYS = 30
N_CLIENTS = 1500
N_DOMAINS = 100
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
N_EVENTS = 20_000

# Reloads come in cycles of two: a window of d days with exclusion
# patterns, then one of 31 - d days without. Runs measure whole cycles.
RELOAD_CYCLE = 2
VALUE_MEAN = 50.0
# Callback clients follow a Zipf law over a seeded client ranking.
ZIPF_S = 1.2
# Every WRITE_EVERY-th serve op is an upsert replay of one day. Serve
# runs stop after any op, not after whole cycles: callback latency still
# falls slowly as a run goes on, so a step of a whole cycle in the number
# of ops measured would move the median by a step too.
WRITE_EVERY = 10
CALLBACKS = ("timeseries", "activity")
N_OPS = 600


def events_table(seed: int, n: int) -> pa.Table:
    """`n` events spread uniformly over the span, in the column layout
    and with the marginal distributions of the sf0.1 `events` table."""
    rng = np.random.default_rng(seed)
    lo = np.datetime64(SPAN_START.isoformat(), "us").astype(np.int64)
    hi = lo + SPAN_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(lo, hi, n)).astype("datetime64[us]")
    domains = rng.integers(0, N_DOMAINS, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_CLIENTS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in domains]),
        }
    )


def write_events(seed: int, n: int, sf_dir: str) -> None:
    pq.write_table(events_table(seed, n), f"{sf_dir}/events.parquet")


def _exclusions(rng: np.random.Generator) -> list[str]:
    """One or two patterns over the real `{"k": N}` domain strings: a
    single domain, or a block of ten."""
    out = []
    for _ in range(rng.integers(1, 3)):
        if rng.random() < 0.5:
            out.append(f'"k": {rng.integers(0, N_DOMAINS)}}}')
        else:
            out.append(f'"k": {rng.integers(1, 10)}[0-9]}}')
    return out


def reload_ops(seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, 1])
    ops = []
    for i in range(N_OPS):
        first = i % RELOAD_CYCLE == 0
        days = int(rng.integers(1, SPAN_DAYS + 1)) if first else SPAN_DAYS + 1 - days
        start = SPAN_START + dt.timedelta(days=int(rng.integers(0, SPAN_DAYS - days + 1)))
        end = start + dt.timedelta(days=days - 1)
        ops.append(
            {
                "kind": "reload",
                "start_date": start.isoformat(),
                "end_date": end.isoformat(),
                "exclude_patterns": _exclusions(rng) if first else [],
            }
        )
    return ops


def serve_ops(seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, 2])
    ranking = rng.permutation(N_CLIENTS)
    weights = 1.0 / np.arange(1, N_CLIENTS + 1) ** ZIPF_S
    clients = ranking[rng.choice(N_CLIENTS, N_OPS, p=weights / weights.sum())]
    ops = []
    for i in range(N_OPS):
        if i % WRITE_EVERY == WRITE_EVERY - 1:
            day = SPAN_START + dt.timedelta(days=int(rng.integers(0, SPAN_DAYS)))
            ops.append({"kind": "upsert", "day": day.isoformat()})
        else:
            ops.append({"kind": CALLBACKS[i % 2], "client": str(clients[i])})
    return ops


OPS = {
    "dashboard_reload": reload_ops,
    "rollup_serve": serve_ops,
}
