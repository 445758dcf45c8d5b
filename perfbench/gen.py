"""Seeded input generator.

Writes ``events.parquet`` and ``documents.parquet`` in the exact schemas
and value domains of the driver's testdata tables, so every
``__spark_entry__.oracle_sql()`` twin applies to them on any seed, plus
the event bursts the push workload feeds one at a time.

- events: ``event_id`` 0..n-1 in time order; ``ts`` microsecond
  timestamps inside 2024-01-01 .. 2024-01-31 (UTC, naive); ``user_id``
  0..1499; five event types; ``value`` exponential with mean 50, two
  decimals; ``props`` ``{"k": n}`` with n in 0..99.  Times are uniform
  over the 30 days, so each user's events span about the whole month,
  as in the testdata: ``align`` fills about users x 30 days / 10 min
  rows.
- documents: ``doc_id`` 0..n-1; 10-100 words from a 30-word vocabulary;
  five languages (``en`` most common); 20 sources (``src{doc_id % 20}``);
  planted exact duplicates and ``" dup"``-suffixed near duplicates, as
  in the testdata; ``n_chars`` is the text length.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 1500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
MONTH_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86400 * 1_000_000
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002
PUSH_BURST = 10


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    ts = rng.integers(MONTH_START_US, MONTH_START_US + MONTH_US, n)
    user = rng.integers(0, N_USERS, n)
    # distinct timestamps, as in the testdata: equal-time ties would make
    # time-keyed merges and fills depend on engine row order
    ts, first = np.unique(ts, return_index=True)
    user = user[first]
    m = len(ts)
    return pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), m)]),
        "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, m)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < EXACT_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def push_bursts(rng: np.random.Generator, n_bursts: int) -> list[list[dict]]:
    """Event bursts for the push workload: event time advances 0-12 s per
    event, so a burst of ten spans about one 1-minute window."""
    n = n_bursts * PUSH_BURST
    t_ms = MONTH_START_US // 1000 + np.cumsum(rng.integers(0, 12_000, n))
    user = rng.integers(0, N_USERS, n)
    value = np.round(rng.exponential(50.0, n), 2)
    events = [{"time": int(t), "user_id": int(u), "value": float(v)}
              for t, u, v in zip(t_ms, user, value)]
    return [events[i:i + PUSH_BURST] for i in range(0, n, PUSH_BURST)]


def write_inputs(seed: int, out_dir: str, n_events: int, n_docs: int,
                 n_bursts: int) -> dict:
    """Write both tables under ``out_dir``; returns their row counts
    (``events``, ``documents``) and the push workload's ``bursts``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    events = events_table(rng, n_events)
    docs = documents_table(rng, n_docs)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return {"events": events.num_rows, "documents": docs.num_rows,
            "bursts": push_bursts(np.random.default_rng([seed, 1]),
                                  n_bursts)}
