"""Benchmark inputs: the ingest day slices and the per-pass op orders.

The tables themselves are fixed: `perfbench/fixture` holds a copy of the
project's sf0.01 test tables (the ones its DuckDB oracle check runs on).
`--seed` only sets the op order of each pass and, for `ingest`, which day
each document lands on.
"""
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DAYS = 30
EVENT_EPOCH = datetime(2024, 1, 1)


def day_of_docs(seed, n_docs, n_days=N_DAYS):
    """The day each document lands on; a pure function of `seed`."""
    rng = random.Random(f"days-{seed}")
    return [rng.randrange(n_days) for _ in range(n_docs)]


def write_day_slices(seed, fixture_dir, outdir, n_days=N_DAYS):
    """Slice documents (by seed) and events (by their own `ts`) into one
    parquet file per day: `outdir/docs/day=NN.parquet` in the stream's
    input schema and `outdir/events/day=NN.parquet`."""
    docs = pq.read_table(f"{fixture_dir}/documents.parquet")
    events = pq.read_table(f"{fixture_dir}/events.parquet")
    doc_day = np.array(day_of_docs(seed, docs.num_rows, n_days))
    ev_day = ((events.column("ts").to_numpy() - np.datetime64(EVENT_EPOCH, "us"))
              // np.timedelta64(1, "D")).astype(np.int64)
    os.makedirs(f"{outdir}/docs", exist_ok=True)
    os.makedirs(f"{outdir}/events", exist_ok=True)
    for d in range(n_days):
        idx = np.flatnonzero(doc_day == d)
        day_docs = docs.take(idx)
        ingest_ts = np.datetime64(EVENT_EPOCH + timedelta(days=d), "us") + \
            (idx * 7919 % 86_400).astype("timedelta64[s]")
        pq.write_table(pa.table({
            "doc_id": day_docs.column("doc_id"),
            "ingest_ts": pa.array(ingest_ts, pa.timestamp("us", tz="UTC")),
            "text": day_docs.column("text"),
            "lang": day_docs.column("lang"),
            "source": day_docs.column("source"),
        }), f"{outdir}/docs/day={d:02d}.parquet")
        pq.write_table(events.take(np.flatnonzero(ev_day == d)),
                       f"{outdir}/events/day={d:02d}.parquet")


def _shuffled(rng, xs):
    xs = sorted(xs)
    rng.shuffle(xs)
    return xs


def pass_orders(seed, ops, n_passes):
    """`n_passes` independent shuffles of `ops`: every op once per pass,
    in a fresh order (block design)."""
    rng = random.Random(f"order-{seed}")
    ops = sorted(ops)
    return [_shuffled(rng, ops) for _ in range(n_passes)]


def ingest_orders(seed, kinds, days, n_cycles):
    """One pass per day of `days`, the cycle repeated `n_cycles` times. A
    day runs its writes (the stream trigger and the appends) in a fresh
    order, then, on the cycle's last day, the compactions, then the reads.
    `kinds` maps op name to kind. Returns (day, ops) pairs."""
    rng = random.Random(f"order-{seed}")
    of = lambda *ks: [n for n, k in kinds.items() if k in ks]
    days = list(days)
    plan = []
    for _ in range(n_cycles):
        for d in days:
            ops = _shuffled(rng, of("trigger", "append"))
            if d == days[-1]:
                ops += _shuffled(rng, of("compact"))
            plan.append((d, ops + _shuffled(rng, of("read"))))
    return plan
