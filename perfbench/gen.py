"""Seeded input generators, and the open-loop load generator process.

Every generator is a pure function of its seed and sizes: the benchmark
regenerates the same arrays for its reference checks that the program
received through the event store.  Documents for corpus_admission come
from ``scripts/gen_scale_fixtures.gen_documents`` with its measured
constants; see corpus.py.

Run as a script, ``python3 perfbench/gen.py feed ...`` is cdc_tail's
load generator: a separate process that publishes change events into a
rotating ``mysql-bin.%06d`` store through ``LiveBinlogIngestor`` on a
fixed schedule, whether or not the pipeline keeps up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa

OPS = ("insert", "update", "delete")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
T0 = 1_760_000_000  # event time of the first event, epoch seconds


def base_table(n_rows: int, seed: int) -> pa.Table:
    """The bootstrap snapshot: customer-shaped rows keyed 0..n_rows-1."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n_rows, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()], pa.string()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_rows).tolist()],
                                 pa.string()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_rows), 2),
    })


def tail_events(seed: int, base_rows: int, n: int) -> dict:
    """The change stream: 10% inserts of brand-new keys (so
    ``cdc_apply``'s insert path runs), 80% updates and 10% deletes on
    keys drawn uniformly from every key created so far."""
    rng = np.random.default_rng([seed, 2])
    ops = rng.choice(3, size=n, p=[0.1, 0.8, 0.1])
    new_so_far = np.cumsum(ops == 0) - (ops == 0)
    existing = np.floor(rng.random(n) * (base_rows + new_so_far)).astype(np.int64)
    return {
        "op": ops.astype(np.int8),
        "pk": np.where(ops == 0, base_rows + new_so_far, existing).astype(np.int64),
        "value": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }


def event_table(ev: dict) -> pa.Table:
    """The generated stream as the reference checks read it."""
    n = len(ev["op"])
    return pa.table({
        "eid": np.arange(n, dtype=np.int64),
        "pk": ev["pk"],
        "op": pa.array([OPS[o] for o in ev["op"].tolist()], pa.string()),
        "value": ev["value"],
    })


def publish(ingestor, ev: dict, lo: int, hi: int, per_s: int, rotate_every: int) -> None:
    """Hand events [lo, hi) to the ingestor as a binlog connector
    would: one row event each, a rotate event every ``rotate_every``
    events.  Event time advances one second per ``per_s`` events."""
    ops, pks, vals = ev["op"], ev["pk"], ev["value"]
    for i in range(lo, hi):
        if i and i % rotate_every == 0:
            ingestor.on_rotate(f"mysql-bin.{i // rotate_every + 1:06d}")
        ingestor.on_row_event(OPS[ops[i]], T0 + i // per_s, pks[i], vals[i], f'{{"k": {i}}}')


# ------------------------------------------------------------ load generator

GO_TIMEOUT_S = 150.0  # the benchmark starts the clock after its cold batch

def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def feed(args) -> None:
    """Open-loop feeder.  Publishes ``warmup`` events at once (the cold
    batch), signals ``ready``, waits for the ``go`` file (which holds
    the start time on the shared monotonic clock), then every
    ``flush_ms`` publishes the next ``rate * flush_ms / 1000`` events,
    rotating every ``rotate`` events.  Each flush is due at a fixed
    time; the log records its event range, due time, and when the
    publish started and ended, so freshness counts the wait a late
    publish imposes."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_binlog_spark.sources.live_client import LiveBinlogIngestor

    flush_s = args.flush_ms / 1000.0
    per_flush = int(round(args.rate * flush_s))
    n_flushes = int(round(args.seconds / flush_s))
    total = args.warmup + per_flush * n_flushes
    ev = tail_events(args.seed, args.base_rows, total)
    ev = {k: v.tolist() for k, v in ev.items()}
    ing = LiveBinlogIngestor(args.store)

    def emit(lo, hi):
        publish(ing, ev, lo, hi, args.rate, args.rotate)
        ing.flush()

    emit(0, args.warmup)
    _write_json(args.ready, {"warmup": args.warmup, "total": total})
    deadline = time.monotonic() + GO_TIMEOUT_S
    while not os.path.exists(args.go):
        if time.monotonic() > deadline:
            sys.exit("feeder: no go signal")
        time.sleep(0.002)
    with open(args.go) as fh:
        t_go = float(fh.read())
    log = []
    for k in range(n_flushes):
        due = t_go + (k + 1) * flush_s
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        lo = args.warmup + k * per_flush
        t_start = time.monotonic()
        emit(lo, lo + per_flush)
        log.append([lo, lo + per_flush, due, t_start, time.monotonic()])
    _write_json(args.log, {"t_go": t_go, "flushes": log, "total": total,
                           "segments": sorted(os.listdir(args.store))})


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="open-loop binlog feeder for cdc_tail")
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--store", required=True)
    f.add_argument("--rate", type=int, required=True, help="offered events/s")
    f.add_argument("--seconds", type=float, required=True)
    f.add_argument("--warmup", type=int, required=True)
    f.add_argument("--base-rows", type=int, required=True)
    f.add_argument("--flush-ms", type=int, required=True)
    f.add_argument("--rotate", type=int, required=True, help="events per binlog file")
    f.add_argument("--ready", required=True)
    f.add_argument("--go", required=True)
    f.add_argument("--log", required=True)
    args = p.parse_args(argv)
    feed(args)


if __name__ == "__main__":
    main()
