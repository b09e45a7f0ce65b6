"""Open-loop turn generator for the ``live_trickle`` workload.

Runs as its own process. Every ``--period`` seconds, on a fixed schedule
that never waits for the engine, it writes one parquet file holding the
turns created since the previous file. Turn ``slot`` is created at
``t0 + slot / rate`` and stamped with that time as ``ts``, less its
``shift_s``: zero for on-time turns, a little for out-of-order turns and
an hour for late ones, whose event time lies far behind the stream's. Files
are written to a hidden temp name and renamed into the watched directory,
so the file source never sees a partial file. Each file's due time and
actual write time go to a JSONL log, one line per file.

The process ends on SIGTERM (after the file in progress) or once
``--max-seconds`` have passed since ``t0``.

    python3 perfbench/generator.py --turns plan.parquet --out in/ \
        --log gen.jsonl --t0 1700000000.0 --rate 100 --period 0.5
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", required=True, help="turn plan parquet (slot, shift_s, turn columns)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--max-seconds", type=float, default=120.0)
    args = ap.parse_args()

    stop = False

    def _on_term(signum, frame):
        nonlocal stop
        stop = True

    signal.signal(signal.SIGTERM, _on_term)

    plan = pq.read_table(args.turns)
    slot = plan["slot"].to_numpy()
    created = args.t0 + slot / args.rate
    ts_us = np.round((created - plan["shift_s"].to_numpy()) * 1e6).astype(np.int64)
    turns = pa.table(
        {
            "conv_id": plan["conv_id"],
            "turn_idx": plan["turn_idx"],
            "role": plan["role"],
            "text": plan["text"],
            "tool": plan["tool"],
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        }
    ).cast(SCHEMA)

    os.makedirs(args.out, exist_ok=True)
    lo = 0
    tick = 0
    with open(args.log, "a") as log:
        while not stop:
            tick += 1
            due = args.t0 + tick * args.period
            if due > args.t0 + args.max_seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if stop:
                break
            hi = int(np.searchsorted(created, due, side="right"))
            chunk = turns.slice(lo, hi - lo)
            name = f"gen-{tick:06d}.parquet"
            if chunk.num_rows:
                tmp = os.path.join(args.out, f".tmp-{name}")
                pq.write_table(chunk, tmp)
                os.rename(tmp, os.path.join(args.out, name))
            written = time.time()
            log.write(json.dumps({
                "file": name if chunk.num_rows else None, "tick": tick,
                "due": due, "written": written, "n": int(chunk.num_rows),
            }) + "\n")
            log.flush()
            lo = hi
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
