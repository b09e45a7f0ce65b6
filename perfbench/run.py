"""Benchmark of the streaming indexer and the nightly batch route, driven
through their public entry points as a user would drive them.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run is a fresh process that starts a
Spark session at ``local[<cores>]`` and measures from a cold start.

nightly_batch   closed loop. ``plans.indexer.build_indexer`` then
                ``plans.stats.build_stats`` over a seeded ``datagen``
                archive (default mix: Zipf 1.2, 2% exact and 2% near
                duplicates, out-of-order and late turns) of 1,000 turns
                per ``--seconds``, written before the job starts. The
                indexer tables must equal the package's DuckDB oracles over
                the same archive, row for row.
live_trickle    open loop. ``generator.py``, a separate process, writes a
                small parquet file every 0.5 s at 8 turns/s whatever the
                engine does; each turn's ``ts`` is its creation time.
                ``streaming.pipeline.run_indexer_stream`` runs with the CLI
                defaults (vote-rule soft dedupe on) and a 1 s watermark.
                The turns created in the first ``--seconds`` are measured;
                the generator runs on until the watermark has passed the
                last of them.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload with spans around the layers' public calls and a progress
listener, then calls each layer on its own over the run's input, and prints
the per-layer metrics (``tracing.py``). Every run checks the outputs
(``check.py``). Metric lines go to stdout, one per metric, and the last
line is the JSON result; everything else, Spark's logs included, goes to
stderr.

Inputs, the oracle reference, per-run files, untraced results and span
files live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "dataflow_opinion_analysis_spark")

# nightly_batch: archive size per --seconds, in this many files
NIGHTLY_TURNS_PER_S = 1000
NIGHTLY_FILES = 4

# live_trickle: fixed open-loop schedule. Out-of-order turns carry an event
# time OOO_SHIFT_S before their creation (at most the watermark delay plus
# one file period, so never late); late turns LATE_SHIFT_S before (always
# behind the watermark once it has started). At LIVE_RATE a micro-batch
# carries at most ~150 turns: MergeTable.merge's approx_count_distinct
# uniqueness guard refuses valid batches of a few hundred rows and more
# now and then (see NOTES.md), which would fail the stream.
LIVE_RATE = 8.0
LIVE_PERIOD_S = 0.5
LIVE_WATERMARK_S = 1
OOO_SHIFT_S = 1.0
LATE_SHIFT_S = 3600.0

QUERY_STARTS = 3
# driver heap (SPARK_DRIVER_MEMORY, and the same initial size): the inputs
# are a few thousand turns. A heap fixed from the start leaves the JVM no
# run-to-run choice of when to grow it, which kept peak RSS from varying
# by up to a fifth between runs of the same input.
DRIVER_MEMORY = "2g"
# input cap for the isolated per-layer calls of a traced run
ISOLATED_TURNS = 2000
# recorded with each untraced result, so a traced run compares only with
# untraced runs of the same benchmark settings
CONFIG = f"{NIGHTLY_TURNS_PER_S}/{NIGHTLY_FILES}/{LIVE_RATE}/{LIVE_PERIOD_S}/{LIVE_WATERMARK_S}"
RUN_DEADLINE_S = 165.0


def log(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr, flush=True)


def _process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _iso_epoch(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    i = min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))
    return xs[i]


# -- inputs (generated once per (workload, seed), outside timed regions) -----
def nightly_inputs(seed: int, seconds: int) -> dict:
    """The archive and its DuckDB oracle reference, made once per (seed,
    size) and cached."""
    from check import oracle_reference

    from dataflow_opinion_analysis_spark import datagen

    n = NIGHTLY_TURNS_PER_S * seconds
    d = os.path.join(WORK, "inputs", f"nightly_batch-s{seed}-n{n}x{NIGHTLY_FILES}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_transcripts_parquet(os.path.join(tmp, "archive"), n_convs=max(1, n // 10),
                                          avg_turns=10, seed=seed, n_files=NIGHTLY_FILES)
        oracle_reference(os.path.join(tmp, "archive"), os.path.join(tmp, "reference"))
        os.rename(tmp, d)
    return {"archive": os.path.join(d, "archive"), "reference": os.path.join(d, "reference")}


def live_plan(seed: int) -> str:
    """Turn plan for the generator: datagen turns in event order, one
    schedule slot each, with an event-time shift for the turns datagen made
    out of order (``OOO_SHIFT_S``) or late (``LATE_SHIFT_S``). Which turns
    those are comes from comparing datagen's output with the same seed's
    output without perturbation (datagen draws identical numbers)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataflow_opinion_analysis_spark import datagen

    path = os.path.join(WORK, "inputs", f"live_trickle-s{seed}-r{LIVE_RATE:g}"
                        f"-o{OOO_SHIFT_S:g}-l{LATE_SHIFT_S:g}.parquet")
    if os.path.exists(path):
        return path
    n_total = int(RUN_DEADLINE_S * LIVE_RATE)
    n_convs = int(n_total / 10 * 1.3) + 10
    mixed = datagen.generate_transcripts(n_convs=n_convs, avg_turns=10, seed=seed)
    clean = datagen.generate_transcripts(n_convs=n_convs, avg_turns=10, seed=seed,
                                         late_frac=0.0, out_of_order_frac=0.0)
    shift = (mixed["ts"] - clean["ts"]).dt.total_seconds().to_numpy()
    order = np.lexsort((mixed["turn_idx"].to_numpy(), mixed["conv_id"].to_numpy(),
                        clean["ts"].to_numpy()))[:n_total]
    ev_shift = np.where(shift <= -3600, LATE_SHIFT_S, np.where(shift < 0, OOO_SHIFT_S, 0.0))
    sel = mixed.iloc[order].reset_index(drop=True)
    sel["slot"] = np.arange(len(sel), dtype=np.int64)
    sel["shift_s"] = ev_shift[order]
    plan = pa.Table.from_pandas(sel.drop(columns=["ts"]), preserve_index=False).cast(pa.schema([
        pa.field("conv_id", pa.string()), pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()), pa.field("text", pa.string()),
        pa.field("tool", pa.string()), pa.field("slot", pa.int64()),
        pa.field("shift_s", pa.float64()),
    ]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(plan, path + ".tmp")
    os.rename(path + ".tmp", path)
    return path


# -- the runs ------------------------------------------------------------------
class Run:
    """One workload's stream settings, and the directory its queries use."""

    def __init__(self, args, spark, run_dir: str):
        self.spark = spark
        self.dir = run_dir
        self.tracer = self.collector = None
        # the CLI defaults, but for the watermark delay
        self.soft = True
        self.watermark = f"{LIVE_WATERMARK_S} seconds"

    def start(self, tag: str, input_dir: str):
        from dataflow_opinion_analysis_spark.streaming.pipeline import run_indexer_stream

        d = os.path.join(self.dir, tag)
        os.makedirs(input_dir, exist_ok=True)
        t = time.time()
        q, sinks = run_indexer_stream(
            self.spark, input_dir, os.path.join(d, "out"), os.path.join(d, "ckpt"),
            watermark=self.watermark, max_files_per_trigger=None,
            soft_dedupe_enabled=self.soft,
        )
        return q, sinks, time.time() - t

    def close(self, q, sinks):
        q.stop()
        if sinks.query_metrics is not None:
            self.spark.streams.removeListener(sinks.query_metrics)


def _passed(ts: float, watermark: float) -> bool:
    """Whether the watermark has passed an event time (epoch seconds). Both
    are whole milliseconds here, and a turn exactly at the watermark may
    still be held: the thread assembler wakes a conversation only once the
    watermark is past its earliest pending turn."""
    return round(ts * 1000) < round(watermark * 1000)


def wait_watermark(q, target: float, deadline: float) -> bool:
    """Wait until a finished micro-batch ran with an event-time watermark
    past ``target`` (epoch seconds): that batch emitted every turn the
    thread state held up to ``target``."""
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        for p in q.recentProgress:
            wm = _iso_epoch((p.get("eventTime") or {}).get("watermark"))
            if wm is not None and _passed(target, wm):
                return True
        time.sleep(0.1)
    return False


def query_starts(run: Run) -> list[float]:
    """Start and stop the query on empty inputs, to take the median of
    several query starts rather than one."""
    starts = []
    for i in range(QUERY_STARTS - 1):
        q, sinks, s = run.start(f"start{i}", os.path.join(run.dir, f"start{i}", "in"))
        run.close(q, sinks)
        starts.append(s)
    return starts


def input_opens(spark, path: str) -> list[float]:
    """Open the archive (file listing and schema) several times, for the
    median of the batch route's start."""
    times = []
    for _ in range(QUERY_STARTS):
        t = time.time()
        spark.read.parquet(path).schema
        times.append(time.time() - t)
    return times


def nightly(run: Run, inputs: dict) -> dict:
    """Closed loop: the batch indexer over the whole archive, then the
    stats chain; the job ends when the last stats table is materialized."""
    from dataflow_opinion_analysis_spark.plans import stats as stats_plan
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer

    spark, tr = run.spark, run.tracer
    span = tr.span if tr is not None else (lambda name: contextlib.nullcontext())
    t0 = time.time()
    with span("indexer.build_indexer"):
        out = build_indexer(spark.read.parquet(inputs["archive"]), persist=True)
    with span("stats.build_stats"):
        stats_plan.register_views(spark, out.document, out.sentiment, out.webresource)
        stats = stats_plan.build_stats(spark)
    return {"out": out, "stats": stats, "t0": t0, "t_end": time.time(),
            "in_dir": inputs["archive"]}


def _write_primer(in_dir: str, now: float) -> None:
    """Three turns of one conversation, in the input before the query
    starts: two created a minute ago and one now. The first micro-batch
    only feeds them to thread state, and its watermark (now less the delay)
    passes the two old ones, so the second micro-batch always runs the
    whole batch path on them, whatever the seed put in the first files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from generator import SCHEMA

    t = pa.table({
        "conv_id": ["conv-primer"] * 3, "turn_idx": pa.array([0, 1, 2], pa.int32()),
        "role": ["user", "assistant", "user"],
        "text": ["primer turn one", "primer turn two", "primer turn three"],
        "tool": pa.array([None] * 3, pa.string()),
        "ts": pa.array([round(t * 1e6) for t in (now - 60, now - 59, now)],
                       pa.timestamp("us", tz="UTC")),
    }).cast(SCHEMA)
    pq.write_table(t, os.path.join(in_dir, ".tmp-primer.parquet"))
    os.rename(os.path.join(in_dir, ".tmp-primer.parquet"), os.path.join(in_dir, "primer.parquet"))


def live(run: Run, plan_path: str, seconds: int, deadline: float) -> dict:
    """Open loop: the generator writes on its own schedule from the query
    start. The measured turns are those created in the first ``seconds``;
    the run ends once the watermark has passed the last of them."""
    in_dir = os.path.join(run.dir, "main", "in")
    os.makedirs(in_dir)
    _write_primer(in_dir, time.time())
    q, sinks, start_s = run.start("main", in_dir)
    t0 = math.ceil((time.time() + 0.2) * 1000) / 1000
    log_path = os.path.join(run.dir, "generator.jsonl")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), "--turns", plan_path,
         "--out", in_dir, "--log", log_path, "--t0", repr(t0), "--rate", str(LIVE_RATE),
         "--period", str(LIVE_PERIOD_S), "--max-seconds", str(deadline - t0)],
        stdout=sys.stderr, stderr=sys.stderr)
    n_measured = int(seconds * LIVE_RATE)
    try:
        done = wait_watermark(q, t0 + (n_measured - 1) / LIVE_RATE, deadline)
    finally:
        gen.send_signal(signal.SIGTERM)
        gen.wait(timeout=30)
    run.close(q, sinks)
    progress = q.recentProgress
    wm = {p["batchId"]: _iso_epoch((p.get("eventTime") or {}).get("watermark")) or 0.0
          for p in progress}
    # rows each batch's stateful operator dropped as behind the watermark
    # of the batch before it (the one Spark filters late rows by)
    dropped = {p["batchId"]: (sum(o.get("numRowsDroppedByWatermark", 0)
                                  for o in p.get("stateOperators") or []),
                              wm.get(p["batchId"] - 1, 0.0))
               for p in progress}
    return {"q": q, "sinks": sinks, "start_s": start_s, "t0": t0, "slots": (0, n_measured),
            "engine_dropped": dropped,
            "log": log_path, "in_dir": in_dir, "ckpt": os.path.join(run.dir, "main", "ckpt"),
            "timed_out": not done,
            # micro-batches that finished, and the last watermark one ran under
            "completed": {p["batchId"] for p in progress},
            "final_watermark": max((_iso_epoch((p.get("eventTime") or {}).get("watermark")) or 0.0
                                    for p in progress), default=0.0)}


def _turn_ids(t) -> list[str]:
    return [f"{c}:{i}" for c, i in zip(t.column("conv_id").to_pylist(),
                                       t.column("turn_idx").to_pylist())]


def measure_nightly(res: dict, inputs: dict) -> tuple[dict, dict]:
    """Throughput over the job's wall time; every turn becomes visible when
    the job ends, so the latency percentiles equal that wall time. The
    indexer tables are checked against the oracle reference."""
    import pyarrow.parquet as pq

    from check import check_batch, oracle_projection

    turns = set(_turn_ids(pq.read_table(inputs["archive"], columns=["conv_id", "turn_idx"])))
    tables = {}
    for name in ("webresource", "document", "sentiment"):
        cols = pq.read_schema(os.path.join(inputs["reference"], f"{name}.parquet")).names
        tables[name] = oracle_projection(getattr(res["out"], name), cols).toPandas()
    chk = check_batch(tables, inputs["reference"], turns)
    chk["stats_rows"] = {k: df.count() for k, df in res["stats"].items()}
    wall = res["t_end"] - res["t0"]
    e2e = {"throughput_turns_per_s": len(turns) / wall, "latency_p50_s": wall,
           "latency_p99_s": wall, "latency_samples": len(turns)}
    return e2e, chk


def measure_live(res: dict, plan_path: str) -> tuple[dict, dict, dict]:
    """Latency and throughput over the measured turns; the output check over
    every turn whose outcome the run decided: read by a micro-batch that
    finished, and either behind the last watermark or late on arrival."""
    import pyarrow.parquet as pq

    from check import batch_visible_ts, check_outputs, ingest_batches

    plan = pq.read_table(plan_path, columns=["conv_id", "turn_idx", "slot", "shift_s"])
    ids = _turn_ids(plan)
    slot = plan.column("slot").to_pylist()
    shift = plan.column("shift_s").to_pylist()
    # event time == creation time, except for the turns the plan shifts
    ts = {t: res["t0"] + slot[i] / LIVE_RATE - shift[i] for i, t in enumerate(ids)}
    late = {t for i, t in enumerate(ids) if shift[i] >= LATE_SHIFT_S}
    lo, hi = res["slots"]
    measured = {t for i, t in enumerate(ids) if lo <= slot[i] < hi}

    files, turn_file = {}, {}
    with open(res["log"]) as f:
        gen_log = [json.loads(line) for line in f]
    for rec in gen_log:
        if rec["file"]:
            files[rec["file"]] = (rec["written"], rec["due"])
            for t in _turn_ids(pq.read_table(os.path.join(res["in_dir"], rec["file"]),
                                             columns=["conv_id", "turn_idx"])):
                turn_file[t] = rec["file"]
    read_in = ingest_batches(res["ckpt"])
    ingested_in = {t: read_in.get(f) for t, f in turn_file.items()}
    decided = {t for t, b in ingested_in.items()
               if b in res["completed"] and _passed(ts[t], res["final_watermark"])}
    chk = check_outputs(res["sinks"], decided | measured, ingested_in,
                        event_ts=ts, engine_dropped=res["engine_dropped"])
    if res["timed_out"]:
        chk["failed"] |= {t for t in measured if t not in chk["batches"]}
    for t in sorted(chk["failed"])[:20]:
        log(f"wrong turn {t}: read by micro-batch {ingested_in.get(t)}, event time "
            f"t0{ts[t] - res['t0']:+.3f}s, committed by {chk['batches'].get(t, [])}")
    log(f"engine drops (micro-batch: rows, late-row watermark - t0) "
        f"{ {b: (n, round(w - res['t0'], 3)) for b, (n, w) in res['engine_dropped'].items()} }")

    visible = batch_visible_ts(res["sinks"])
    lat, last = [], res["t0"] + lo / LIVE_RATE
    for t in measured - late:
        bs = chk["batches"].get(t, ())
        if len(bs) == 1:
            v = visible[bs[0]]
            lat.append(v - ts[t] - LIVE_WATERMARK_S)
            last = max(last, v)
    e2e = {"throughput_turns_per_s": len(lat) / (last - res["t0"] - lo / LIVE_RATE),
           "latency_p50_s": statistics.median(lat), "latency_p99_s": _quantile(lat, 0.99),
           "latency_samples": len(lat)}
    ingest = {"files": files, "turn_file": turn_file,
              "generator_late": [r["written"] - r["due"] for r in gen_log]}
    return e2e, chk, ingest


# -- per-layer metrics of a traced run ---------------------------------------------
def layer_metrics(run: Run, res: dict, chk: dict, ingest: dict) -> dict:
    """Per-layer numbers of the traced stream, from its spans, the progress
    listener, the checkpoint's offset log and the generator's log."""
    from check import ingest_batches
    from tracing import median

    tr, rows = run.tracer, [r for r in run.collector.rows if r["id"] == str(res["q"].id)]
    m: dict[str, float] = {}
    pb = tr.named("pipeline.process_batch")
    full = [s for s in pb if s["attrs"].get("n_input", 0) > 0]
    empty = [s for s in pb if s["attrs"].get("n_input", 0) == 0]
    m["pipeline.batch_s_p50"] = median(s["end"] - s["start"] for s in full)
    m["pipeline.batch_s_max"] = max((s["end"] - s["start"] for s in full), default=0.0)
    m["pipeline.empty_batch_s_p50"] = median(s["end"] - s["start"] for s in empty)
    m["pipeline.batches"] = len(pb)
    m["pipeline.turns_per_batch_p50"] = median(s["attrs"]["n_input"] for s in full)
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("latestOffset", "latest_offset_ms"), ("walCommit", "wal_commit_ms")):
        m[f"pipeline.trigger.{name}"] = median(r["duration_ms"].get(key, 0) for r in rows)
    starts = {r["batch_id"]: _iso_epoch(r["timestamp"]) for r in rows}
    idle = 0.0
    ordered = sorted(rows, key=lambda r: r["batch_id"])
    for a, b in zip(ordered, ordered[1:]):
        end_a = starts[a["batch_id"]] + a["duration_ms"].get("triggerExecution", 0) / 1000.0
        idle += max(0.0, starts[b["batch_id"]] - end_a)
    m["pipeline.idle_s"] = idle

    m["threads.state_update_ms"] = median(r["state_update_ms"] for r in rows)
    m["threads.state_commit_ms"] = median(r["state_commit_ms"] for r in rows)
    m["threads.state_rows_max"] = max((r["state_rows"] for r in rows), default=0)
    m["threads.state_bytes_max"] = max((r["state_bytes"] for r in rows), default=0)
    m["threads.dropped_by_watermark"] = sum(r["dropped_by_watermark"] for r in rows)
    m["threads.late_turns"] = chk["late_total"]
    m["threads.overflow_turns"] = chk["overflow_total"]

    ingested = ingest_batches(res["ckpt"])
    waits, holds = [], []
    for f, (written, _due) in ingest["files"].items():
        b = ingested.get(f)
        if b is not None and b in starts:
            waits.append(starts[b] - written)
    for t, f in ingest["turn_file"].items():
        b_in, bs = ingested.get(f), chk["batches"].get(t, ())
        if b_in in starts and len(bs) == 1 and bs[0] in starts:
            holds.append(starts[bs[0]] - starts[b_in])
    m["sources.queue_wait_s_p50"] = median(waits)
    m["sources.queue_wait_s_p99"] = _quantile(waits, 0.99) if waits else 0.0
    m["threads.watermark_hold_s_p50"] = median(holds)
    per_file = {}
    for f in ingest["turn_file"].values():
        per_file[f] = per_file.get(f, 0) + 1
    backlog = []
    for b in sorted(starts):
        written = sum(n for f, n in per_file.items() if ingest["files"][f][0] <= starts[b])
        read = sum(n for f, n in per_file.items() if ingested.get(f, 1 << 62) < b)
        backlog.append(written - read)
    m["sources.backlog_turns_max"] = max(backlog, default=0)
    m["sources.backlog_turns_end"] = backlog[-1] if backlog else 0
    # how far the generator fell behind its schedule
    m["sources.generator_late_s_max"] = max(ingest["generator_late"], default=0.0)

    m["mergetable.content_index_files_end"] = len(
        res["sinks"].content_index.current_snapshot()["files"])
    return m


# the stream's own layer numbers; the batch route has no micro-batches,
# generator, source queue or thread state, so they read 0 on nightly_batch
STREAM_LAYER_METRICS = (
    "pipeline.batch_s_p50", "pipeline.batch_s_max", "pipeline.empty_batch_s_p50",
    "pipeline.batches", "pipeline.turns_per_batch_p50", "pipeline.trigger.add_batch_ms",
    "pipeline.trigger.query_planning_ms", "pipeline.trigger.latest_offset_ms",
    "pipeline.trigger.wal_commit_ms", "pipeline.idle_s",
    "threads.state_update_ms", "threads.state_commit_ms", "threads.state_rows_max",
    "threads.state_bytes_max", "threads.dropped_by_watermark", "threads.late_turns",
    "threads.overflow_turns", "threads.watermark_hold_s_p50",
    "sources.queue_wait_s_p50", "sources.queue_wait_s_p99", "sources.backlog_turns_max",
    "sources.backlog_turns_end", "sources.generator_late_s_max",
    "mergetable.content_index_files_end",
)


def nightly_layer_metrics(run: Run) -> dict:
    """Per-layer numbers of the traced batch job: the indexer and the stats
    chain from the job's own spans; the stream's numbers are 0."""
    m = {k: 0.0 for k in STREAM_LAYER_METRICS}
    for name, span in (("indexer.build_s", "indexer.build_indexer"),
                       ("stats.chain_s", "stats.build_stats")):
        m[name] = sum(s["end"] - s["start"] for s in run.tracer.named(span))
    return m


def finish_layers(run: Run, m: dict) -> None:
    """Sink-layer totals over every span of the run: the stream's merges
    plus the isolated fingerprint-store merge and content-index compaction."""
    tr = run.tracer
    merges = tr.named("mergetable.merge.")
    for name in ("webresource", "document", "sentiment", "content_index", "fingerprints"):
        m[f"mergetable.merge_s.{name}"] = sum(
            s["end"] - s["start"] for s in merges if s["name"] == f"mergetable.merge.{name}")
    m["mergetable.merge_calls"] = len(merges)
    for k in ("rows", "files", "bytes"):
        m[f"mergetable.{k}_written"] = sum(s["attrs"].get(k, 0) for s in merges)
    m["mergetable.commit_conflicts"] = tr.commit_conflicts
    compacts = run.tracer.named("mergetable.compact.")
    m["mergetable.compactions"] = sum(1 for s in compacts if s["attrs"].get("folded", 0) > 0)
    m["mergetable.compact_s"] = sum(s["end"] - s["start"] for s in compacts)


def _primary_time(workload: str, e2e: dict) -> float:
    """The end-to-end number tracing overhead is judged on, as a time."""
    if workload == "nightly_batch":
        return 1.0 / e2e["throughput_turns_per_s"]
    return e2e["latency_p50_s"]


def _trace_overhead(args, e2e: dict, run: Run, pass_s: float) -> float:
    """Traced against untraced end-to-end: this run's primary number over
    the median of the untraced runs of the same workload, run length and
    master recorded in this checkout (same seed if any). Without such a record,
    the traced pass's own bookkeeping time (wrapper work outside the wrapped
    calls plus listener callbacks) over its wall time."""
    path = os.path.join(WORK, "results.jsonl")
    same, any_seed = [], []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if (r["workload"], r["seconds"], r.get("config"), r.get("master")) == (
                        args.workload, args.seconds, CONFIG, args.master):
                    v = _primary_time(args.workload, r["metrics"])
                    any_seed.append(v)
                    if r["seed"] == args.seed:
                        same.append(v)
    ref = same or any_seed
    if ref:
        log(f"trace overhead against {len(ref)} untraced run(s)")
        return _primary_time(args.workload, e2e) / statistics.median(ref) - 1.0
    log("trace overhead from the traced pass's own bookkeeping (no untraced run recorded)")
    return (run.tracer.bookkeeping_s + run.collector.callback_s) / pass_s


# -- main -------------------------------------------------------------------------
def main() -> int:
    t_proc = _process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["nightly_batch", "live_trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default=None,
                    help="Spark master; default local[<cores this process may use>]")
    ap.add_argument("--prepare-only", action="store_true",
                    help="make and cache the workload's inputs, then exit")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"benchmark: package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("benchmark: --seconds must be at least 1", file=sys.stderr)
        return 2

    # stdout carries only metric lines: everything else written to fd 1
    # (this process, the JVM and every child) goes to stderr
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    t_prep = time.time()
    if not args.prepare_only:
        # inputs are made (or found cached) by a child process, so neither
        # datagen nor the oracle counts in this process's peak memory
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare-only",
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds)], check=True, stdout=sys.stderr)
    if args.workload == "nightly_batch":
        inputs = nightly_inputs(args.seed, args.seconds)
    else:
        plan_path = live_plan(args.seed)
    if args.prepare_only:
        return 0
    prep_s = time.time() - t_prep
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)

    from unittest import mock

    from dataflow_opinion_analysis_spark.session import get_spark

    # get_spark makes /dev/shm/spark-local for Spark's local directories
    # when /dev/shm exists; this run keeps them inside the checkout
    # (spark.local.dir below), so the session is shown no /dev/shm
    isdir = os.path.isdir
    with mock.patch("os.path.isdir", lambda p: p != "/dev/shm" and isdir(p)):
        spark = get_spark(
            app_name="perfbench", master=args.master or f"local[{cpus}]",
            extra_conf={
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                # no hsperfdata file in the system temp directory
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
    session_s = time.time() - t_proc - prep_s
    log(f"prep {prep_s:.2f}s session {session_s:.2f}s")
    gateway = spark.sparkContext._gateway
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    deadline = t_proc + RUN_DEADLINE_S

    try:
        run = Run(args, spark, run_dir)
        starts = (input_opens(spark, inputs["archive"]) if args.workload == "nightly_batch"
                  else query_starts(run))
        if args.trace:
            from tracing import ProgressCollector, Tracer

            run.tracer, run.collector = Tracer(), ProgressCollector()
            spark.streams.addListener(run.collector)
            run.tracer.install()
        t = time.time()
        try:
            if args.workload == "nightly_batch":
                res = nightly(run, inputs)
            else:
                res = live(run, plan_path, args.seconds, deadline)
        finally:
            if args.trace:
                run.tracer.uninstall()
        pass_s = time.time() - t
        log(f"measured pass {pass_s:.2f}s")
        # before the output check, whose reads would count against the system
        rss = (_rss_peak_mb(jvm_pid), _rss_peak_mb(os.getpid()))
        peak_rss_mb = sum(rss)
        log("peak RSS MB (JVM, Python) %.0f %.0f" % rss)
        t = time.time()
        if args.workload == "nightly_batch":
            e2e, chk = measure_nightly(res, inputs)
        else:
            log("micro-batches (id, input rows, s) %s" % [
                (p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000)
                for p in res["q"].recentProgress])
            e2e, chk, ingest = measure_live(res, plan_path)
            starts.append(res["start_s"])
        log(f"check {time.time() - t:.2f}s")
        e2e["setup_s"] = session_s + statistics.median(starts)
        e2e["peak_rss_mb"] = peak_rss_mb

        layers = None
        if args.trace:
            import pyarrow.parquet as pq

            from tracing import isolated_layers

            layers = (nightly_layer_metrics(run) if args.workload == "nightly_batch"
                      else layer_metrics(run, res, chk, ingest))
            layers["trace.overhead_frac"] = _trace_overhead(args, e2e, run, pass_s)
            t = time.time()
            iso_dir = os.path.join(run.dir, "isolated")
            iso_in = os.path.join(iso_dir, "input")
            os.makedirs(iso_in)
            # the isolated calls read at most ISOLATED_TURNS turns' worth of files
            n = 0
            for name in sorted(os.listdir(res["in_dir"])):
                if name.endswith(".parquet") and n < ISOLATED_TURNS:
                    shutil.copyfile(os.path.join(res["in_dir"], name), os.path.join(iso_in, name))
                    n += pq.ParquetFile(os.path.join(iso_in, name)).metadata.num_rows
            run.tracer.install()
            try:
                if "sinks" in res:
                    res["sinks"].content_index.compact_small_files(min_files=2)
                iso = isolated_layers(spark, run.tracer, iso_in, watermark=run.watermark,
                                      soft_dedupe_enabled=run.soft, work_dir=iso_dir)
            finally:
                run.tracer.uninstall()
            # nightly_batch times the batch route in its own job already
            layers.update({k: v for k, v in iso.items() if k not in layers})
            finish_layers(run, layers)
            log(f"isolated layers {time.time() - t:.2f}s")
            span_path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
            run.tracer.write(span_path)
            log(f"spans written to {span_path}")
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"total {time.time() - t_proc:.2f}s")

    n_turns = chk["attempted"]
    failed = len(chk["failed"])
    log("check " + json.dumps({k: v for k, v in chk.items() if k not in ("failed", "batches")}))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        with open(os.path.join(WORK, "results.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "seconds": args.seconds, "config": CONFIG,
                                "master": args.master, "metrics": e2e}) + "\n")
    else:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    for k, u in units.items():
        extra = f" samples={e2e['latency_samples']}" if k.startswith("latency") else ""
        out.write(f"{k} {e2e[k]:.6g} {u}{extra}\n")
    out.write(f"failed_frac {failed / n_turns:.6g} frac attempted={n_turns} failed={failed}\n")
    out.write(json.dumps({"correct": failed == 0, "attempted": n_turns, "failed": failed,
                          "metrics": metrics}) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
