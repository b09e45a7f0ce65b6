"""Spans around the indexer's public calls, recorded from outside the
program, plus a progress collector and the isolated per-layer calls.

Nothing in the package is edited: ``Tracer.install`` rebinds the public
names the streaming pipeline looks up at call time
(``pipeline.process_batch``, ``dedupe_state.fingerprint_dedupe_batch`` and
the ``MergeTable`` methods) to wrappers that record a span and call the
original, and ``uninstall`` puts the originals back.

A span is ``{id, name, start, end, parent, batch_id, attrs}``; spans live in
memory and are written out once, when the run ends. ``batch_id`` (the
micro-batch id) is the identifier spans of one batch share. Spans opened
in a merge thread have no enclosing span on their own thread, so their
parent is the ``process_batch`` span running at the time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _dirs, names in os.walk(path):
        for nm in names:
            total += os.path.getsize(os.path.join(d, nm))
    return total


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._batch_span: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        self.commit_conflicts = 0
        # time the wrappers spend on their own bookkeeping (not in the call)
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, batch_id=None, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._batch_span
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": parent, "batch_id": batch_id, "attrs": attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    # -- wrappers around the program's public calls -------------------------
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from dataflow_opinion_analysis_spark.streaming import dedupe_state, pipeline
        from dataflow_opinion_analysis_spark.tables.mergetable import (
            ConcurrentCommitError,
            MergeTable,
        )

        tracer = self

        def wrap_process_batch(orig):
            def process_batch(assembled, batch_id, *a, **kw):
                with tracer.span("pipeline.process_batch", batch_id=int(batch_id)) as rec:
                    tracer._batch_span = rec["id"]
                    try:
                        out = orig(assembled, batch_id, *a, **kw)
                    finally:
                        tracer._batch_span = None
                    rec["attrs"]["n_input"] = int(out["n_input"])
                    return out
            return process_batch

        def wrap_merge(orig):
            def merge(table, batch, batch_id, *a, **kw):
                name = os.path.basename(table.path)
                with tracer.span(f"mergetable.merge.{name}", batch_id=int(batch_id)) as rec:
                    try:
                        n = orig(table, batch, batch_id, *a, **kw)
                    except ConcurrentCommitError:
                        tracer.commit_conflicts += 1
                        raise
                    t = time.time()
                    entry = table.current_snapshot().get("lineage_entry") or {}
                    files = entry.get("files", []) if entry.get("batch_id") == batch_id and n else []
                    rec["attrs"].update(rows=int(n), files=len(files),
                                        bytes=sum(_tree_bytes(f) for f in files))
                    tracer.bookkeeping_s += time.time() - t
                    return n
            return merge

        def wrap_record_empty(orig):
            def record_empty(table, batch_id):
                name = os.path.basename(table.path)
                with tracer.span(f"mergetable.record_empty.{name}", batch_id=int(batch_id)):
                    return orig(table, batch_id)
            return record_empty

        def wrap_compact(orig):
            def compact_small_files(table, **kw):
                name = os.path.basename(table.path)
                with tracer.span(f"mergetable.compact.{name}") as rec:
                    folded = orig(table, **kw)
                    rec["attrs"]["folded"] = int(folded)
                    return folded
            return compact_small_files

        def wrap_fingerprint(orig):
            def fingerprint_dedupe_batch(winners, store, batch_id):
                with tracer.span("dedupe_state.fingerprint_dedupe_batch", batch_id=int(batch_id)):
                    return orig(winners, store, batch_id)
            return fingerprint_dedupe_batch

        self._patch(pipeline, "process_batch", wrap_process_batch)
        self._patch(dedupe_state, "fingerprint_dedupe_batch", wrap_fingerprint)
        self._patch(MergeTable, "merge", wrap_merge)
        self._patch(MergeTable, "record_empty", wrap_record_empty)
        self._patch(MergeTable, "compact_small_files", wrap_compact)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- queries over the recorded spans -------------------------------------
    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix) and s["end"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of the interval its child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"] and c["end"])
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, span["start"]), min(hi, span["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s)
                rec["self_s"] = self.self_time(s) if s["end"] else None
                f.write(json.dumps(rec, default=str) + "\n")


class ProgressCollector(StreamingQueryListener):
    """Keeps every progress event's trigger durations and state-operator
    numbers (the engine's own per-batch accounting)."""

    def __init__(self):
        self.rows: list[dict] = []
        self.callback_s = 0.0

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        t = time.time()
        p = event.progress
        ops = p.stateOperators or []
        self.rows.append({
            "id": str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "watermark": (p.eventTime or {}).get("watermark"),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
        })
        self.callback_s += time.time() - t

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def isolated_layers(spark, tracer: Tracer, input_path: str, *, watermark: str,
                    soft_dedupe_enabled: bool, work_dir: str) -> dict:
    """Time each layer's public call on its own, over an input cached
    beforehand. Lazily-planned layers are materialized with the ``noop``
    sink, so no layer pays for a write it would not do in the pipeline.
    Counts are taken outside the timed calls."""
    from pyspark.sql import functions as F

    from dataflow_opinion_analysis_spark.functions import scorer
    from dataflow_opinion_analysis_spark.operators import dedupe, fanout, ingest
    from dataflow_opinion_analysis_spark.plans import stats as stats_plan
    from dataflow_opinion_analysis_spark.plans.indexer import build_indexer
    from dataflow_opinion_analysis_spark.sources.transcripts import (
        read_transcripts,
        read_transcripts_stream,
    )
    from dataflow_opinion_analysis_spark.streaming import dedupe_state
    from dataflow_opinion_analysis_spark.streaming.threads import assemble_threads
    from dataflow_opinion_analysis_spark.tables.mergetable import MergeTable

    m: dict[str, float] = {}
    persisted = []

    def cache(df):
        df = df.persist()
        persisted.append(df)
        return df, df.count()

    def timed(name, fn):
        with tracer.span(name) as rec:
            out = fn()
        m[name] = rec["end"] - rec["start"]
        return out

    timed("sources.scan_s", lambda: _noop(read_transcripts(spark, input_path)))
    turns, _ = cache(read_transcripts(spark, input_path))

    def _assemble():
        # the assembler is a streaming-only operator: drain the same files
        # through it once, into the noop sink
        stream = read_transcripts_stream(spark, input_path)
        q = (assemble_threads(stream.withWatermark("ts", watermark)).writeStream
             .format("noop").trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(work_dir, "assemble-ckpt")).start())
        q.awaitTermination()

    timed("threads.assemble_s", _assemble)
    timed("ingest.derive_s", lambda: _noop(ingest.derive_input_content(turns)))
    ic, _ = cache(ingest.derive_input_content(turns))
    to_index, _ = ingest.split_skip_indexing(ic)
    n_index = to_index.count()
    winners, dupes = dedupe.exact_dedupe(to_index)
    timed("dedupe.exact_s", lambda: (_noop(winners), _noop(dupes)))
    m["dedupe.exact_dupe_frac"] = dupes.count() / max(1, n_index)
    winners, n_winners = cache(winners)
    timed("scorer.tags_s", lambda: _noop(scorer.tags_augment(winners)))
    m["scorer.docs_per_s"] = n_winners / max(1e-9, m["scorer.tags_s"])
    tagged, _ = cache(scorer.tags_augment(winners))
    verdict_input = tagged.select(
        "expected_document_hash", "conv_id", "turn_idx", "title",
        F.length("text").alias("text_len"), "tag_names",
    )
    timed("dedupe.soft_s", lambda: _noop(dedupe.soft_dedupe(verdict_input)))
    m["dedupe.soft_dupe_frac"] = (
        dedupe.soft_dedupe(verdict_input).filter(F.col("is_dupe")).count() / max(1, n_winners)
    )
    timed("fanout.document_s", lambda: _noop(fanout.document_rows(tagged)))
    timed("fanout.sentiment_s", lambda: _noop(fanout.sentiment_rows_fused(tagged)))
    timed("fanout.webresource_s", lambda: _noop(fanout.webresource_rows(tagged)))
    m["fanout.sentiment_rows"] = fanout.sentiment_rows_fused(tagged).count()

    store = MergeTable(spark, os.path.join(work_dir, "fingerprints"),
                       key_cols=["document_hash"], schema=dedupe_state.FINGERPRINT_SCHEMA)
    verdicts = timed("dedupe_state.fingerprint_s",
                     lambda: dedupe_state.fingerprint_dedupe_batch(tagged, store, 1))
    m["dedupe_state.near_dupe_frac"] = verdicts.filter(F.col("is_dupe")).count() / max(1, n_winners)
    m["dedupe_state.store_rows_end"] = store.read().count()

    def _indexer():
        out = build_indexer(turns, persist=True, soft_dedupe_enabled=soft_dedupe_enabled)
        for df in (out.webresource, out.document, out.sentiment):
            _noop(df)
        return out

    out = timed("indexer.build_s", _indexer)

    def _stats():
        stats_plan.register_views(spark, out.document, out.sentiment, out.webresource)
        stats_plan.build_stats(spark)

    timed("stats.chain_s", _stats)
    for df in persisted:
        df.unpersist()
    return m
