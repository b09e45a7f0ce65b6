"""Output checks and per-turn commit times, read back after the run
(never inside a timed region).

A turn is identified by ``CollectionItemId`` (``conv_id:turn_idx``).

Stream (``check_outputs``): a turn counts as wrong when it is committed to
webresource more than once, when a sink holds a duplicate key that belongs
to it, or when it is missing from webresource and is not accounted for as
late: either counted in the ``n_late`` column of the metrics row of the
micro-batch that read it, or behind the watermark that micro-batch filtered
late rows with while the engine's stateful operator reports that many rows
dropped by the watermark in that batch.

Batch (``check_batch``): every turn's webresource, document and sentiment
rows must equal those of the package's DuckDB oracle over the same input
(``oracle_reference``), and no table may hold a duplicate key.
"""

from __future__ import annotations

import collections
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

SINKS = ("webresource", "document", "sentiment")
KEYS = {"webresource": "WebResourceHash", "document": "DocumentHash",
        "sentiment": "SentimentHash"}


def read_dirs(paths: list[str], columns=None) -> pa.Table | None:
    tables = [pq.read_table(p, columns=columns) for p in paths]
    tables = [t for t in tables if t.num_rows]
    return pa.concat_tables(tables, promote_options="default") if tables else None


def sink_table(table) -> pa.Table | None:
    return read_dirs([fe["path"] for fe in table.current_snapshot()["files"]])


def batch_visible_ts(sinks) -> dict[int, float]:
    """Micro-batch id -> the latest snapshot ``ts`` among its webresource,
    document and sentiment commits: the moment the whole batch is visible."""
    out: dict[int, float] = {}
    for name in SINKS:
        for e in getattr(sinks, name).lineage():
            b = e.get("batch_id")
            if b is not None:
                out[int(b)] = max(out.get(int(b), 0.0), float(e["ts"]))
    return out


def turn_batches(webresource) -> dict[str, list[int]]:
    """CollectionItemId -> every micro-batch id that committed a webresource
    row for that turn (one entry when the turn landed exactly once)."""
    out: dict[str, list[int]] = collections.defaultdict(list)
    for e in webresource.lineage():
        if e.get("batch_id") is None or not e.get("files"):
            continue
        t = read_dirs(e["files"], columns=["CollectionItemId"])
        if t is None:
            continue
        for item in t.column("CollectionItemId").to_pylist():
            out[item].append(int(e["batch_id"]))
    return out


def metrics_rows(metrics_dir: str) -> list[dict]:
    """The pipeline's per-micro-batch metrics rows."""
    files = ([os.path.join(metrics_dir, f) for f in os.listdir(metrics_dir)
              if f.endswith(".parquet") and not f.startswith(".")]
             if os.path.isdir(metrics_dir) else [])
    t = read_dirs(files, columns=["batch_id", "n_late", "n_overflow"])
    return t.to_pylist() if t is not None else []


def ingest_batches(ckpt_dir: str) -> dict[str, int]:
    """File name -> the micro-batch that read it, from the file source's
    offset log in the query checkpoint."""
    out = {}
    d = os.path.join(ckpt_dir, "sources", "0")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# the oracle's column set per table: its array columns are compared as
# joined strings, the way the package's own contract queries project them
_ORACLE_SQL = {"webresource": "webresource_sql", "document": "document_sql",
               "sentiment": "sentiment_sql"}


def oracle_reference(archive_dir: str, out_dir: str) -> None:
    """Run the package's DuckDB oracles for the three indexer tables over
    the parquet files in ``archive_dir`` and write each as parquet under
    ``out_dir``."""
    import duckdb

    from dataflow_opinion_analysis_spark import oracles
    from dataflow_opinion_analysis_spark.sources.transcripts import duckdb_transcripts_cte

    con = duckdb.connect()
    src = f"SELECT * FROM read_parquet('{os.path.join(archive_dir, '*.parquet')}')"
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in _ORACLE_SQL.items():
        sql = getattr(oracles, fn)()
        if duckdb_transcripts_cte() not in sql:
            raise RuntimeError(f"oracle {fn} no longer reads the transcripts CTE")
        sql = sql.replace(duckdb_transcripts_cte(), src)
        pq.write_table(con.execute(sql).fetch_arrow_table(), os.path.join(out_dir, f"{name}.parquet"))
    con.close()


def oracle_projection(df, columns: list[str]):
    """``df`` (a Spark frame of an indexer table) cut to the oracle's columns."""
    from pyspark.sql import functions as F

    derived = {
        "SignalsStr": F.array_join("Signals", ";"),
        "TagsStr": F.array_join(F.transform("Tags", lambda t: t["Tag"]), ","),
        "MetaFieldsStr": F.coalesce(F.array_join("MetaFields", ","), F.lit("")),
    }
    return df.select(*[derived[c].alias(c) if c in derived else F.col(c) for c in columns])


def _canon(pdf) -> list[str]:
    """One sorted-key JSON string per row: timestamps as UTC, floats to ten
    significant digits (DuckDB and Spark may differ in the last bits)."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            s = pd.to_datetime(pdf[c])
            if getattr(s.dt, "tz", None) is None:
                s = s.dt.tz_localize("UTC")
            pdf[c] = s.dt.tz_convert("UTC").map(lambda v: None if pd.isna(v) else v.isoformat())
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].map(lambda v: None if pd.isna(v) else float(f"{v:.10g}"))
    rows = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
    return [json.dumps(r, sort_keys=True, default=str) for r in rows]


def _rows_by_turn(wr, doc, sent) -> dict[str, list[str]]:
    """Every row a turn owns, canonicalised: its webresource row, the
    document it won (if any) and that document's sentiment rows."""
    rows: dict[str, list[str]] = collections.defaultdict(list)
    wr_turn = dict(zip(wr["WebResourceHash"], wr["CollectionItemId"]))
    for item, c in zip(wr["CollectionItemId"], _canon(wr)):
        rows[item].append("W" + c)
    for item, c in zip(doc["CollectionItemId"], _canon(doc)):
        rows[item].append("D" + c)
    for h, c in zip(sent["MainWebResourceHash"], _canon(sent)):
        rows[wr_turn.get(h, "?" + str(h))].append("S" + c)
    return {k: sorted(v) for k, v in rows.items()}


def check_batch(tables: dict, reference_dir: str, expected_turns: set[str]) -> dict:
    """``tables``: table name -> pandas frame of the batch indexer's output,
    cut to the oracle's columns (``oracle_projection``)."""
    import pandas as pd

    ref = {name: pd.read_parquet(os.path.join(reference_dir, f"{name}.parquet"))
           for name in SINKS}
    dupes, failed = duplicate_key_turns(
        {n: pa.Table.from_pandas(t, preserve_index=False) for n, t in tables.items()})
    got = _rows_by_turn(tables["webresource"], tables["document"], tables["sentiment"])
    want = _rows_by_turn(ref["webresource"], ref["document"], ref["sentiment"])
    mismatched = {t for t in expected_turns | set(got) | set(want)
                  if got.get(t, []) != want.get(t, [])}
    failed = (failed | mismatched) & (expected_turns | set(got))
    return {"failed": failed, "attempted": len(expected_turns), "dupe_keys": dupes,
            "mismatched": len(mismatched),
            "rows": {n: len(t) for n, t in tables.items()},
            "reference_rows": {n: len(t) for n, t in ref.items()}}


def duplicate_key_turns(tables: dict[str, pa.Table | None]) -> tuple[dict[str, int], set[str]]:
    """Per sink, the number of keys held more than once, and the turns that
    own a duplicated key."""
    dupes, turns = {}, set()
    wr = tables["webresource"]
    wr_turn = (dict(zip(wr.column("WebResourceHash").to_pylist(),
                        wr.column("CollectionItemId").to_pylist())) if wr is not None else {})
    for name, t in tables.items():
        if t is None:
            dupes[name] = 0
            continue
        counts = collections.Counter(t.column(KEYS[name]).to_pylist())
        bad = {k for k, n in counts.items() if n > 1}
        dupes[name] = len(bad)
        if not bad:
            continue
        keyed = t.select([KEYS[name]] + [c for c in ("CollectionItemId", "MainWebResourceHash")
                                          if c in t.column_names]).to_pylist()
        for r in keyed:
            if r[KEYS[name]] in bad:
                turns.add(r.get("CollectionItemId") or wr_turn.get(r.get("MainWebResourceHash"), "?"))
    return dupes, turns


def check_outputs(sinks, expected_turns: set[str], ingested_in: dict[str, int], *,
                  event_ts: dict[str, float], engine_dropped: dict[int, tuple[int, float]]) -> dict:
    """Return ``{"failed": set of wrong turns, "batches": turn -> batch ids,
    "dupe_keys": per-sink duplicate key counts, ...}``.

    ``ingested_in`` maps each turn to the micro-batch that read it and
    ``event_ts`` to its event time (epoch seconds). ``engine_dropped`` maps
    a micro-batch to the rows its stateful operator dropped as behind the
    watermark and the watermark it dropped them by (the previous batch's).
    A turn missing from every sink is excused while its batch's metrics row
    still counts a late turn, or else while that batch's engine count still
    has a dropped row and the turn's event time lies behind that
    watermark; ``late_dropped`` reports how many turns only the engine
    accounted for."""
    tables = {name: sink_table(getattr(sinks, name)) for name in SINKS}
    batches = turn_batches(sinks.webresource)
    rows = metrics_rows(sinks.metrics_dir)
    late_in = collections.Counter()
    for r in rows:
        late_in[int(r["batch_id"])] += int(r["n_late"])
    dropped_in = collections.Counter({b: n for b, (n, _wm) in engine_dropped.items()})
    dupes, failed = duplicate_key_turns(tables)
    failed &= expected_turns

    committed_twice = {t for t in expected_turns if len(batches.get(t, ())) > 1}
    missing = sorted(t for t in expected_turns if t not in batches)
    excused, engine_excused = set(), set()
    for t in missing:
        b = ingested_in.get(t)
        if b is None:
            continue
        if late_in[b] > 0:
            late_in[b] -= 1
            excused.add(t)
        elif dropped_in[b] > 0 and event_ts[t] < engine_dropped[b][1]:
            dropped_in[b] -= 1
            engine_excused.add(t)
    failed |= committed_twice | (set(missing) - excused - engine_excused)
    return {"failed": failed, "attempted": len(expected_turns), "batches": batches,
            "dupe_keys": dupes,
            "missing": len(missing), "excused_late": len(excused),
            "late_dropped": len(engine_excused),
            "committed_twice": len(committed_twice),
            "late_total": sum(int(r["n_late"]) for r in rows),
            "overflow_total": sum(int(r["n_overflow"]) for r in rows)}
