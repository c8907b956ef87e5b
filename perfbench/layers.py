"""Per-layer roll-up of a traced run.

Joins the client's operations (root spans), the spans the server or
corpus worker wrote, and Spark's event log, and reduces them to the
per-layer metrics. Times and counts are per operation of the timed
window unless the name says otherwise: ``session.*`` for the first
server start, ingest and warehouse metrics per ingest call,
``streaming.*`` per streaming-operator call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from perfbench import eventlog
from perfbench.stats import attach_to_roots, self_times, union_length

MB = 1e6

#: span-name prefix → layer, for the self-time breakdown
LAYERS = (
    ("client.", "wire"), ("corpus.op", "unattributed"),
    ("flight_server.", "flight_server"), ("engine.ingest.", "ingest"),
    ("engine.", "engine"), ("dialect.", "dialect"),
    ("security.", "security"), ("sink.", "sinks"),
    ("spark.catalog.", "catalog"), ("spark.analyze", "catalyst"),
    ("spark.plan", "catalyst"), ("spark.", "spark_exec"),
    ("deliver.", "deliver"), ("warehouse.", "warehouse"),
    ("operators.", "operators"), ("session.", "session"),
)

PROGRESS_EVENT = ("org.apache.spark.sql.streaming."
                  "StreamingQueryListener$QueryProgressEvent")


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return "other"


def load(run_dir: str) -> tuple[list[dict], list[dict]]:
    spans, marks = [], []
    for path in sorted(glob.glob(os.path.join(run_dir, "spans-*.json"))):
        with open(path) as f:
            d = json.load(f)
        tag = os.path.basename(path)
        # span ids are per process: make them unique across files
        for s in d["spans"]:
            s["id"] = f"{tag}:{s['id']}"
            if s["parent"] is not None:
                s["parent"] = f"{tag}:{s['parent']}"
            spans.append(s)
        for m in d["marks"]:
            if m["parent"] is not None:
                m["parent"] = f"{tag}:{m['parent']}"
            marks.append(m)
    return spans, marks


def _inside(s: dict, start: float, end: float) -> bool:
    return start <= (s["t0"] + s["t1"]) / 2 <= end


def streaming_batches(events_dir: str, intervals: list[tuple[float, float]]):
    """Micro-batch progress events whose wall-clock time falls inside
    one of ``intervals`` (epoch seconds)."""
    from datetime import datetime

    out = []
    for ev in eventlog._events(events_dir):
        if ev.get("Event") != PROGRESS_EVENT:
            continue
        p = ev.get("progress") or {}
        try:
            ts = datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
        except (KeyError, ValueError):
            continue
        if any(a <= ts <= b for a, b in intervals):
            out.append(p)
    return out


def rollup(run_dir: str, res: dict, span_cost_s: float) -> dict:
    spans, marks = load(run_dir)
    start, end = res["window"]
    corpus = "corpus" in res
    if corpus:
        roots = [s for s in spans
                 if s["name"] == "corpus.op" and _inside(s, start, end)]
    else:
        roots = [dict(o) for o in res["ops"]]
        attach_to_roots(roots, spans)
    n = max(1, len(roots))
    root_ids = {r["id"] for r in roots}
    by_id = {s["id"]: s for s in spans}
    for r in roots:
        by_id[r["id"]] = r

    def under_root(s):
        p = s
        while p.get("parent") is not None:
            if p["parent"] in root_ids:
                return True
            p = by_id.get(p["parent"], {})
        return False

    win = [s for s in spans if s["id"] not in root_ids and under_root(s)]
    self_s = self_times(roots + win)

    def ancestors(s):
        p = s
        while p.get("parent") is not None and p["parent"] in by_id:
            p = by_id[p["parent"]]
            yield p["name"]

    def top(pred):
        """Spans matching ``pred`` with no matching ancestor."""
        return [s for s in win if pred(s["name"])
                and not any(pred(a) for a in ancestors(s))]

    def total(pred, per=n):
        return sum(s["t1"] - s["t0"] for s in top(pred)) / per

    def count(pred, per=n):
        return sum(1 for s in win if pred(s["name"])) / per

    def named(name):
        return lambda x: x == name

    def starts(prefix):
        return lambda x: x.startswith(prefix)

    def within(name, parent):
        return sum(s["t1"] - s["t0"] for s in win if s["name"] == name
                   and parent in ancestors(s))

    m: dict[str, float] = {}
    # the run's first server start (ingest_mix restarts its server)
    for name in ("session.get_spark", "session.views"):
        first = min((s for s in spans if s["name"] == name),
                    key=lambda s: s["t0"], default=None)
        m[f"{name}_s"] = first["t1"] - first["t0"] if first else 0.0
    for verb in ("get_flight_info", "do_get", "do_put"):
        m[f"flight_server.{verb}_s"] = total(named(f"flight_server.{verb}"))
    m["flight_server.calls"] = count(starts("flight_server."))
    wire = 0.0
    for r in roots:
        kids = [(s["t0"], s["t1"]) for s in win if s.get("parent") == r["id"]]
        wire += (r["t1"] - r["t0"]) - union_length(kids) if not corpus else 0
    m["wire.overhead_s"] = wire / n
    m["wire.mb"] = (0.0 if corpus else
                    sum(o.get("bytes", 0) for o in res["ops"]) / MB / n)
    m["engine.execute_sql_self_s"] = sum(
        self_s[s["id"]] for s in win if s["name"] == "engine.execute_sql") / n
    m["engine.execute_prepared_s"] = total(named("engine.execute_prepared"))
    m["engine.collect_arrow_self_s"] = sum(
        self_s[s["id"]] for s in win if s["name"] == "engine.collect_arrow") / n
    m["engine.sinks_s"] = total(starts("sink."))
    m["engine.sink_calls"] = count(starts("sink."))
    m["engine.catalog_calls"] = count(starts("spark.catalog."))
    m["dialect.rewrite_s"] = total(starts("dialect."))
    m["dialect.calls"] = count(starts("dialect."))
    m["security.gate_s"] = total(starts("security."))
    m["security.calls"] = count(starts("security."))
    m["spark.analyze_s"] = total(named("spark.analyze"))
    m["spark.plan_s"] = total(named("spark.plan"))
    plans = [s.get("nodes", 0) for s in win if s["name"] == "spark.plan"]
    m["spark.plan_nodes"] = statistics.mean(plans) if plans else 0.0
    m["spark.exec_s"] = total(named("spark.exec"))
    m["spark.count_s"] = sum(
        s["t1"] - s["t0"] for s in win if s["name"] == "spark.count"
        and "engine.ingest" not in ancestors(s)) / n
    m["deliver.to_arrow_s"] = total(named("deliver.to_arrow"))
    m["deliver.convert_s"] = m["deliver.to_arrow_s"] - m["spark.exec_s"]
    m["deliver.geoarrow_s"] = total(named("deliver.geoarrow"))

    # Spark's own job / stage / task metrics for the window's statements
    events = os.path.join(run_dir, "events")
    ev = eventlog.parse(events) if os.path.isdir(events) else {}
    if corpus:
        keys = [(r["group"], "deliver") for r in roots]
    else:
        keys = [(k["group"], k["desc"]) for k in marks
                if k["name"] == "stmt.key" and k["parent"] in by_id
                and under_root(by_id[k["parent"]])]
    for f in eventlog.FIELDS:
        m[f"spark.{f}"] = sum(ev.get(k, {}).get(f, 0) for k in keys) / n

    # operators (corpus_ops)
    m["operators.build_s"] = total(named("operators.build"))
    m["operators.build_jobs"] = (sum(ev.get((r["group"], "build"), {})
                                     .get("jobs", 0) for r in roots) / n
                                 if corpus else 0.0)
    cold, warm = res.get("cold_times", {}), {}
    for r in roots if corpus else ():
        warm.setdefault(r["op"], []).append(r["t1"] - r["t0"])
    both = [k for k in warm if k in cold]
    m["operators.cold_over_warm"] = (
        sum(cold[k] for k in both) / sum(statistics.median(warm[k])
                                         for k in both) if both else 0.0)

    # streaming operators (corpus_ops)
    stream_roots = [r for r in roots if r.get("op", "").startswith("stream_")]
    wall = res.get("wall_offset", 0.0)
    batches = streaming_batches(
        events, [(r["t0"] + wall, r["t1"] + wall) for r in stream_roots]) \
        if stream_roots and os.path.isdir(events) else []
    k = max(1, len(stream_roots))
    batch_s = sum((p.get("durationMs") or {}).get("triggerExecution", 0)
                  for p in batches) / 1000
    m["streaming.batches"] = len(batches) / k
    m["streaming.nodata_batches"] = sum(
        1 for p in batches
        if not sum(src.get("numInputRows", 0)
                   for src in p.get("sources", ()))) / k
    m["streaming.batch_s"] = batch_s / k
    stream_build = sum(s["t1"] - s["t0"] for s in win
                       if s["name"] == "operators.build"
                       and by_id.get(s["parent"], {}).get("op", "")
                       .startswith("stream_"))
    m["streaming.lifecycle_s"] = (stream_build - batch_s) / k

    # ingest and warehouse (ingest_mix), per ingest call
    ingests = max(1, sum(1 for s in win if s["name"] == "engine.ingest"))
    for metric, span_name in (("create_df", "spark.create_df"),
                              ("count", "spark.count"),
                              ("save", "spark.save_as_table")):
        m[f"engine.ingest.{metric}_s"] = within(
            span_name, "engine.ingest") / ingests
    m["engine.ingest.refresh_s"] = total(named("engine.ingest.refresh"),
                                         ingests)
    for verb in ("prepare_write", "record", "snapshot"):
        m[f"warehouse.{verb}_s"] = total(named(f"warehouse.{verb}"), ingests)
    wh = res["metrics"].get("_warehouse") or {}
    m["warehouse.write_amp"] = (wh["bytes"] / wh["acked_bytes"]
                                if wh.get("acked_bytes") else 0.0)
    m["warehouse.files"] = float(wh.get("files", 0))

    heaps = [mk.get("heap_mb", 0.0) for mk in marks if mk["name"] == "jvm.heap"]
    m["spark.driver_heap_mb"] = max(heaps) if heaps else 0.0

    # self time per layer, and what no span covers
    by_layer: dict[str, float] = {}
    for s in roots + win:
        layer = layer_of(s["name"])
        by_layer[layer] = by_layer.get(layer, 0.0) + self_s[s["id"]]
    m["unattributed_s"] = sum(self_s[r["id"]] for r in roots) / n
    for layer, v in sorted(by_layer.items()):
        if layer not in ("wire", "unattributed"):
            m[f"self.{layer}_s"] = v / n
    m["trace.spans"] = len(win) / n
    m["trace.span_overhead_s"] = len(win) / n * span_cost_s
    m["trace.stmt_p50_s"] = res["metrics"]["stmt_p50_s"]
    return m
