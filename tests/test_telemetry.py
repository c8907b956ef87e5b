"""OTel-shaped telemetry tests (gizmosql_telemetry.cpp analog): span
lifecycle + OTLP/JSON payload shape, parent linkage across
execute/collect, counters, and the file sink."""

from __future__ import annotations

import json

import pytest

from gizmosql_spark.engine import Engine
from gizmosql_spark.telemetry import Telemetry


def test_span_otlp_shape(tmp_path):
    t = Telemetry(path=str(tmp_path / "otlp.jsonl"))
    with t.span("unit.work", foo="bar", n=3) as sp:
        sp.set_attribute("late", True)
    payload = t.export_traces()
    rs = payload["resourceSpans"][0]
    attrs = {a["key"]: a["value"] for a in rs["resource"]["attributes"]}
    assert attrs["service.name"]["stringValue"] == "gizmosql-spark"
    span = rs["scopeSpans"][0]["spans"][0]
    assert span["name"] == "unit.work"
    assert len(span["traceId"]) == 32 and len(span["spanId"]) == 16
    assert int(span["endTimeUnixNano"]) >= int(span["startTimeUnixNano"])
    sattrs = {a["key"]: a["value"] for a in span["attributes"]}
    assert sattrs["foo"]["stringValue"] == "bar"
    assert sattrs["n"]["intValue"] == "3"
    assert sattrs["late"]["boolValue"] is True
    assert span["status"]["code"] == "STATUS_CODE_OK"
    # file sink got one OTLP line per span
    lines = open(t.path).read().strip().splitlines()
    assert len(lines) == 1
    assert "resourceSpans" in json.loads(lines[0])


def test_span_error_status():
    t = Telemetry()
    with pytest.raises(ValueError):
        with t.span("will.fail"):
            raise ValueError("boom")
    span = t.spans()[-1]
    assert span.status_code == "STATUS_CODE_ERROR"
    assert "boom" in span.status_message


def test_counters_and_metrics_export():
    t = Telemetry()
    t.add_counter("engine.statements_total", status="ok")
    t.add_counter("engine.statements_total", status="ok")
    t.add_counter("engine.statements_total", status="error")
    assert t.counter_value("engine.statements_total", status="ok") == 2
    m = t.export_metrics()["resourceMetrics"][0]["scopeMetrics"][0]
    metric = m["metrics"][0]
    assert metric["name"] == "engine.statements_total"
    assert metric["sum"]["isMonotonic"] is True
    assert len(metric["sum"]["dataPoints"]) == 2


def test_engine_statement_tracing(spark, tmp_path):
    eng = Engine(spark=spark,
                 otlp_trace_path=str(tmp_path / "traces.jsonl"))
    sid = eng.create_session(role="admin")
    res = eng.execute_sql(sid, "SELECT 5 AS five")
    rows = eng.collect(sid, res)
    assert rows[0]["five"] == 5
    spans = eng.telemetry.spans()
    execs = [s for s in spans if s.name == "statement.execute"]
    colls = [s for s in spans if s.name == "statement.collect"]
    assert execs and colls
    # collect is a child of its statement's trace
    assert colls[-1].trace_id == execs[-1].trace_id
    assert colls[-1].parent_id == execs[-1].span_id
    assert colls[-1].attributes["rows"] == 1
    assert eng.telemetry.counter_value(
        "engine.statements_total", status="ok") >= 1
    assert eng.telemetry.counter_value("engine.rows_fetched_total") >= 1
    # error path
    with pytest.raises(Exception):
        eng.execute_sql(sid, "SELECT * FROM missing_tbl_otel")
    assert eng.telemetry.counter_value(
        "engine.statements_total", status="error") >= 1
    bad = [s for s in eng.telemetry.spans()
           if s.status_code == "STATUS_CODE_ERROR"]
    assert bad
    eng.close_session(sid)
    # sink has one line per span
    lines = open(eng.telemetry.path).read().strip().splitlines()
    assert len(lines) == len(eng.telemetry.spans())


def test_collect_and_collect_arrow_lifecycle_parity(spark):
    """The rows path and the DoGet Arrow path record the same
    execution row and the same statement.collect span, which brackets
    queue wait plus materialization."""
    eng = Engine(spark=spark)
    sid = eng.create_session(role="admin")
    sql = "SELECT id, id * 2 AS twice FROM range(1000)"
    executions = {}
    try:
        for method in ("collect", "collect_arrow"):
            res = eng.execute_sql(sid, sql)
            getattr(eng, method)(sid, res)
            rows = [e for e in eng.instr.executions
                    if e[1] == res.statement_id]
            assert len(rows) == 1
            _, _, status, queue_wait_ms, duration_ms, fetched = rows[0][:6]
            assert status == "success"
            assert queue_wait_ms >= 0 and duration_ms > 0
            executions[method] = fetched
            colls = [s for s in eng.telemetry.spans()
                     if s.name == "statement.collect"
                     and s.parent_id == res.root_span_id]
            assert len(colls) == 1
            span = colls[0]
            assert span.trace_id == res.trace_id
            span_ms = (span.end_ns - span.start_ns) / 1e6
            assert span_ms >= duration_ms - 1.0
            assert span.attributes["rows"] == fetched
        assert executions["collect"] == executions["collect_arrow"] == 1000
    finally:
        eng.close_session(sid)
