"""Tests for the benchmark's own helpers; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

import pyarrow as pa
import pytest

from perfbench import eventlog, run
from perfbench.common import canonical, rows_match
from perfbench.flightsql import parse_fields, statement_ingest, statement_query
from perfbench.stats import (
    attach_to_roots,
    latency_summary,
    percentile,
    self_times,
    tail_percentile,
    union_length,
)
from perfbench.workloads import (
    INGEST_ROWS,
    Ledger,
    _agg_ok,
    _same_rows,
    ingest_batch,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# --- the percentile rule ---------------------------------------------

@pytest.mark.parametrize("n,want", [
    (19, None), (20, 50), (21, 52), (40, 75), (99, 89), (100, 90),
    (5000, 90)])
def test_tail_percentile_examples(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(20, 400):
        p = tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= 10
        assert p == 90 or n - math.ceil((p + 1) * n / 100) < 10


def test_nearest_rank_percentile():
    values = list(range(1, 11))
    assert percentile(values, 50) == 5
    assert percentile(values, 90) == 9
    assert percentile(values, 100) == 10
    assert percentile([3.0], 90) == 3.0


def test_latency_summary_states_its_sample_count():
    s = latency_summary([float(i) for i in range(1, 101)])
    assert (s["n"], s["tail_pct"], s["tail"], s["p50"]) == (100, 90, 90.0, 50.5)
    small = latency_summary([1.0, 2.0, 3.0])
    assert small["tail_pct"] is None and small["tail"] == 3.0


# --- span self time ---------------------------------------------------

def _span(i, parent, t0, t1, name="x", **kw):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1, **kw}


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children_once():
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 3), _span(3, 1, 2, 5),
             _span(4, 3, 2, 4)]
    st = self_times(spans)
    assert st[1] == pytest.approx(6)     # 10 - |[1,5]|
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)     # 3 - 2
    assert st[4] == pytest.approx(2)


def test_self_time_clips_children_to_the_parent():
    st = self_times([_span(1, None, 0, 4), _span(2, 1, 3, 9)])
    assert st[1] == pytest.approx(3)


def test_attach_to_roots_matches_user_and_time():
    roots = [_span("a", None, 0, 5, user="c0"), _span("b", None, 0, 5,
                                                     user="c1"),
             _span("c", None, 6, 9, user="c0")]
    server = [_span(1, None, 1, 2, user="c1"), _span(2, None, 7, 8,
                                                     user="c0"),
              _span(3, 2, 7, 7.5, user="c0"), _span(4, None, 20, 21,
                                                     user="c0")]
    attach_to_roots(roots, server)
    assert [s["parent"] for s in server] == ["b", "c", 2, None]


# --- the event-log parser ---------------------------------------------

def _events():
    props = {"spark.jobGroup.id": "s1", "spark.job.description": "stmt-1"}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1300,
                          "Getting Result Time": 10},
            "Task Metrics": {
                "Executor Deserialize Time": 20, "Executor Run Time": 200,
                "Executor CPU Time": 150_000_000,
                "Result Serialization Time": 5, "JVM GC Time": 30,
                "Disk Bytes Spilled": 2 * 1024 * 1024,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1024 * 1024,
                                         "Local Bytes Read": 1024 * 1024},
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": 3 * 1024 * 1024}}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 900, "Stage IDs": [7, 8], "Properties": props},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 7}},
        task, task,
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 950, "Stage IDs": [9], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9,
         "Task Info": {"Launch Time": 0, "Finish Time": 10},
         "Task Metrics": {"Executor Run Time": 10}},
    ]


def _check_parsed(got):
    r = got[("s1", "stmt-1")]
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 1, 2)
    # UI scheduler delay: 300 - 200 - 20 - 5 - 10 = 65 ms per task
    assert r["sched_delay_s"] == pytest.approx(0.13)
    assert r["executor_run_s"] == pytest.approx(0.4)
    assert r["executor_cpu_s"] == pytest.approx(0.3)
    assert r["gc_s"] == pytest.approx(0.06)
    assert r["shuffle_read_mb"] == pytest.approx(4)
    assert r["shuffle_write_mb"] == pytest.approx(6)
    assert r["spill_mb"] == pytest.approx(4)
    assert got[(None, None)]["tasks"] == 1


def _write_app(root, chunks, zstd=True):
    app = root / "eventlog_v2_local-1"
    app.mkdir()
    for i, body in enumerate(chunks, 1):
        name = app / (f"events_{i}_local-1" + (".zstd" if zstd else ""))
        if zstd:
            with pa.CompressedOutputStream(str(name), "zstd") as f:
                f.write(body.encode())
        else:
            name.write_text(body)
    (app / "appstatus_local-1").write_text("")
    (app / ".events_1_local-1.zstd.crc").write_bytes(b"\x00\x01")


def test_eventlog_rolling_zstd_dir(tmp_path):
    events = _events()
    _write_app(tmp_path, ["\n".join(json.dumps(e) for e in chunk) + "\n"
                          for chunk in (events[:3], events[3:])])
    _check_parsed(eventlog.parse(str(tmp_path)))


def test_eventlog_torn_last_line(tmp_path):
    body = "\n".join(json.dumps(e) for e in _events())
    _write_app(tmp_path, [body + '\n{"Event": "SparkListenerTaskE'],
               zstd=False)
    _check_parsed(eventlog.parse(str(tmp_path)))


# --- the ingest ledger check ------------------------------------------

def test_ingest_batches_are_seeded_and_disjoint():
    a, b = ingest_batch(3, 0), ingest_batch(3, 1)
    assert a.equals(ingest_batch(3, 0))
    assert not a.column("v").equals(ingest_batch(4, 0).column("v"))
    assert a.column("id")[-1].as_py() + 1 == b.column("id")[0].as_py()
    assert a.num_rows == INGEST_ROWS


def _ledger(sent, acked):
    led = Ledger(5)
    for _ in range(sent):
        led.send()
    for _ in range(acked):
        led.ack()
    return led


def test_ledger_rows_span_batch_boundaries():
    led = _ledger(3, 3)
    got = led.rows(INGEST_ROWS - 5, INGEST_ROWS + 5)
    assert got.column("id").to_pylist() == list(
        range(INGEST_ROWS - 5, INGEST_ROWS + 5))
    assert led.acknowledged().num_rows == 3 * INGEST_ROWS


def test_same_rows_catches_a_lost_or_changed_row():
    led = _ledger(2, 2)
    want = led.acknowledged()
    shuffled = want.take(list(range(want.num_rows - 1, -1, -1)))
    assert _same_rows(shuffled, want)
    assert not _same_rows(want.slice(1), want)
    changed = want.set_column(2, "v", pa.array(
        [0.5] + want.column("v").to_pylist()[1:]))
    assert not _same_rows(changed, want)


def _agg(n, sv):
    return pa.table({"n": [n], "sv": [sv]})


def test_agg_check_accepts_whole_acknowledged_or_sent_prefixes():
    led = _ledger(3, 2)
    for batches in (2, 3):
        assert _agg_ok(_agg(batches * INGEST_ROWS, led.prefix_sum[batches]),
                       led, 2)
    # fewer batches than acknowledged before the read: a lost write
    assert not _agg_ok(_agg(INGEST_ROWS, led.prefix_sum[1]), led, 2)
    # a partial batch, or a wrong sum
    assert not _agg_ok(_agg(2 * INGEST_ROWS + 1, led.prefix_sum[2]), led, 2)
    assert not _agg_ok(_agg(2 * INGEST_ROWS, led.prefix_sum[2] + 1), led, 2)
    assert not _agg_ok(_agg(4 * INGEST_ROWS, led.prefix_sum[3]), led, 2)


# --- result comparison, generator, client encoding, the contract ------

def test_rows_match_uses_the_tolerance_comparator():
    got = pa.table({"b": pa.array([datetime(2020, 1, 2)],
                                  pa.timestamp("us", tz="UTC")),
                    "a": [1.0 + 1e-12]})
    assert rows_match(got, [(1.0, datetime(2020, 1, 2))], ["a", "b"])
    assert not rows_match(got, [(1.001, datetime(2020, 1, 2))], ["a", "b"])
    assert not rows_match(got, [(1.0, datetime(2020, 1, 2))], ["a", "c"])


def test_canonical_drops_engine_type_differences():
    spark_like = pa.table({"t": pa.array([0], pa.timestamp("us", tz="UTC")),
                           "s": pa.array(["x"], pa.string()),
                           "i": pa.array([1], pa.int32())})
    duck_like = pa.table({"t": pa.array([0], pa.timestamp("us")),
                          "s": pa.array(["x"], pa.large_string()),
                          "i": pa.array([1], pa.int64())})
    assert canonical(spark_like).equals(canonical(duck_like))


def test_flight_sql_encoding():
    # CommandStatementQuery{query: "SELECT 1"} wrapped in an Any
    cmd = statement_query("SELECT 1")
    assert cmd.startswith(b"\x0a\x43type.googleapis.com/")
    assert cmd.endswith(b"\x12\x0a\x0a\x08SELECT 1")
    body = parse_fields(parse_fields(statement_ingest("t", append=True))[2][0])
    assert body[2] == [b"t"]
    assert parse_fields(body[1][0]) == {1: [1], 2: [2]}


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(
        run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(
        run.PER_LAYER)
