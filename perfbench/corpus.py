"""corpus_ops worker: the operator library in-process, no wire, no engine.

Usage (normally started by ``run.py``):

    python3 perfbench/corpus.py --rundir DIR --data DIR --seed N \
        --seconds S --out FILE [--trace]

Calls each operator of ``OPERATORS`` as ``registry.resolve(name)(spark,
data)`` and delivers it in full with ``toArrow()``, single-threaded, in
a seeded order: one cold pass, then whole passes (a new order each)
until ``--seconds`` have passed. After each warm call, with Spark idle,
DuckDB runs the operator's oracle, so the engine/DuckDB ratio compares
timings taken seconds apart on the same host. Every result is compared
with the oracle's rows, which ``run.py`` computed before this process
started.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    duckdb_seconds,
    duckdb_views,
    rows_match,
)
from perfbench.tracing import (  # noqa: E402
    Tracer,
    heap_sampler,
    no_span,
    plan_nodes,
)

#: A fixed stratified set of 18 operators: from every module of
#: gizmosql_spark/operators, its cheapest warm operator on the sf0.01
#: fixture (dedup_minhash_lsh skipped for returning no rows, and
#: runtime_bloom_join for a cold call 5x its warm one), plus three
#: streaming operators of different shapes: dedup state, a table sink
#: and a stream-static join.
OPERATORS = (
    "q06",                          # tpch
    "null_ordering",                # relational
    "time_interval_funcs",          # events
    "doc_fingerprint",              # text
    "pmi_collocations",             # quality
    "dedup_exact",                  # dedup
    "ann_bruteforce_topk",          # similarity
    "multimodal_meta",              # multimodal
    "stratified_sample",            # sampling
    "length_batch_plan",            # training
    "dp_noisy_counts",              # sketch
    "salted_agg",                   # scale
    "information_schema_tables",    # extensions
    "compaction_plan",              # evalops
    "kneser_ney_bigram",            # lm
    "stream_dedup", "stream_sink_table", "stream_static_join",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    started = time.time()
    tracer = Tracer() if args.trace else None
    span = tracer.span if tracer else no_span
    extra = {}
    if tracer:
        events = os.path.join(args.rundir, "events")
        os.makedirs(events, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + events}
    from gizmosql_spark.operators import registry
    from gizmosql_spark.session import get_spark

    with span("session.get_spark"):
        spark = get_spark(extra_confs=extra)
    ready_ts = time.time()
    sc = spark.sparkContext
    stop, heap = threading.Event(), {}
    if tracer:
        sampler = threading.Thread(target=heap_sampler,
                                   args=(spark, stop, heap), daemon=True)
        sampler.start()
    with open(os.path.join(args.rundir, "oracle.pkl"), "rb") as f:
        expected = pickle.load(f)

    oracles = registry.pipeline_oracles()
    con = duckdb_views(args.data)
    checks, ops, cold_times, duck_s = [], [], {}, {}
    seq = iter(range(10**9))

    def call(name: str, record: bool) -> None:
        fn = registry.resolve(name)
        i = next(seq)
        table, err = None, None
        t0 = time.monotonic()
        with span("corpus.op", op=name, group=f"op-{i}"):
            try:
                if tracer:
                    sc.setJobGroup(f"op-{i}", "build")
                with span("operators.build"):
                    df = fn(spark, args.data)
                if tracer:
                    with span("spark.plan") as attrs:
                        attrs["nodes"] = plan_nodes(
                            df._jdf.queryExecution().executedPlan())
                    sc.setJobGroup(f"op-{i}", "exec")
                    with span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    # the count() that bench.py times, for comparison only
                    sc.setJobGroup(f"op-{i}", "count")
                    with span("spark.count"):
                        df.count()
                    sc.setJobGroup(f"op-{i}", "deliver")
                with span("deliver.to_arrow"):
                    table = df.toArrow()
            except Exception as e:  # counted as a failed operation
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        t1 = time.monotonic()
        if err is None:
            cols, rows = expected[name]
            ok = rows_match(table, rows, cols)
            checks.append((name, ok, "matches oracle" if ok else
                           "wrong result"))
        else:
            ok = False
            checks.append((name, False, err))
        if record:
            duck_s.setdefault(name, []).append(
                duckdb_seconds(con, oracles[name]))
            ops.append({"id": f"client-{i}", "parent": None,
                        "name": "client.op", "op": name, "user": None,
                        "t0": t0, "t1": t1, "ok": ok,
                        "bytes": table.nbytes if table is not None else 0})
        else:
            cold_times[name] = t1 - t0

    rng = random.Random(args.seed)
    order = list(OPERATORS)
    rng.shuffle(order)
    t0 = time.monotonic()
    for name in order:
        call(name, False)
    cold = time.monotonic() - t0
    # whole warm passes, each in a new seeded order, until the time is
    # up: every run samples every operator equally often
    start = time.monotonic()
    while time.monotonic() - start < args.seconds:
        rng.shuffle(order)
        for name in order:
            call(name, True)
    end = time.monotonic()

    if tracer:
        stop.set()
        sampler.join(5)
        tracer.mark("jvm.heap", **heap)
        tracer.dump(os.path.join(args.rundir, f"spans-{os.getpid()}.json"))
    spark.stop()
    with open(args.out, "w") as f:
        json.dump({"ready_ts": ready_ts, "cold_pass_s": cold,
                   "wall_offset": time.time() - time.monotonic(),
                   "window": [start, end],
                   "phases": {"worker_setup": ready_ts - started,
                              "cold": cold, "window": end - start},
                   "ops": ops, "checks": checks, "cold_times": cold_times,
                   "duckdb_s": duck_s}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
