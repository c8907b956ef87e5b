"""The repository's benchmark: one workload, one fresh server, one run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: tpch_flight, wide_fetch, ingest_mix, corpus_ops (see
perfbench/README.md). The run copies the fixture tables,
derives its queries and ingested batches from the seed, starts its
own server (or corpus worker) in a per-run directory under
``.perfbench/``, measures for S seconds after an untimed cold pass,
checks every result, and stops every process it started. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0``
and the per-layer metrics with ``--trace 1``. The line before it,
starting ``# record``, carries every measured figure with the run's
cpus, time, seed and commit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (name, unit) of the end-to-end metrics the last line carries with
#: --trace 0; the record line has these and every other figure
END_TO_END = (("setup_s", "s"), ("stmt_p50_s", "s"))
#: (name, unit) of the per-layer metrics the last line carries with
#: --trace 1, at least one for every layer. A layer idle on a workload
#: reads 0 there, so a layer that only one of the workloads in
#: BENCHMARK.json uses is listed by its counts (calls, batches, files,
#: MB, ratios) and its times stay on the record line: a time that reads
#: exactly 0 on every run would look like no measurement at all.
PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("flight_server.calls", "count"), ("wire.mb", "MB"),
    ("engine.sink_calls", "count"), ("engine.catalog_calls", "count"),
    ("dialect.calls", "count"), ("security.calls", "count"),
    ("spark.plan_s", "s"), ("spark.plan_nodes", "count"),
    ("spark.exec_s", "s"), ("spark.count_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.sched_delay_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("deliver.to_arrow_s", "s"), ("deliver.convert_s", "s"),
    ("operators.build_jobs", "count"), ("operators.cold_over_warm", "x"),
    ("streaming.batches", "count"), ("streaming.nodata_batches", "count"),
    ("warehouse.files", "count"), ("warehouse.write_amp", "x"),
    ("spark.driver_heap_mb", "MB"),
    ("unattributed_s", "s"), ("trace.span_overhead_s", "s"),
    ("trace.stmt_p50_s", "s"),
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "gizmosql_spark")):
        print("perfbench: no gizmosql_spark/ package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common, layers, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the finally blocks that stop the
    # servers and workers this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    t0 = time.monotonic()
    try:
        res = workloads.WORKLOADS[args.workload](run)
        per_layer = (layers.rollup(run.dir, res, tracing.span_overhead_s())
                     if args.trace else {})
    finally:
        run.cleanup()
    e2e = res["metrics"]
    e2e["error_rate"] = run.failed / max(1, run.attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": common.cpus(),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit": common.commit(), "run_s": time.monotonic() - t0,
        "attempted": run.attempted, "failed": run.failed,
        "failures": run.failures, "phases_s": run.phases,
        "end_to_end": e2e, "per_layer": per_layer,
    }
    print("# record " + json.dumps(record, default=str))
    if args.trace:
        chosen = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        chosen = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": chosen}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
