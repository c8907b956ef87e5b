"""Server launcher: one gizmosql-spark Flight SQL server per run.

Usage (from the repository root, normally started by ``run.py``):

    python3 perfbench/server.py --rundir DIR --data DIR --ready FILE \
        [--trace]

The server keeps the package's shipped defaults; the launcher only
adds users for the benchmark's clients and permanent views over the
fixture tables, and with ``--trace`` the span wrappers and Spark's
event log. When listening it writes ``--ready`` (port, wall-clock
ready time) and serves until SIGTERM; a traced server then writes its
spans to ``DIR/spans-<pid>.json`` before stopping Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import PASSWORD, USERS  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Tracer,
    heap_sampler,
    no_span,
    plan_nodes,
)



def _user_of(server, context, *_a, **_k) -> dict:
    return {"user": server._claims(context).get("sub")}


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer a statement crosses."""
    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.catalog import Catalog
    from pyspark.sql.classic.dataframe import DataFrame

    from gizmosql_spark import dialect, geo, security
    from gizmosql_spark import engine as engine_mod
    from gizmosql_spark.flight_server import FlightEngineServer
    from gizmosql_spark.instrumentation import AccessLog, InstrumentationStore
    from gizmosql_spark.querylog import QueryLog
    from gizmosql_spark.telemetry import Telemetry
    from gizmosql_spark.warehouse import WarehouseCatalog

    tracer.inherit_threads()
    for verb in ("get_flight_info", "do_get", "do_put", "do_action"):
        tracer.wrap(FlightEngineServer, verb, f"flight_server.{verb}",
                    _user_of)
    Engine = engine_mod.Engine
    _install_split(tracer, Engine)
    for method in ("execute_sql", "execute_prepared", "prepare",
                   "collect_arrow", "ingest", "reattach"):
        tracer.wrap(Engine, method, f"engine.{method}")
    tracer.wrap(Engine, "_refresh_everywhere", "engine.ingest.refresh")
    # dialect functions the engine imported by name, then the module
    for name, fn in list(vars(engine_mod).items()):
        if getattr(fn, "__module__", None) == dialect.__name__ \
                and callable(fn) and not isinstance(fn, type):
            tracer.wrap(engine_mod, name, f"dialect.{name}")
    tracer.wrap_public(dialect, "dialect")
    tracer.wrap_public(security, "security")
    for cls, prefix in ((QueryLog, "sink.query_log"),
                        (InstrumentationStore, "sink.instr"),
                        (AccessLog, "sink.access_log"),
                        (Telemetry, "sink.telemetry")):
        tracer.wrap_public(cls, prefix)
    tracer.wrap_public(Catalog, "spark.catalog")
    tracer.wrap(SparkSession, "sql", "spark.analyze")
    tracer.wrap(SparkSession, "createDataFrame", "spark.create_df")
    tracer.wrap(DataFrame, "count", "spark.count")
    tracer.wrap(DataFrame, "toArrow", "deliver.to_arrow")
    tracer.wrap(DataFrameWriter, "saveAsTable", "spark.save_as_table")
    tracer.wrap(geo, "attach_geoarrow_metadata", "deliver.geoarrow")
    for method in ("prepare_write", "record", "snapshot", "reattach_all"):
        tracer.wrap(WarehouseCatalog, method, f"warehouse.{method}")


def _install_split(tracer: Tracer, Engine) -> None:
    """Before the engine delivers a query result, force its physical
    plan (``spark.plan``) and execute it once into the no-op sink
    (``spark.exec``), so delivery's own cost can be told apart. Tags
    the statement's event-log key on the enclosing span."""
    orig = Engine.collect_arrow

    def collect_arrow(self, session_id, result, *args, **kwargs):
        df = result.df
        st = self._session(session_id)
        if df is not None:
            seq = st.statement_seq + 1
            with tracer.span("spark.plan") as attrs:
                attrs["nodes"] = plan_nodes(
                    df._jdf.queryExecution().executedPlan())
            sc = self.spark.sparkContext
            sc.setJobGroup(session_id, f"stmt-{seq}-exec")
            try:
                with tracer.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                # the count() that bench.py times, for comparison only
                sc.setJobGroup(session_id, f"stmt-{seq}-count")
                df.count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        try:
            return orig(self, session_id, result, *args, **kwargs)
        finally:
            tracer.mark("stmt.key", group=session_id,
                        desc=f"stmt-{st.statement_seq}")

    Engine.collect_arrow = collect_arrow


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    tracer = Tracer() if args.trace else None
    if tracer:
        install(tracer)
    from gizmosql_spark.catalog import FIXTURE_TABLES
    from gizmosql_spark.engine import Engine
    from gizmosql_spark.flight_server import FlightEngineServer
    from gizmosql_spark.session import get_spark

    extra = {}
    if args.trace:
        events = os.path.join(args.rundir, "events")
        os.makedirs(events, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + events}
    span = tracer.span if tracer else no_span
    with span("session.get_spark"):
        spark = get_spark("gizmosql-spark-engine", extra_confs=extra)
    engine = Engine(spark=spark)
    for user in USERS:
        engine.add_user(user, PASSWORD, role="user")
    with span("session.views"):
        for t in FIXTURE_TABLES:
            path = os.path.join(args.data, f"{t}.parquet")
            if os.path.exists(path):
                spark.sql(f"CREATE OR REPLACE VIEW {t} AS "
                          f"SELECT * FROM parquet.`{path}`")
    server = FlightEngineServer(engine=engine, location="grpc://127.0.0.1:0")

    stop, dump = threading.Event(), threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    # SIGUSR1: write the spans now (the durability check then kills
    # the server with SIGKILL, which leaves no chance to write them)
    signal.signal(signal.SIGUSR1, lambda *_: dump.set())
    spans_path = os.path.join(args.rundir, f"spans-{os.getpid()}.json")
    heap: dict = {}
    sampler = None
    if tracer:
        sampler = threading.Thread(
            target=heap_sampler, args=(spark, stop, heap), daemon=True)
        sampler.start()
    tmp = args.ready + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"port": server.port, "ready_ts": time.time(),
                   "pid": os.getpid()}, f)
    os.replace(tmp, args.ready)

    while not stop.wait(0.2):
        if dump.is_set() and tracer:
            dump.clear()
            tracer.mark("jvm.heap", **heap)
            tracer.dump(spans_path)
    server.shutdown()
    if tracer:
        stop.set()
        sampler.join(5)
        tracer.restore()
        tracer.mark("jvm.heap", **heap)
        tracer.dump(spans_path)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
