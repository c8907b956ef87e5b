"""The four workloads. Each returns its end-to-end metrics, the client
operations of its timed window (as root spans for the traced run) and
the window's bounds.

Every workload is closed loop: a client sends its next request only
after the previous reply has fully arrived.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from datetime import timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.flight as flight

from perfbench.common import (
    PASSWORD,
    Run,
    Server,
    canonical,
    duckdb_seconds,
    duckdb_views,
    rows_match,
)
from perfbench.flightsql import Client
from perfbench.stats import latency_summary, union_length

MB = 1e6
#: a run must end within 180 s; the corpus worker is killed before that
WORKER_TIMEOUT_S = 140


class Ops:
    """Client operations of the timed window, thread-safe."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, user: str, kind: str, t0: float, t1: float, nbytes: int,
            ok: bool) -> None:
        with self._lock:
            self.items.append({"id": f"client-{len(self.items)}",
                               "parent": None, "name": f"client.{kind}",
                               "user": user, "t0": t0, "t1": t1,
                               "bytes": nbytes, "ok": ok})

    def of(self, prefix: str) -> list[dict]:
        return [o for o in self.items if o["name"].startswith(prefix)]


def statement_metrics(ops: list[dict]) -> dict:
    """Latency percentiles, and rates per second of busy time: the time
    in which at least one of these operations was in flight. Client
    work between operations (result checks, DuckDB timings) and a
    window's ragged end are not counted."""
    lat = [o["t1"] - o["t0"] for o in ops]
    s = latency_summary(lat)
    busy = union_length([(o["t0"], o["t1"]) for o in ops])
    return {
        "stmt_p50_s": s["p50"], "stmt_p90_s": s["tail"],
        "stmt_per_s": len(ops) / busy,
        "result_mb_per_s": sum(o["bytes"] for o in ops) / MB / busy,
        "_latency": s,
    }


def vs_duckdb(engine_s: dict[str, list[float]], duck_s: dict[str, float]):
    ratios = [statistics.median(v) / duck_s[k]
              for k, v in engine_s.items() if v and duck_s.get(k)]
    return statistics.median(ratios)


def cold_over_warm(cold_s: float, warm: dict[str, list[float]],
                   count: dict[str, int] | None = None) -> float:
    """The cold pass over the same work done warm: each kind's median
    warm time, times how often the cold pass did it (once by default).
    Both sides come from one run, seconds apart."""
    count = count or {}
    return cold_s / sum(count.get(k, 1) * statistics.median(v)
                        for k, v in warm.items() if v)


def run_threads(targets) -> None:
    """Run each target on its own thread; re-raise the first error."""
    errors = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # re-raised below, on this thread
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _timed(run: Run, ops: Ops | None, client: Client, user: str, kind: str,
           call, check) -> pa.Table | None:
    """One client operation: time it, check it, record it."""
    t0 = time.monotonic()
    try:
        table = call()
    except flight.FlightError as e:
        run.check(False, f"{kind}: {str(e).splitlines()[0][:200]}")
        return None
    t1 = t0 + client.last_s
    ok = run.check(check(table), f"{kind}: wrong result")
    if ops is not None:
        ops.add(user, kind, t0, t1, client.last_bytes, ok)
    return table


# ---------------------------------------------------------------------
# tpch_flight
# ---------------------------------------------------------------------

def tpch_flight(run: Run) -> dict:
    from gizmosql_spark.operators import tpch

    # q02's correlated reference does not resolve on Spark (see
    # tests/test_sql_surface.py); the other 21 are engine-neutral SQL
    names = sorted(set(tpch.ORACLE) - {"q02"})
    con = duckdb_views(run.data)
    oracle, duck_s = {}, {n: [] for n in names}
    for n in names:
        cur = con.execute(tpch.ORACLE[n])
        oracle[n] = ([d[0] for d in cur.description], cur.fetchall())
    run.lap("inputs")
    server = Server(run, run.trace)
    run.lap("setup")
    client = Client(server.port, "c0", PASSWORD)
    rng = random.Random(run.seed)
    ops = Ops()
    per_stmt: dict[str, list[float]] = {n: [] for n in names}

    def one(name, record):
        cols, rows = oracle[name]
        table = _timed(run, ops if record else None, client, "c0", "stmt",
                       lambda: client.query(tpch.ORACLE[name]),
                       lambda t: rows_match(t, rows, cols))
        if record and table is not None:
            per_stmt[name].append(client.last_s)
            # the server is idle between this client's statements
            duck_s[name].append(duckdb_seconds(con, tpch.ORACLE[name]))

    try:
        order = names[:]
        rng.shuffle(order)
        t0 = time.monotonic()
        for n in order:
            one(n, False)
        cold = time.monotonic() - t0
        run.lap("cold")
        # whole passes, so every run samples every statement equally
        start = time.monotonic()
        while time.monotonic() - start < run.seconds:
            rng.shuffle(order)
            for n in order:
                one(n, True)
        end = time.monotonic()
        run.lap("window")
    finally:
        client.close()
        con.close()
        server.stop()
    run.lap("stop")
    m = statement_metrics(ops.items)
    m.update(setup_s=server.setup_s, cold_pass_s=cold,
             cold_over_warm_x=cold_over_warm(cold, per_stmt),
             server_rss_mb=server.group.rss_median_mb(start, end),
             _peak_rss_mb=server.group.peak_rss_mb,
             vs_duckdb_x=vs_duckdb(per_stmt, {
                 k: statistics.median(v) for k, v in duck_s.items() if v}))
    return {"metrics": m, "ops": ops.items, "window": (start, end)}


# ---------------------------------------------------------------------
# wide_fetch
# ---------------------------------------------------------------------

WIDE_STATEMENTS = 6
WIDE_CLIENTS = 2
_WIDE_KEYS = {"lineitem": ["l_orderkey", "l_linenumber"],
              "orders": ["o_orderkey"]}
_WIDE_DATE = {"lineitem": "l_shipdate", "orders": "o_orderdate"}


def wide_statements(rng: random.Random, con) -> list[tuple[str, str]]:
    """Seeded ``SELECT *`` date windows returning 40k rows or more."""
    out = []
    for i in range(WIDE_STATEMENTS):
        table = "orders" if i % 3 == 2 else "lineitem"
        col = _WIDE_DATE[table]
        total, lo, hi = con.execute(
            f"SELECT count(*), min({col}), max({col}) FROM {table}").fetchone()
        span = (hi - lo).days + 1
        frac = rng.uniform(min(1.0, 40_000 / total), 1.0)
        days = max(1, int(span * frac))
        first = lo + timedelta(days=rng.randint(0, span - days))
        last = first + timedelta(days=days)
        out.append((table, f"SELECT * FROM {table} WHERE {col} >= "
                    f"TIMESTAMP '{first}' AND {col} < TIMESTAMP '{last}'"))
    return out


def _sorted_canonical(table: pa.Table, keys: list[str]) -> pa.Table:
    return canonical(table).sort_by([(k, "ascending") for k in keys])


def wide_fetch(run: Run) -> dict:
    rng = random.Random(run.seed)
    con = duckdb_views(run.data)
    stmts = wide_statements(rng, con)
    expected, duck_s = [], {}
    for i, (table, sql) in enumerate(stmts):
        expected.append(_sorted_canonical(
            con.execute(sql).fetch_arrow_table(), _WIDE_KEYS[table]))
        duck_s[str(i)] = duckdb_seconds(con, sql)
    con.close()
    run.lap("inputs")

    def check(i):
        keys = _WIDE_KEYS[stmts[i][0]]
        return lambda t: _sorted_canonical(t, keys).equals(expected[i])

    server = Server(run, run.trace)
    run.lap("setup")
    clients = [Client(server.port, f"c{k}", PASSWORD)
               for k in range(WIDE_CLIENTS)]
    ops = Ops()
    per_stmt: dict[str, list[float]] = {str(i): [] for i in range(len(stmts))}
    lock = threading.Lock()
    try:
        t0 = time.monotonic()
        for i in range(len(stmts)):
            _timed(run, None, clients[0], "c0", "stmt",
                   lambda i=i: clients[0].query(stmts[i][1]), check(i))
        cold = time.monotonic() - t0
        run.lap("cold")
        start = time.monotonic()

        def loop(k):
            cl, crng = clients[k], random.Random(run.seed * 1000 + k)
            while time.monotonic() - start < run.seconds:
                i = crng.randrange(len(stmts))
                t = _timed(run, ops, cl, cl.user, "stmt",
                           lambda: cl.query(stmts[i][1]), check(i))
                if t is not None:
                    with lock:
                        per_stmt[str(i)].append(cl.last_s)

        run_threads([lambda k=k: loop(k) for k in range(WIDE_CLIENTS)])
        end = time.monotonic()
        run.lap("window")
    finally:
        for cl in clients:
            cl.close()
        server.stop()
    run.lap("stop")
    m = statement_metrics(ops.items)
    m.update(setup_s=server.setup_s, cold_pass_s=cold,
             cold_over_warm_x=cold_over_warm(cold, per_stmt),
             server_rss_mb=server.group.rss_median_mb(start, end),
             _peak_rss_mb=server.group.peak_rss_mb,
             vs_duckdb_x=vs_duckdb(per_stmt, duck_s))
    return {"metrics": m, "ops": ops.items, "window": (start, end)}


# ---------------------------------------------------------------------
# ingest_mix
# ---------------------------------------------------------------------

INGEST_TABLE = "bench_ingest"
INGEST_ROWS = 50_000
READERS = ("r0", "r1")
READ_SQL = {
    "point": f"SELECT id, grp, v, tag FROM {INGEST_TABLE} WHERE id = ?",
    "range": (f"SELECT id, grp, v, tag FROM {INGEST_TABLE} "
              "WHERE id >= ? AND id < ?"),
    "agg": f"SELECT count(*) AS n, sum(v) AS sv FROM {INGEST_TABLE}",
}
#: the lookups are prepared statements; the aggregate is a plain
#: statement, so it also crosses the engine's dialect and security gates
PREPARED = ("point", "range")
RANGE_WIDTH = 2000
_TAGS = ["alpha", "beta", "gamma", "delta"]


def ingest_batch(seed: int, b: int) -> pa.Table:
    """Batch ``b`` of the writer's stream: ids ``[b·N, (b+1)·N)``."""
    rng = np.random.default_rng([seed, b])
    ids = np.arange(b * INGEST_ROWS, (b + 1) * INGEST_ROWS, dtype=np.int64)
    return pa.table({
        "id": ids,
        "grp": pa.array(ids % 97, pa.int32()),
        "v": np.round(rng.uniform(0, 1000, INGEST_ROWS), 2),
        "tag": pa.array(np.asarray(_TAGS, dtype=object)[
            rng.integers(0, 4, INGEST_ROWS)].tolist(), pa.string()),
    })


class Ledger:
    """The writer's record: every batch sent, and how many of them the
    server acknowledged (batches are acknowledged in order)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.batches: list[pa.Table] = []
        self.prefix_sum = [0.0]
        self.acked = 0
        self.lock = threading.Lock()

    @property
    def sent(self) -> int:
        with self.lock:
            return len(self.batches)

    def send(self) -> pa.Table:
        with self.lock:
            batch = ingest_batch(self.seed, len(self.batches))
            self.batches.append(batch)
            self.prefix_sum.append(
                self.prefix_sum[-1] + float(np.sum(batch["v"].to_numpy())))
            return batch

    def ack(self) -> None:
        with self.lock:
            self.acked += 1

    def rows(self, lo: int, hi: int) -> pa.Table:
        """Sent rows with ids in [lo, hi)."""
        parts = []
        for b in range(lo // INGEST_ROWS, (hi - 1) // INGEST_ROWS + 1):
            off = max(lo - b * INGEST_ROWS, 0)
            parts.append(self.batches[b].slice(
                off, min(hi - b * INGEST_ROWS, INGEST_ROWS) - off))
        return pa.concat_tables(parts)

    def acknowledged(self) -> pa.Table:
        return pa.concat_tables(self.batches[:self.acked])


def _same_rows(got: pa.Table, want: pa.Table) -> bool:
    return (canonical(got.select(want.column_names))
            .sort_by([("id", "ascending")])
            .equals(canonical(want)))


def _agg_ok(t: pa.Table, ledger: Ledger, lo_batches: int) -> bool:
    """count and sum over whole batches: at least every batch
    acknowledged before the read, at most every batch sent by now."""
    if t.num_rows != 1:
        return False
    n, sv = t.column("n")[0].as_py(), t.column("sv")[0].as_py()
    if n % INGEST_ROWS or not lo_batches <= n // INGEST_ROWS <= ledger.sent:
        return False
    want = ledger.prefix_sum[n // INGEST_ROWS]
    return abs((sv or 0.0) - want) <= 1e-9 * max(1.0, abs(want))


def ingest_mix(run: Run) -> dict:
    ledger = Ledger(run.seed)
    server = Server(run, run.trace)
    run.lap("setup")
    writer = Client(server.port, "writer", PASSWORD)
    readers = [Client(server.port, u, PASSWORD) for u in READERS]
    ops = Ops()
    #: warm timings: ingest → [s]; read kind → [(s, batches in the table)]
    ingest_lat: list[float] = []
    reads_at: dict[str, list[tuple[float, int]]] = {k: [] for k in READ_SQL}
    handles: dict[tuple[str, str], bytes] = {}
    lock = threading.Lock()
    stopping = threading.Event()

    def append(record: bool) -> None:
        batch = ledger.send()
        first = ledger.sent == 1
        t0 = time.monotonic()
        try:
            n = writer.ingest(INGEST_TABLE, batch, append=not first)
        except flight.FlightError as e:
            run.check(False, f"ingest: {str(e).splitlines()[0][:200]}")
            stopping.set()
            return
        ok = run.check(n == batch.num_rows, f"ingest acked {n}")
        if ok:
            ledger.ack()
        else:
            stopping.set()
        if record:
            ops.add("writer", "ingest", t0, t0 + writer.last_s, batch.nbytes, ok)
            ingest_lat.append(writer.last_s)

    def read(k: int, kind: str, rng: random.Random, record: bool) -> None:
        """One read; its parameters are seeded, its expected result
        comes from the ledger as it stood when the read was sent."""
        cl = readers[k]
        lo_batches = ledger.acked
        rows = lo_batches * INGEST_ROWS
        if kind == "point":
            i = rng.randrange(rows)
            params, want = {"id": i}, (i, i + 1)
        elif kind == "range":
            i = rng.randrange(rows - RANGE_WIDTH)
            params, want = {"lo": i, "hi": i + RANGE_WIDTH}, (i, i + RANGE_WIDTH)
        else:
            params, want = {}, None

        def check(t):
            if want is None:
                return _agg_ok(t, ledger, lo_batches)
            return _same_rows(t, ledger.rows(*want))

        if kind == "agg":
            def call():
                return cl.query(READ_SQL["agg"])
        else:
            def call():
                return cl.execute_prepared(handles[(cl.user, kind)], params)
        t = _timed(run, ops if record else None, cl, cl.user, f"read.{kind}",
                   call, check)
        if record and t is not None:
            with lock:
                reads_at[kind].append((cl.last_s, lo_batches))

    try:
        t0 = time.monotonic()
        append(False)
        append(False)
        for cl in readers:
            for kind in PREPARED:
                handles[(cl.user, kind)] = cl.prepare(READ_SQL[kind])
        rng0 = random.Random(run.seed)
        for k in range(len(readers)):
            for kind in READ_SQL:
                read(k, kind, rng0, False)
        cold = time.monotonic() - t0
        run.lap("cold")

        start = time.monotonic()

        def write_loop():
            while time.monotonic() - start < run.seconds \
                    and not stopping.is_set():
                append(True)

        def read_loop(k):
            # each reader cycles point → range → aggregate, so every run
            # reads the same mix
            rng = random.Random(run.seed * 1000 + k)
            kinds = list(READ_SQL)
            i = k
            while time.monotonic() - start < run.seconds \
                    and not stopping.is_set():
                read(k, kinds[i % len(kinds)], rng, True)
                i += 1

        run_threads([write_loop] + [
            lambda k=k: read_loop(k) for k in range(len(readers))])
        end = time.monotonic()
        run.lap("window")
        peak_rss = server.group.peak_rss_mb
        rss = server.group.rss_median_mb(start, end)
        info = _warehouse_info(run, ledger)
        # DuckDB doing the same work, right after the window while the
        # server is idle
        ratios = _ingest_vs_duckdb(run, ledger, ingest_lat, reads_at)
        run.lap("duckdb")
    finally:
        for cl in [writer, *readers]:
            cl.close()
        if run.trace:
            server.dump_spans()
        server.kill()  # the durability check: no clean shutdown

    run.lap("kill")
    # restart on the same warehouse (the engine re-attaches its tables
    # as it starts); every acknowledged row must be back. The restart is
    # not measured, so it skips the Python worker prewarm.
    server2 = Server(run, run.trace, prewarm=False)
    run.lap("restart")
    check_client = Client(server2.port, "r0", PASSWORD)
    try:
        got = check_client.query(f"SELECT id, grp, v, tag FROM {INGEST_TABLE}")
        run.check(_same_rows(got, ledger.acknowledged()),
                  f"durability: {got.num_rows} rows back, "
                  f"{ledger.acked * INGEST_ROWS} acknowledged")
    except flight.FlightError as e:
        run.check(False, f"durability: {str(e).splitlines()[0][:200]}")
    finally:
        check_client.close()
        server2.stop()
    run.lap("durability")

    m = statement_metrics(ops.of("client.read"))
    ing = latency_summary(ingest_lat) if ingest_lat else None
    warm = {"ingest": ingest_lat,
            **{k: [s for s, _ in v] for k, v in reads_at.items()}}
    # the cold pass is two appends and each reader's three reads
    m.update(setup_s=server.setup_s, cold_pass_s=cold,
             cold_over_warm_x=cold_over_warm(
                 cold, warm, {"ingest": 2, "point": 2, "range": 2, "agg": 2}),
             server_rss_mb=rss, _peak_rss_mb=peak_rss,
             # the median over every operation, as for the other
             # workloads' statements
             vs_duckdb_x=statistics.median(
                 r for v in ratios.values() for r in v),
             _vs_duckdb_by_kind={k: statistics.median(v)
                                 for k, v in ratios.items() if v},
             ingest_rows_per_s=statement_metrics(
                 ops.of("client.ingest"))["stmt_per_s"] * INGEST_ROWS,
             ingest_p90_s=ing["tail"] if ing else float("nan"),
             _ingest_latency=ing, _restart_setup_s=server2.setup_s,
             _warehouse=info)
    return {"metrics": m, "ops": ops.items, "window": (start, end)}


def _ingest_vs_duckdb(run: Run, ledger: Ledger, ingest_lat: list[float],
                      reads_at: dict[str, list[tuple[float, int]]]):
    """Engine time ÷ DuckDB time for the same work, per operation of the
    window, grouped by kind: the same 50k-row append into an on-disk
    DuckDB table, and the same read over as many batches as the
    engine's table held when the read was sent."""
    batches = ledger.batches[:ledger.acked]
    con = duckdb.connect(os.path.join(run.dir, "duckdb.db"))
    con.register("batch", batches[0])
    con.execute(f"CREATE TABLE {INGEST_TABLE} AS SELECT * FROM batch LIMIT 0")
    inserts = []
    for b in batches:
        con.register("batch", b)
        t0 = time.perf_counter()
        con.execute(f"INSERT INTO {INGEST_TABLE} SELECT * FROM batch")
        inserts.append(time.perf_counter() - t0)
    con.close()
    out = {"ingest": [s / statistics.median(inserts) for s in ingest_lat]}
    con = duckdb.connect()
    duck: dict[tuple[str, int], float] = {}
    for n in sorted({n for v in reads_at.values() for _, n in v}):
        con.register(INGEST_TABLE, pa.concat_tables(batches[:n]))
        mid = n * INGEST_ROWS // 2
        duck["point", n] = duckdb_seconds(
            con, READ_SQL["point"].replace("?", str(mid)))
        duck["range", n] = duckdb_seconds(con, READ_SQL["range"].replace(
            "?", str(mid), 1).replace("?", str(mid + RANGE_WIDTH)))
        duck["agg", n] = duckdb_seconds(con, READ_SQL["agg"])
    con.close()
    for kind, v in reads_at.items():
        out[kind] = [s / duck[kind, n] for s, n in v]
    return out


def _warehouse_info(run: Run, ledger: Ledger) -> dict:
    """Bytes and data files the warehouse holds for the table, against
    the Arrow bytes the server acknowledged."""
    path = os.path.join(run.dir, "warehouse", INGEST_TABLE)
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += not n.startswith((".", "_"))
    acked = sum(b.nbytes for b in ledger.batches[:ledger.acked])
    return {"files": files, "bytes": size, "acked_bytes": acked}


# ---------------------------------------------------------------------
# corpus_ops
# ---------------------------------------------------------------------

def corpus_ops(run: Run) -> dict:
    """Runs the operator library in a child process (corpus.py); the
    DuckDB oracles are computed here first, with no Spark running."""
    import pickle

    from perfbench import corpus
    from perfbench.common import HERE
    from perfbench.proc import Group

    from gizmosql_spark.operators import registry

    oracles = registry.pipeline_oracles()
    con = duckdb_views(run.data)
    expected = {}
    for name in corpus.OPERATORS:
        cur = con.execute(oracles[name])
        expected[name] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    with open(os.path.join(run.dir, "oracle.pkl"), "wb") as f:
        pickle.dump(expected, f)
    run.lap("inputs")

    out = os.path.join(run.dir, "corpus.json")
    argv = [sys.executable, os.path.join(HERE, "corpus.py"), "--rundir",
            run.dir, "--data", run.data, "--seed", str(run.seed),
            "--seconds", str(run.seconds), "--out", out]
    if run.trace:
        argv.append("--trace")
    group = Group(argv, os.path.join(run.dir, "cwd"), run.env(),
                  os.path.join(run.dir, "corpus.log"))
    try:
        group.proc.wait(WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        group.kill()
    code = group.stop()
    run.lap("worker")
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"corpus worker failed ({code}); see corpus.log")
    with open(out) as f:
        res = json.load(f)
    for name, ok, what in res["checks"]:
        run.check(ok, f"{name}: {what}")
    ops = res["ops"]
    start, end = res["window"]
    per_op: dict[str, list[float]] = {}
    for o in ops:
        per_op.setdefault(o["op"], []).append(o["t1"] - o["t0"])
    m = statement_metrics(ops)
    m.update(setup_s=res["ready_ts"] - group.started,
             cold_pass_s=res["cold_pass_s"],
             cold_over_warm_x=cold_over_warm(res["cold_pass_s"], per_op),
             server_rss_mb=group.rss_median_mb(start, end),
             _peak_rss_mb=group.peak_rss_mb,
             vs_duckdb_x=vs_duckdb(per_op, {
                 k: statistics.median(v) for k, v in res["duckdb_s"].items()}),
             _cold_s=res["cold_times"])
    run.phases.update(res["phases"])
    return {"metrics": m, "ops": ops, "window": (start, end), "corpus": True,
            "cold_times": res["cold_times"], "wall_offset": res["wall_offset"]}


WORKLOADS = {
    "tpch_flight": tpch_flight,
    "wide_fetch": wide_fetch,
    "ingest_mix": ingest_mix,
    "corpus_ops": corpus_ops,
}
