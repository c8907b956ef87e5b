"""Per-run context shared by the workloads: hermetic directories, the
child environment, server start/stop and result checking helpers."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa

from perfbench import proc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the input tables: a copy of the sf0.01 fixture the repository's
#: correctness tests read (TESTDATA.md, seed 42), the same for every
#: run and seed
FIXTURE = os.path.join(HERE, "fixture")
#: the server's users: one principal, hence one session, per client
USERS = ("c0", "c1", "writer", "r0", "r1")
PASSWORD = "bench"
#: driver heap cap for every Spark process the benchmark starts
DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def commit() -> str:
    """The git commit when run from a clone, else 'unknown'."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    dir: str = ""
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)

    def __post_init__(self):
        self.dir = os.path.join(ROOT, ".perfbench", f"{self.workload}-"
                                f"{self.seed}-{os.getpid()}-{time.time_ns()}")
        for sub in ("cwd", "local", "tmp"):
            os.makedirs(os.path.join(self.dir, sub))
        # a per-run copy of the fixture, so no run can change the next
        self.data = os.path.join(self.dir, "data")
        shutil.copytree(FIXTURE, self.data)
        self._lap = time.monotonic()

    def env(self) -> dict:
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(self.dir, "warehouse"),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(self.dir, "local"),
            "TMPDIR": os.path.join(self.dir, "tmp"),
            # the shipped 16g heap cap can exceed a small host's memory
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        })
        return env

    def lap(self, name: str) -> None:
        """Record the time since the previous lap as phase ``name``."""
        now = time.monotonic()
        self.phases[name] = now - self._lap
        self._lap = now

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class Server:
    """A server process group; ``setup_s`` runs from process start to
    the server being ready for its first statement."""

    def __init__(self, run: Run, trace: bool, prewarm: bool = True,
                 timeout: float = 90.0):
        n = len([f for f in os.listdir(run.dir) if f.startswith("ready")])
        ready = os.path.join(run.dir, f"ready-{n}.json")
        argv = [sys.executable, os.path.join(HERE, "server.py"),
                "--rundir", run.dir, "--data", run.data, "--ready", ready]
        if trace:
            argv.append("--trace")
        env = run.env()
        if not prewarm:
            env["SPARK_GRAFT_PREWARM"] = "0"
        self.dir = run.dir
        self.group = proc.Group(argv, os.path.join(run.dir, "cwd"), env,
                                os.path.join(run.dir, "server.log"))
        deadline = time.monotonic() + timeout
        while not os.path.exists(ready):
            if self.group.proc.poll() is not None or time.monotonic() > deadline:
                self.group.kill()
                raise RuntimeError("server did not start; see server.log")
            time.sleep(0.02)
        with open(ready) as f:
            info = json.load(f)
        self.port = info["port"]
        self.setup_s = info["ready_ts"] - self.group.started

    def dump_spans(self, timeout: float = 30.0) -> None:
        """Ask a traced server to write its spans now (SIGUSR1)."""
        path = os.path.join(self.dir, f"spans-{self.group.pgid}.json")
        self.group.proc.send_signal(signal.SIGUSR1)
        deadline = time.monotonic() + timeout
        while not os.path.exists(path) and time.monotonic() < deadline:
            time.sleep(0.05)

    def stop(self) -> None:
        self.group.stop()

    def kill(self) -> None:
        self.group.kill()


def canonical(table: pa.Table) -> pa.Table:
    """Arrow table with engine-neutral column types: integers as int64,
    floats as float64, strings as large_string, timestamps as naive µs
    integers — so a Spark result and a DuckDB result compare exactly."""
    cols = []
    for col in table.columns:
        t = col.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_date(t):
            col = col.cast(pa.int32()).cast(pa.int64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            col = col.cast(pa.float64())
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            col = col.cast(pa.large_string())
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def rows_match(got: pa.Table, expected_rows: list, expected_cols: list,
               ordered: bool = False) -> bool:
    """``gizmosql_spark.testing``'s tolerance comparison (columns by
    sorted name, canonical cells, rel/abs tol 1e-9) on an Arrow result
    against DuckDB's rows."""
    from gizmosql_spark import testing

    if sorted(got.column_names) != sorted(expected_cols):
        return False
    g_order = sorted(range(len(got.column_names)),
                     key=lambda i: got.column_names[i])
    e_order = sorted(range(len(expected_cols)), key=lambda i: expected_cols[i])
    columns = [got.column(i).to_pylist() for i in g_order]
    g_rows = [tuple(testing._canon_cell(v) for v in r) for r in zip(*columns)]
    e_rows = [tuple(testing._canon_cell(r[i]) for i in e_order)
              for r in expected_rows]
    if len(g_rows) != len(e_rows):
        return False
    if not ordered:
        g_rows.sort(key=testing._sort_key)
        e_rows.sort(key=testing._sort_key)
    return all(testing._rows_equal(a, b) for a, b in zip(g_rows, e_rows))


def duckdb_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    from gizmosql_spark.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def duckdb_seconds(con, sql: str, reps: int = 5) -> float:
    """DuckDB's time to run ``sql`` and fetch it as Arrow: the fastest
    of ``reps`` runs, the steadiest estimate of a millisecond timing."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(sql).fetch_arrow_table()
        times.append(time.perf_counter() - t0)
    return min(times)
