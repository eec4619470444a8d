"""Pieces every workload shares: the run context, the HTTP client, the
closed-loop client runner, sample recording and answer normalization."""

from __future__ import annotations

import http.client
import json
import math
import os
import threading
import time

# every run generates its fixture tables with
# mindsdb_spark.fixtures.generate_sf, a multiple of the sf0.1 row counts:
# interactive_sql at 1 (150,000 orders, 15,000 customers, 25 nations, 5
# regions), kb_curation at 1.2 (6,000 documents: 5,000 for the KB build and
# 1,000 held out for inserts); each workload has only the tables it reads
# generated
SCALE = {"interactive_sql": 1.0, "kb_curation": 1.2}
TABLES = {
    "interactive_sql": ["customer", "nation", "orders", "region"],
    "kb_curation": ["documents"],
}


def data_path() -> str:
    """The run's fixture directory, inside its temp dir (removed at exit):
    every run generates its tables afresh, whatever ran before it."""
    return os.path.join(os.environ["TMPDIR"], "data")


def expected_path(path: str, workload: str) -> str:
    """Where the prepare process leaves a workload's expected answers."""
    return os.path.join(path, f"expected_{workload}.json")


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


class Ctx:
    """What a workload gets: Spark, the tracer (None when untraced), the
    seed and window length, and ``layer`` for the timings it reports."""

    def __init__(self, args, spark, tracer):
        self.args, self.spark, self.tracer = args, spark, tracer
        self.sc = spark.sparkContext
        self.seed, self.seconds = args.seed, args.seconds
        self.layer: dict[str, float] = {}
        self.fixtures_s = 0.0

    def phase(self, name: str) -> None:
        """Progress line for the side log."""
        print(f"[{time.time() - self.args.t0:7.2f}s] {name}", flush=True)

    def data_dir(self) -> str:
        """The fixture directory of this run (see worker.fixtures)."""
        return data_path()

    def expected(self) -> dict:
        """The workload's expected answers, computed by a process of their
        own (workloads.PREPARE)."""
        with open(expected_path(self.data_dir(), self.args.workload)) as f:
            return json.load(f)

    def ready(self) -> None:
        """Set-up ends here, just before the first timed operation:
        setup_s counts from the start of the process, less the time spent
        making the fixtures and expected answers."""
        self.setup_s = time.time() - self.args.t0 - self.fixtures_s
        self.phase("measure")


def post_sql(host: str, port: int, sql: str, stmt: int = 0):
    """One statement through the HTTP door. Returns (seconds from sending
    the request until the full answer arrived, parsed answer)."""
    body = json.dumps({"query": sql}).encode()
    t = time.perf_counter()
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        conn.request(
            "POST", "/api/sql/query", body,
            {"Content-Type": "application/json", "X-Bench-Stmt": str(stmt)},
        )
        raw = conn.getresponse().read()
    finally:
        conn.close()
    dt = time.perf_counter() - t
    return dt, json.loads(raw)


class Recorder:
    """Samples of one measured window: (kind, label, seconds, ok, id)."""

    def __init__(self):
        self.samples: list[tuple[str, str, float, bool, int]] = []
        self.errors: dict[str, int] = {}
        self.window_s = 0.0
        self._lock = threading.Lock()

    def add(self, st: dict, dt: float, ok: bool, stmt: int) -> None:
        with self._lock:
            self.samples.append((st["kind"], st["label"], dt, ok, stmt))
            if not ok:
                self.errors[st["label"]] = self.errors.get(st["label"], 0) + 1


def run_clients(ctx: Ctx, server, stmts: list[dict], n_clients: int, check,
                cycle: int, min_cycles: int, warm_up: bool = False) -> Recorder:
    """Closed loop of ``n_clients`` HTTP clients over the fixed statement
    list, run by perfbench.clients in a process of its own; answers are
    checked here afterwards. The window is whole cycles of ``cycle``
    statements, at least ``min_cycles``: it ends at the first cycle
    boundary after ``ctx.seconds``, so every run measures the same mix of
    statements. A ``warm_up`` run sends only its ``min_cycles`` and leaves
    no client spans."""
    import subprocess
    import sys

    tmp = os.environ["TMPDIR"]
    stmts_path, out_path = os.path.join(tmp, "stmts.json"), os.path.join(tmp, "clients.json")
    with open(stmts_path, "w") as f:
        json.dump([{"sql": st["sql"]} for st in stmts], f)
    subprocess.run(
        [sys.executable, "-m", "perfbench.clients", "--host", server.host,
         "--port", str(server.port), "--clients", str(n_clients),
         "--seconds", str(0 if warm_up else ctx.seconds),
         "--cycle", str(cycle),
         "--min-cycles", str(min_cycles),
         "--stmts", stmts_path, "--out", out_path],
        check=True,
    )
    with open(out_path) as f:
        res = json.load(f)
    rec = Recorder()
    for d in res["done"]:
        st, sid = stmts[d["i"] % len(stmts)], d["i"] + 1
        rec.add(st, d["end"] - d["start"], check(st, d["answer"]), sid)
        if ctx.tracer is not None and not warm_up:
            ctx.tracer.add_client_span(sid, d["start"], d["end"])
    rec.window_s = max((d["end"] for d in res["done"]), default=res["start"]) - res["start"]
    return rec


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def norm_rows(rows) -> list:
    """Order-free, type-tolerant form of a result: numbers as floats,
    dates as ISO text, rows sorted (numbers rounded for the sort key only)."""
    rows = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(rows, key=lambda r: repr(
        tuple(float(f"{v:.6g}") if isinstance(v, float) else v for v in r)
    ))


def same_rows(got: list, want: list) -> bool:
    """Normalized results equal, floats to a relative 1e-9: a float SUM's
    last digits depend on the order Spark adds the partitions in."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True
