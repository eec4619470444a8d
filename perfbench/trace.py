"""In-memory span recorder and the wrappers that put spans around layer
boundaries from outside the program.

Nothing here edits ``mindsdb_spark``: the traced run replaces public
functions and methods with timing wrappers (the engine imports its
operator functions at call time, so replacing the module attribute is
enough). Spans live in a list until the run ends and are then written as
JSON lines. A layer's self time is its span minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

_local = threading.local()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        # counter name -> statement id -> calls
        self.counters: dict[str, dict] = {}
        # statement id -> the client-side span, so the server-side span of
        # the same statement (another thread) can name it as parent
        self.client_spans: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(_local, "stack", None)
        if st is None:
            st = _local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    def begin(self, name: str, stmt: int | None = None, parent: dict | None = None) -> dict:
        parent = parent or self.current()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "stmt": stmt if stmt is not None else (parent["stmt"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack().append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def add_client_span(self, stmt: int, start: float, end: float) -> None:
        """The client span of a statement timed by another process
        (perf_counter is system-wide monotonic on Linux), made the parent
        of the statement's server-side span."""
        span = {"id": next(self._ids), "name": "client.request", "parent": None,
                "stmt": stmt, "start": start, "end": end}
        with self._lock:
            self.spans.append(span)
            for s in self.spans:
                if s["name"] == "server.request" and s["stmt"] == stmt:
                    s["parent"] = span["id"]

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()

    def count(self, name: str) -> None:
        """One call of ``name``, attributed to the current statement."""
        cur = self.current()
        stmt = cur["stmt"] if cur else None
        with self._lock:
            per = self.counters.setdefault(name, {})
            per[stmt] = per.get(stmt, 0) + 1

    def counted(self, name: str, stmts: set) -> int:
        return sum(n for s, n in self.counters.get(name, {}).items() if s in stmts)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kw):
            span = self.begin(name)
            try:
                return fn(*args, **kw)
            finally:
                self.end(span)

        return traced

    def counting(self, name: str, fn):
        @functools.wraps(fn)
        def counted(*args, **kw):
            self.count(name)
            return fn(*args, **kw)

        return counted

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s["end"] is not None:
                    f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[int, float]:
        """Span id -> self seconds (duration minus the union of its
        children's intervals, clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_a, cur_b = 0.0, None, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def layer_self_s(self, stmts: set | None = None) -> dict[str, float]:
        """Summed self seconds per span name, optionally restricted to the
        spans of the given statement ids."""
        selft = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] in selft and (stmts is None or s["stmt"] in stmts):
                out[s["name"]] = out.get(s["name"], 0.0) + selft[s["id"]]
        return out

    def span_count(self, name: str, stmts: set | None = None) -> int:
        return sum(
            1 for s in self.spans
            if s["name"] == name and (stmts is None or s["stmt"] in stmts)
        )


def install(tracer: Tracer) -> None:
    """Put spans around EngineSession.sql / rewrite and DataFrame.collect,
    and call counters around the KB, vector and search operators."""
    from pyspark.sql.classic.dataframe import DataFrame

    from mindsdb_spark import engine
    from mindsdb_spark.operators import kb, search, vector

    engine.EngineSession.sql = tracer.wrap("engine.sql", engine.EngineSession.sql)
    engine.EngineSession.rewrite = tracer.wrap(
        "dialect.rewrite", engine.EngineSession.rewrite
    )
    DataFrame.collect = tracer.wrap("session.collect", DataFrame.collect)
    vector.cosine_topk = tracer.counting("vector.cosine_topk", vector.cosine_topk)
    search.hybrid_topk = tracer.counting("search.hybrid_topk", search.hybrid_topk)
    # the benchmark's KB uses the hashing embedder
    kb.hash_embed = tracer.counting("kb.embed", kb.hash_embed)


def install_server(tracer: Tracer, server, sc) -> None:
    """Wrap the HTTP door of one SQLServer: a ``server.request`` span per
    POST (parented to the client's span through the X-Bench-Stmt header),
    a ``server.lock_wait`` span around acquiring the execution lock, and a
    Spark job group per statement so the status tracker can attribute
    jobs, stages and tasks to it."""
    handler = server._httpd.RequestHandlerClass
    do_post = handler.do_POST

    def do_POST(self):
        stmt = int(self.headers.get("X-Bench-Stmt", "0"))
        span = tracer.begin("server.request", stmt=stmt, parent=tracer.client_spans.get(stmt))
        sc.setJobGroup(f"stmt-{stmt}", "perfbench", interruptOnCancel=False)
        try:
            do_post(self)
        finally:
            tracer.end(span)

    handler.do_POST = do_POST
    server._exec_lock = _TimedLock(tracer, server._exec_lock)


class _TimedLock:
    """Drop-in for the server's execution lock that records the wait."""

    def __init__(self, tracer: Tracer, lock):
        self._tracer, self._lock = tracer, lock

    def __enter__(self):
        span = self._tracer.begin("server.lock_wait")
        self._lock.acquire()
        self._tracer.end(span)
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


def job_stats(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) Spark ran under a job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return jobs, stages, tasks, failed
