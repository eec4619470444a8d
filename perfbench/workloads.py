"""The perfbench workloads. Each takes a ``Ctx`` (see harness.py), sets
up, warms up, calls ``ctx.ready()`` just before its first timed operation,
measures whole cycles of its operation list and returns a ``Recorder``.
``PREPARE`` computes each workload's expected answers without Spark; the
worker has that done in a side process before set-up, so it is in no
metric.

* interactive_sql — 4 HTTP clients, a fixed read-only mix of SQL reads,
                    MySQL-dialect functions, model joins and catalog
                    commands
* kb_curation     — 1 caller: KB searches and inserts through the HTTP
                    door, and a full pass of the curation operator chain
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench.harness import (
    TABLES, Ctx, Recorder, norm_rows, post_sql, run_clients, same_rows,
)


def _install_server_trace(ctx: Ctx, server) -> None:
    if ctx.tracer is not None:
        from perfbench.trace import install_server

        install_server(ctx.tracer, server, ctx.sc)


# -- interactive_sql ---------------------------------------------------------

def _risk_model(sc):
    """The predictor the mix joins against, plus the accumulator its
    predict function adds scored rows to."""
    import pandas as pd

    from mindsdb_spark.operators.model import ModelSpec

    scored = sc.accumulator(0)

    def predict(pdf):
        scored.add(len(pdf))
        risk = (pdf["o_totalprice"] / 500000.0).clip(upper=1.0)
        return pd.DataFrame({"risk": risk, "band": risk.map(lambda r: "hi" if r > 0.5 else "lo")})

    return ModelSpec(name="riskm", predict=predict, output_schema="risk double, band string"), scored


# one cycle: three rounds of seven SQL reads, the first two closed by a
# catalog command
SQL_KINDS = ["point_order", "filtered_agg", "join2", "point_customer",
             "model_join", "join3", "mysql_dialect"]
ROUND_TAIL = ["show_databases", "describe", None]


def interactive_mix(seed: int, n_cust: int, n_ord: int, cycles: int) -> list[dict]:
    """The fixed statement list of a run: ``cycles`` repetitions of the
    cycle, parameters drawn from the seed. ``duck`` is the DuckDB form of
    a statement whose answer DuckDB computes."""
    rnd = random.Random(seed)

    def read(label: str) -> dict:
        st = {"kind": "read", "label": label, "duck": None}
        if label == "point_order":
            st["sql"] = st["duck"] = (
                "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus "
                f"FROM tpch_orders WHERE o_orderkey = {rnd.randrange(n_ord)}")
        elif label == "point_customer":
            st["sql"] = st["duck"] = (
                "SELECT c_name, c_acctbal, c_mktsegment FROM tpch_customer "
                f"WHERE c_custkey = {rnd.randrange(n_cust)}")
        elif label == "filtered_agg":
            st["sql"] = st["duck"] = (
                "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS s "
                f"FROM tpch_orders WHERE o_totalprice > {rnd.randrange(1000, 400000)} "
                "GROUP BY o_orderpriority ORDER BY o_orderpriority")
        elif label == "join2":
            st["sql"] = st["duck"] = (
                "SELECT c.c_mktsegment, COUNT(*) AS n, AVG(o.o_totalprice) AS a "
                "FROM tpch_orders o JOIN tpch_customer c ON o.o_custkey = c.c_custkey "
                f"WHERE o.o_orderstatus = '{rnd.choice('FOP')}' "
                "GROUP BY c.c_mktsegment ORDER BY 1")
        elif label == "join3":
            st["sql"] = st["duck"] = (
                "SELECT n.n_name, COUNT(*) AS n, MAX(o.o_totalprice) AS m "
                "FROM tpch_orders o JOIN tpch_customer c ON o.o_custkey = c.c_custkey "
                "JOIN tpch_nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE n.n_regionkey = {rnd.randrange(5)} GROUP BY n.n_name ORDER BY 1")
        elif label == "mysql_dialect":
            a = rnd.randrange(max(1, n_cust - 300))
            cond = f"o_custkey BETWEEN {a} AND {a + 299}"
            st["sql"] = (
                "SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS ym, "
                "IFNULL(MAX(o_totalprice), 0) AS mx FROM tpch_orders "
                f"WHERE {cond} GROUP BY DATE_FORMAT(o_orderdate, '%Y-%m') ORDER BY ym")
            st["duck"] = (
                "SELECT strftime(o_orderdate, '%Y-%m') AS ym, "
                "ifnull(MAX(o_totalprice), 0) AS mx FROM tpch_orders "
                f"WHERE {cond} GROUP BY 1 ORDER BY ym")
        elif label == "model_join":
            c = rnd.randrange(n_cust)
            st["sql"] = ("SELECT t.o_orderkey, m.risk, m.band FROM tpch_orders t "
                         f"JOIN riskm m WHERE t.o_custkey = {c} ORDER BY t.o_orderkey")
            # the model: risk = min(total / 500000, 1), band 'hi' above 0.5
            st["duck"] = (
                "SELECT o_orderkey, least(o_totalprice / 500000.0, 1.0) AS risk, "
                "CASE WHEN least(o_totalprice / 500000.0, 1.0) > 0.5 THEN 'hi' "
                f"ELSE 'lo' END AS band FROM tpch_orders WHERE o_custkey = {c}")
        elif label == "show_databases":
            st["sql"] = "SHOW DATABASES"
        elif label == "describe":
            st["sql"] = "DESCRIBE tpch_orders"
        return st

    out = []
    for _ in range(cycles):
        for tail in ROUND_TAIL:
            out += [read(label) for label in SQL_KINDS]
            if tail is not None:
                out.append(read(tail))
    return out


def prepare_interactive(data: str, seed: int) -> dict:
    """The run's fixed statement list, with DuckDB's answer over the same
    parquet as ``expect`` where DuckDB computes one (None for the catalog
    commands: their warm-up answer becomes the expected one)."""
    import duckdb

    duck = duckdb.connect()
    for name in TABLES["interactive_sql"]:
        duck.execute(
            f"CREATE VIEW tpch_{name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data, name + '.parquet', '*.parquet')}')"
        )
    n_cust = duck.execute("SELECT COUNT(*) FROM tpch_customer").fetchone()[0]
    n_ord = duck.execute("SELECT COUNT(*) FROM tpch_orders").fetchone()[0]
    # more cycles than any run gets through
    stmts = interactive_mix(seed, n_cust, n_ord, cycles=6)
    for st in stmts:
        st["expect"] = (None if st["duck"] is None
                        else norm_rows(duck.execute(st["duck"]).fetchall()))
    duck.close()
    return {"stmts": stmts}


def interactive_sql(ctx: Ctx):
    from mindsdb_spark.catalog import cache_table, invalidate_table
    from mindsdb_spark.engine import EngineSession
    from mindsdb_spark.server import SQLServer
    from mindsdb_spark.session import tune_file_partitioning

    data = ctx.data_dir()
    stmts = ctx.expected()["stmts"]
    model, scored = _risk_model(ctx.sc)

    t = time.perf_counter()
    tune_file_partitioning(ctx.spark, data, 4)
    for name in TABLES["interactive_sql"]:
        invalidate_table(data, name)
        cache_table(ctx.spark, data, name)
    sess = EngineSession(ctx.spark)
    sess.register_parquet_source("tpch", data, tables=TABLES["interactive_sql"])
    sess.register_model(model)
    ctx.layer["catalog.register_s"] = time.perf_counter() - t
    server = SQLServer(sess).start()

    # the last cycle of the list warms up, the timed window starts at the
    # first statement
    cycle = len(SQL_KINDS) * len(ROUND_TAIL) + sum(t is not None for t in ROUND_TAIL)
    warm, timed = stmts[-cycle:], stmts[:-cycle]
    ctx.phase("warm-up")
    first = {}
    for st in warm:
        first.setdefault(st["label"], st)
    # every statement kind once: plan compilation, Spark's Python workers
    # for the model; the catalog commands' answers become expected ones. A
    # kind that fails here stays in the mix and fails its timed statements
    for label in first:
        _dt, ans = post_sql(server.host, server.port, first[label]["sql"])
        if ans.get("type") != "table":
            print(f"warm-up {label} failed: {str(ans)[:300]}", flush=True)
        elif first[label]["expect"] is None:
            for st in stmts:
                if st["label"] == label:
                    st["expect"] = norm_rows(ans["data"])

    def check(st, ans) -> bool:
        return (ans.get("type") == "table" and st["expect"] is not None
                and same_rows(norm_rows(ans["data"]), st["expect"]))

    # then one whole cycle under the same 4-client load, untimed: the first
    # cycle after the kinds' warm-up ran 10-20% slower than the next
    ctx.phase("warm-up cycle")
    run_clients(ctx, server, warm, 4, check, cycle, min_cycles=1, warm_up=True)

    _install_server_trace(ctx, server)
    scored_before = scored.value
    ctx.ready()
    # two cycles at least: 46 latency samples per run
    rec = run_clients(ctx, server, timed, 4, check, cycle, min_cycles=2)
    ctx.layer["model.rows_scored"] = scored.value - scored_before
    server.stop()
    return rec


# -- kb_curation -------------------------------------------------------------

# one cycle of the single caller: eight KB searches of four kinds and two
# KB inserts through the door (20% writes), then one pass of the curation
# chain. Five of the eleven operations are semantic searches, which sit in
# the middle of the latency order (prefiltered search, inserts and rerank
# are faster, hybrid search and the pass slower), so the median is the
# second fastest of them.
KB_CYCLE = ["kb_semantic", "kb_hybrid", "kb_semantic", "kb_prefilter", "kb_insert",
            "kb_semantic", "kb_rerank", "kb_semantic", "kb_insert", "kb_semantic",
            "curation_pass"]
KB_K = 5  # rows every KB search asks for


def prepare_kb(data: str, seed: int) -> dict:
    """Each document's language, and the counts every curation pass must
    find, computed from the parquet without Spark."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        os.path.join(data, "documents.parquet"), columns=["doc_id", "text", "lang"]
    ).to_pydict()
    return {
        "langs": [[i, lang] for i, lang in zip(docs["doc_id"], docs["lang"])],
        "curation": curation_counts(docs["doc_id"], docs["text"]),
    }


def curation_counts(ids: list, texts: list) -> list[int]:
    """[distinct texts, LSH candidate pairs, clusters] of the curation
    chain, recomputed in Python: lowercased whitespace-split word 3-gram
    shingles, shingle hash = first 15 hex digits of md5, 16 affine minhash
    lanes folded into 4 bands of 4, every pair of documents that share a
    band, and union-find over those pairs."""
    import hashlib
    import itertools
    import re

    import numpy as np

    from mindsdb_spark.operators.dedup import MINHASH_PRIME, minhash_lane_params

    lanes = np.array(minhash_lane_params(16), dtype=np.int64)
    buckets: dict = {}
    for doc, text in zip(ids, texts):
        if text is None:
            continue
        ws = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
        grams = {" ".join(ws[j:j + 3]) for j in range(len(ws) - 2)}
        if not grams:
            continue
        s32 = np.array([int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (1 << 32)
                        for g in grams], dtype=np.int64)
        sig = ((lanes[:, :1] * s32 + lanes[:, 1:]) % MINHASH_PRIME).min(axis=1).tolist()
        for band in range(4):
            acc = sig[4 * band]
            for r in range(1, 4):
                acc = (acc * 1000003 + sig[4 * band + r]) % MINHASH_PRIME
            buckets.setdefault((band, acc), []).append(doc)
    pairs = set()
    for members in buckets.values():
        pairs.update(itertools.combinations(sorted(members), 2))
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    clusters = len(parent)
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            clusters -= 1
    return [len(set(texts)), len(pairs), clusters]


def kb_curation(ctx: Ctx):
    from mindsdb_spark.catalog import cache_table, invalidate_table
    from mindsdb_spark.engine import EngineSession
    from mindsdb_spark.fixtures import VOCAB
    from mindsdb_spark.server import SQLServer
    from mindsdb_spark.session import tune_file_partitioning

    data = ctx.data_dir()
    expected = ctx.expected()
    lang_of = dict(expected["langs"])
    n_docs = len(lang_of)
    # the KB is built from the first five sixths of the documents (5,000
    # of 6,000); inserts add the rest, ten at a time; the curation chain
    # reads the whole corpus
    n_base = n_docs * 5 // 6

    t = time.perf_counter()
    tune_file_partitioning(ctx.spark, data, 4)
    invalidate_table(data, "documents")
    docs = cache_table(ctx.spark, data, "documents")
    sess = EngineSession(ctx.spark)
    sess.register_parquet_source("tpch", data, tables=["documents"])
    t1 = time.perf_counter()
    sess.sql("CREATE KNOWLEDGE_BASE kb USING dim = 64, embedder = 'hash'")
    sess.sql(
        "INSERT INTO kb SELECT doc_id, text, lang, source FROM tpch_documents "
        f"WHERE doc_id < {n_base}"
    ).collect()
    ctx.layer["catalog.register_s"] = t1 - t
    ctx.layer["kb.build_s"] = time.perf_counter() - t1
    ctx.phase(f"registered {t1 - t:.2f}s, kb built {ctx.layer['kb.build_s']:.2f}s")
    server = SQLServer(sess).start()
    curate = _Curation(ctx, docs, tuple(expected["curation"]))

    rnd = random.Random(ctx.seed)
    langs = sorted(set(lang_of.values()))

    def make(label: str) -> dict:
        q = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(2, 4)))
        st = {"kind": "read", "label": label}
        if label == "kb_semantic":
            st["sql"] = f"SELECT * FROM kb WHERE content = '{q}' LIMIT {KB_K}"
        elif label == "kb_hybrid":
            st["sql"] = (f"SELECT * FROM kb WHERE content = '{q}' USING hybrid_search = "
                         f"true, hybrid_search_alpha = 0.{rnd.randint(2, 8)} LIMIT {KB_K}")
        elif label == "kb_prefilter":
            st["lang"] = rnd.choice(langs)
            st["sql"] = (f"SELECT * FROM kb WHERE content = '{q}' "
                         f"AND lang = '{st['lang']}' LIMIT {KB_K}")
        elif label == "kb_rerank":
            st["sql"] = f"SELECT * FROM kb WHERE content = '{q}' USING rerank = true LIMIT {KB_K}"
        else:
            st["kind"] = "write" if label == "kb_insert" else "pass"
        return st

    # fixed before measuring: more cycles than any run gets through
    ops = [make(label) for _ in range(12) for label in KB_CYCLE]
    inserted = set(range(n_base))
    cursor = [n_base]

    def prepare(st: dict) -> dict:
        """An insert takes the next ten held-out documents; past the end
        they wrap round and become upserts of stored content."""
        if st["kind"] != "write":
            return st
        a = cursor[0]
        b = min(a + 9, n_docs - 1)
        cursor[0] = b + 1 if b + 1 < n_docs else n_base
        inserted.update(range(a, b + 1))
        return {
            **st, "lo": a, "hi": b,
            "sql": "INSERT INTO kb SELECT doc_id, text, lang, source FROM tpch_documents "
                   f"WHERE doc_id BETWEEN {a} AND {b}",
        }

    def check(st, ans) -> bool:
        """A search returns k hits in ascending distance (descending
        relevance when reranked), only inserted documents, in the requested
        language when prefiltered; an insert reports at least one chunk per
        document."""
        if ans.get("type") != "table":
            return False
        cols, rows = ans["column_names"], ans["data"]
        if st["kind"] == "write":
            return len(rows) == 1 and rows[0][0] >= st["hi"] - st["lo"] + 1
        hits = [dict(zip(cols, r)) for r in rows]
        if len(hits) != KB_K or any(h["doc_id"] not in inserted for h in hits):
            return False
        if st["label"] == "kb_rerank":
            rel = [h["relevance"] for h in hits]
            return rel == sorted(rel, reverse=True)
        if st["label"] == "kb_prefilter" and any(
            lang_of.get(h["doc_id"]) != st["lang"] for h in hits
        ):
            return False
        dist = [h["distance"] for h in hits]
        return dist == sorted(dist)

    # warm-up: the KB build ran the insert path; a curation pass over the
    # whole corpus compiles the chain's plans and gives the JIT the timed
    # passes' work. The first timed search compiles the search plan: it is
    # the slowest semantic search of a run, above the median
    ctx.phase("warm-up")
    curate.warm_up()

    _install_server_trace(ctx, server)
    ctx.ready()
    rec = Recorder()
    start = time.perf_counter()
    i = 0
    # whole cycles only: the window ends at the first cycle boundary after
    # --seconds, so every run measures the same mix of operations
    while time.perf_counter() < start + ctx.seconds or i % len(KB_CYCLE):
        st = prepare(ops[i])
        i += 1
        if st["kind"] == "pass":
            dt, ok = curate.timed_pass(i)
        else:
            span = None
            if ctx.tracer is not None:
                span = ctx.tracer.begin("client.request", stmt=i)
                ctx.tracer.client_spans[i] = span
            t = time.perf_counter()
            try:
                dt, ans = post_sql(server.host, server.port, st["sql"], i)
                ok = check(st, ans)
            except Exception:  # counted as a failed operation
                traceback.print_exc()
                dt, ok = time.perf_counter() - t, False
            if span is not None:
                ctx.tracer.end(span)
        rec.add(st, dt, ok, i)
    rec.window_s = time.perf_counter() - start
    curate.finish()
    ctx.layer["kb.store_rows"] = sess._kbs["kb"]["store"].count()
    server.stop()
    return rec


class _Curation:
    """The curation chain as one pass over the document table: exact_dedup
    -> text_quality -> shingle_hashes + minhash_signatures ->
    lsh_candidate_pairs -> connected_components -> hash_embed_tfidf, each
    stage forced through the noop sink."""

    def __init__(self, ctx: Ctx, docs, expect: tuple):
        self.ctx, self.docs, self.expect = ctx, docs, expect
        self.n_docs = docs.count()
        self.last = None

    def _stage(self, name, df, *aggs):
        """Run one stage to the noop sink; observed aggregates ride the
        same job."""
        from pyspark.sql import Observation

        tracer = self.ctx.tracer
        span = tracer.begin(name) if tracer is not None else None
        obs = Observation()
        if aggs:
            df = df.observe(obs, *aggs)
        save = tracer.begin("session.save") if tracer is not None else None
        df.write.format("noop").mode("overwrite").save()
        if tracer is not None:
            tracer.end(save)
            tracer.end(span)
        return obs.get if aggs else None

    def one_pass(self, docs):
        from pyspark.sql import functions as F

        from mindsdb_spark.operators import dedup, kb, text

        tracer = self.ctx.tracer
        n = F.count(F.lit(1)).alias("n")
        distinct = self._stage("dedup.exact_dedup", dedup.exact_dedup(docs), n)["n"]
        self._stage("text.text_quality", text.text_quality(docs))
        sh = dedup.shingle_hashes(docs)
        self._stage("dedup.minhash_signatures", dedup.minhash_signatures(sh))
        pairs = dedup.lsh_candidate_pairs(sh).persist()
        n_pairs = self._stage("dedup.lsh_candidate_pairs", pairs, n)["n"]
        stats: dict = {}
        # connected_components runs jobs while it builds its plan (edge
        # count, local union-find), so its span opens before the call
        span = tracer.begin("dedup.connected_components") if tracer is not None else None
        clusters = dedup.connected_components(docs.select("doc_id"), pairs, stats=stats)
        n_clusters = self._stage(
            "dedup.connected_components.save", clusters,
            F.sum((F.col("doc_id") == F.col("cluster")).cast("long")).alias("roots"),
        )["roots"]
        if tracer is not None:
            tracer.end(span)
        self._stage("kb.hash_embed_tfidf", kb.hash_embed_tfidf(docs, text_col="text", dim=64))
        return (distinct, n_pairs, n_clusters), (pairs, sh, stats)

    def warm_up(self) -> None:
        """One untimed pass. A pass that fails here is logged; the timed
        passes count it."""
        t = time.perf_counter()
        try:
            counts, (pairs, _sh, _st) = self.one_pass(self.docs)
            pairs.unpersist()
            if counts != self.expect:
                print(f"warm-up curation counts {counts}, expected {self.expect}", flush=True)
        except Exception:
            traceback.print_exc()
        self.ctx.phase(f"warm-up curation {time.perf_counter() - t:.2f}s")

    def timed_pass(self, op: int) -> tuple[float, bool]:
        """One pass; its counts (distinct texts, candidate pairs, clusters)
        must equal those curation_counts found in the parquet."""
        tracer = self.ctx.tracer
        if tracer is not None:
            self.ctx.sc.setJobGroup(f"pass-{op}", "perfbench", interruptOnCancel=False)
        span = tracer.begin("curation.pass", stmt=op) if tracer is not None else None
        t = time.perf_counter()
        try:
            counts, state = self.one_pass(self.docs)
            ok = counts == self.expect
            if not ok:
                print(f"curation counts {counts}, expected {self.expect}", flush=True)
            if self.last is not None:
                self.last[0].unpersist()
            self.last = state
        except Exception:  # counted as a failed pass
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t
        if tracer is not None:
            tracer.end(span)
            self.ctx.sc.setJobGroup("perfbench-idle", "perfbench", interruptOnCancel=False)
        return dt, ok

    def finish(self) -> None:
        """Per-layer facts of the last pass: star-contraction rounds and
        the LSH pair yield."""
        layer = self.ctx.layer
        layer["curation.docs"] = self.n_docs
        if self.last is None:
            return
        pairs, sh, stats = self.last
        layer["dedup.cc_rounds"] = stats.get("rounds", 0)
        layer["dedup.lsh_pair_yield"] = _pair_yield(pairs, sh)
        pairs.unpersist()


def _pair_yield(pairs, sh, threshold: float = 0.7) -> float:
    """Share of LSH candidate pairs whose exact shingle-set Jaccard reaches
    the band threshold ((1/4)^(1/4) ~ 0.7 for 4 bands x 4 rows)."""
    from pyspark.sql import functions as F

    cand = pairs.collect()
    if not cand:
        return 0.0
    ids = sorted({r[0] for r in cand} | {r[1] for r in cand})
    sets: dict = {}
    for r in sh.filter(F.col("doc_id").isin(ids)).collect():
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    good = 0
    for a, b in ((r[0], r[1]) for r in cand):
        sa, sb = sets.get(a, set()), sets.get(b, set())
        if sa or sb:
            good += len(sa & sb) / len(sa | sb) >= threshold
    return good / len(cand)


WORKLOADS = {"interactive_sql": interactive_sql, "kb_curation": kb_curation}
PREPARE = {"interactive_sql": prepare_interactive, "kb_curation": prepare_kb}
