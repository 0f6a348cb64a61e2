"""The workloads. Each is a closed loop with one client thread:

- ``analytics``: the headline operator mix over the generated lake,
  every builder's result fully materialized with ``count()``.
- ``interactive``: the ingest path - bulk ``Engine.ingest`` of
  mixed-format files into a fresh warehouse plus the corpus
  fingerprint-index write, then arrival files through
  ``streaming_incremental_dedup`` - followed by an analyst session:
  ``Engine`` prep (attach + semantic index), then scripted asks
  interleaved with hybrid searches.

A workload object has four phases the runner calls in order:
``inputs`` (benchmark cost: generate files), ``warm`` (the untimed
set-up pass, part of ``setup_s``), ``one_pass`` (timed, repeated),
and ``check`` (benchmark cost: compare with the oracles). Failures
are recorded on the shared ``Ctx``; a wrong answer is a failure.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import traceback
from contextlib import nullcontext

import numpy as np

import gen
import oracle
import script
from stats import median, percentile

# bench.py's HEADLINE operators (copied, not imported: an edit there
# must not silently change this workload) plus the batch kNN join.
ANALYTICS_OPS = [
    "q01_pricing_summary",
    "q02_filter_project",
    "q06_topk_orders",
    "q08_join_multiway",
    "q09_join_broadcast_dim",
    "q19_window_rank",
    "q24_events_json",
    "q25_events_hourly",
    "v01_cosine_topk",
    "v02_collection_scores",
    "d01_exact_dedup",
    "d03_minhash_lsh_neardup",
    "t04_quality_score",
    "t05_token_count",
    "t02_chunk_assignment",
    "x02_sessionize",
    "q33_shipping_priority",
    "q63_local_supplier_volume",
    "q66_waiting_supplier",
    "x06_interval_overlap",
    "t18_span_dedup",
    "a08_bloom_prejoin",
    "v03_knn_join",
]
# d03 reads documents with doc_id < D03_DOCS at threshold D03_THRESHOLD
D03_DOCS, D03_THRESHOLD = 200, 0.62
# planted near duplicates sit far above the threshold: LSH must find all
D03_SURE = 0.9

MINHASH = dict(num_hashes=16, bands=4)  # the s01 index parameters


class Ctx:
    """What a workload shares with the runner."""

    def __init__(self, spark, seed: int, inputs_dir: str, run_dir: str, tracer=None):
        self.spark, self.seed = spark, seed
        self.inputs_dir, self.run_dir = inputs_dir, run_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 50:
            self.problems.append(what)

    def span(self, name, **attrs):
        t = self.tracer
        return t.span(name, **attrs) if t is not None and t.active else nullcontext({})

    def action(self, name, **attrs):
        t = self.tracer
        if t is not None and t.active:
            return t.action(self.spark.sparkContext, name, **attrs)
        return nullcontext({})


def _overhead(walls) -> float:
    """Tracing overhead in seconds: each traced pass's wall minus the
    untraced pass right after it (median over such pairs). The first
    pass after set-up is still far from warm, so it is compared with
    nothing; the later untraced pass is a little warmer, which makes
    the figure an overestimate."""
    diffs = [
        w - walls[i + 1][1]
        for i, (t, w) in enumerate(walls[:-1])
        if t and not walls[i + 1][0]
    ]
    return median(diffs) if diffs else 0.0


def _op_exc(ctx: Ctx, what: str) -> None:
    ctx.fail(f"{what}: {traceback.format_exc(limit=3).strip().splitlines()[-1]}")


# =============================================================================
class Analytics:
    name = "analytics"
    MIN_PASSES = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lake = None
        self.reference: dict[str, object] = {}
        self.times: dict[str, list[float]] = {op: [] for op in ANALYTICS_OPS}
        self.pass_walls: list[tuple[bool, float]] = []

    def inputs(self) -> None:
        self.lake = gen.write_lake(
            os.path.join(self.ctx.inputs_dir, "lake"), self.ctx.seed
        )

    def order(self, k) -> list[str]:
        rng = np.random.default_rng([self.ctx.seed, 20, k])
        return [ANALYTICS_OPS[i] for i in rng.permutation(len(ANALYTICS_OPS))]

    def warm(self) -> None:
        """One pass, results collected for the correctness check."""
        from parquet_pipeline_spark import registry

        for op in self.order(10**6):
            try:
                self.reference[op] = registry.QUERIES[op](self.ctx.spark, self.lake).toPandas()
            except Exception:
                _op_exc(self.ctx, f"warm {op}")

    def one_pass(self, k: int, traced: bool) -> None:
        from parquet_pipeline_spark import registry

        ctx, t_pass = self.ctx, time.perf_counter()
        for op in self.order(k):
            fn = registry.QUERIES[op]
            module = fn.__module__.rsplit(".", 1)[-1]
            ctx.attempted += 1
            try:
                with ctx.action(f"op:{op}", op=op, module=module, pass_no=k) as rec:
                    t0 = time.perf_counter()
                    with ctx.span("build"):
                        df = fn(ctx.spark, self.lake)
                    with ctx.span("exec"):
                        n = df.count()
                    t2 = time.perf_counter()
                    rec["rows_out"] = n
            except Exception:
                _op_exc(ctx, op)
                continue
            if not traced:
                self.times[op].append(t2 - t0)
            want = self.reference.get(op)
            if want is not None and n != len(want):
                ctx.fail(f"{op}: count {n} != reference {len(want)}")
        self.pass_walls.append((traced, time.perf_counter() - t_pass))

    def trace_overhead_s(self) -> float:
        return _overhead(self.pass_walls)

    def walls(self) -> list:
        return self.pass_walls

    def check(self) -> None:
        from parquet_pipeline_spark import registry

        con = oracle.duck(self.lake, gen.LAKE_TABLES)
        for op, got in self.reference.items():
            if op == "d03_minhash_lsh_neardup":
                why = self._check_d03(got)
            else:
                sql = registry.ORACLES[op]
                want = con.execute(sql).fetchdf()
                why = oracle.same_frame(got, want)
                if why:
                    bare, digits = oracle.unround(sql)
                    why = oracle.same_frame_at_ties(got, want, con.execute(bare).fetchdf(), digits)
            if why:
                self.ctx.fail(f"{op}: {why}")
        if len(self.reference) != len(ANALYTICS_OPS):
            self.ctx.fail("analytics: some operators produced no reference result")

    def _check_d03(self, got) -> str | None:
        """rows-only operator: every pair it returns is a true pair
        with its exact Jaccard, and every planted-grade pair
        (Jaccard >= D03_SURE) is returned."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.lake, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pandas()
        docs = docs[docs.doc_id < D03_DOCS]
        truth = oracle.near_dup_pairs(docs.doc_id.values, list(docs.text), D03_THRESHOLD)
        found = {}
        for a, b, j in got[["id_a", "id_b", "jac"]].itertuples(index=False):
            key = (min(a, b), max(a, b))
            if key not in truth or abs(truth[key] - j) > 1.5e-6:
                return f"pair {key} jac {j} is not a true near duplicate"
            found[key] = j
        if len(found) != len(got):
            return "duplicate pairs in output"
        missed = [p for p, j in truth.items() if j >= D03_SURE and p not in found]
        return f"missed pairs {missed[:5]}" if missed else None

    def metrics(self) -> dict:
        n = min(len(ts) for ts in self.times.values())
        one_pass = sum(median(ts) for ts in self.times.values()) if n else None
        return {"pass_s": (one_pass, n), "analytics_s": (one_pass, n)}


# =============================================================================
class Session:
    """The analyst session component of the ``interactive`` workload."""

    # sessions whose questions are scripted up front; a run that gets
    # further would ask unscripted questions and fail loudly
    MAX_SESSIONS = 50

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lake = None
        self.client = script.ScriptedClient()
        self.asked: list[tuple] = []  # (sub-question, sql, DataFrame), every answer
        self.ask_ms: list[float] = []
        self.search_ms: list[float] = []
        self.prep_s: list[float] = []
        self.search_oracle = None
        self.searched: list[tuple] = []  # (query, [(vec_id, score_rrf)]), every call

    def inputs(self) -> None:
        self.lake = gen.write_lake(
            os.path.join(self.ctx.inputs_dir, "lake"), self.ctx.seed
        )
        for a in self._turns_upfront():
            if a[0] == "ask":
                self.client.add(a[1])

    def _turns_upfront(self):
        yield from script.warm_session(self.ctx.seed)
        for k in range(self.MAX_SESSIONS):
            yield from script.session(self.ctx.seed, k)

    def _engine(self):
        from parquet_pipeline_spark.engine import Engine

        eng = Engine(self.ctx.spark, warehouse_dir=os.path.join(self.ctx.run_dir, "lake_wh"),
                     client=self.client)
        eng.attach_dir(self.lake)
        eng.build_semantic_index("documents", "text", id_col="doc_id")
        return eng

    def warm(self) -> None:
        eng = self._engine()
        for kind, item in script.warm_session(self.ctx.seed):
            try:
                self._turn(eng, kind, item, record=False)
            except Exception:
                _op_exc(self.ctx, f"warm {kind}")

    def _turn(self, eng, kind, item, record=True) -> None:
        from parquet_pipeline_spark.errors import is_error_frame

        ctx = self.ctx
        if kind == "ask":
            with ctx.action("engine.ask"):
                t0 = time.perf_counter()
                res = eng.ask(item.question)
                dt = time.perf_counter() - t0
            for sub in item.subs:
                got = res.sql.get(sub.text)
                if got != sub.sql:
                    ctx.fail(f"ask fell back or mis-planned: {sub.text!r} -> {got!r}")
                elif is_error_frame(res.results[sub.text]):
                    ctx.fail(f"ask returned an error frame: {sub.text!r}")
                else:
                    self.asked.append((sub.text, sub.sql, res.results[sub.text]))
            if record:
                self.ask_ms.append(dt * 1e3)
        else:
            with ctx.action("engine.search"):
                t0 = time.perf_counter()
                rows = eng.search(item, k=10).collect()
                dt = time.perf_counter() - t0
            self.searched.append((item, [(r["vec_id"], r["score_rrf"]) for r in rows]))
            if record:
                self.search_ms.append(dt * 1e3)

    def one_pass(self, k: int, traced: bool) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        ctx.attempted += 1
        try:
            with ctx.span("prep"):
                eng = self._engine()
        except Exception:
            _op_exc(ctx, "prep")
            return
        t1 = time.perf_counter()
        for kind, item in script.session(ctx.seed, k):
            ctx.attempted += 1
            try:
                self._turn(eng, kind, item, record=not traced)
            except Exception:
                _op_exc(ctx, f"{kind} {item if kind == 'search' else item.question!r}")
        if not traced:
            self.prep_s.append(t1 - t0)

    def prepare_checks(self) -> None:
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.lake, "documents.parquet"),
                             columns=["doc_id", "text"])
        self.search_oracle = oracle.SearchOracle(
            docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
        )

    def check(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        con = oracle.duck(self.lake, gen.LAKE_TABLES)

        def collect(df):
            try:
                return df.toPandas()
            except Exception:
                return traceback.format_exc(limit=2).strip().splitlines()[-1]

        # every answer is checked, repeats too: a repeated question is
        # what a plan or result cache would serve. The collections are
        # independent Spark jobs: run them side by side.
        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(collect, [df for _, _, df in self.asked]))
        want = {sql: con.execute(sql).fetchdf() for sql in {sql for _, sql, _ in self.asked}}
        for (sub, sql, _df), g in zip(self.asked, got):
            why = g if isinstance(g, str) else oracle.close_frame(g, want[sql])
            if why:
                self.ctx.fail(f"ask {sub!r}: {why}")
        hits = {q: self.search_oracle.search(q, k=10) for q in {q for q, _ in self.searched}}
        for q, got in self.searched:
            why = oracle.same_search(got, hits[q])
            if why:
                self.ctx.fail(f"search {q!r}: {why}")

    def metrics(self) -> dict:
        p90 = percentile(self.ask_ms, 90)
        return {
            "prep_s": (median(self.prep_s) if self.prep_s else None, len(self.prep_s)),
            "ask_p50_ms": (median(self.ask_ms) if self.ask_ms else None, len(self.ask_ms)),
            "ask_p90_ms": (p90, len(self.ask_ms)),
            "search_p50_ms": (median(self.search_ms) if self.search_ms else None,
                              len(self.search_ms)),
        }


# =============================================================================
class Ingest:
    """The ingest component of the ``interactive`` workload."""

    ARRIVAL_FIRST_ID = 10**7

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.files: list[str] = []
        self.expected: dict = {}
        self.warm_files: list[str] = []
        self.arrivals: list = []
        self.input_bytes = 0
        self.input_rows = 0
        self.bulk_s: list[float] = []
        self.stream_s: list[float] = []
        self.trigger_ms: list[float] = []
        self.stored_ratio: list[float] = []
        self.progress: list[dict] = []  # per trigger, traced passes too
        self.run_ids_traced: list[str] = []
        self.stored_bytes: list[tuple[bool, int]] = []
        self.last_wh = None

    def inputs(self) -> None:
        import pyarrow.parquet as pq

        lake = gen.write_lake(os.path.join(self.ctx.inputs_dir, "lake"), self.ctx.seed)
        docs = pq.read_table(os.path.join(lake, "documents.parquet"),
                             columns=["doc_id", "text"])
        root = os.path.join(self.ctx.inputs_dir, "ingest")
        self.expected = gen.ingest_inputs(root, self.ctx.seed, docs)
        self.files = sorted(
            os.path.join(root, f) for f in os.listdir(root)
            if f.endswith((".csv", ".tsv", ".jsonl", ".xlsx"))
        )
        self.input_bytes = sum(os.path.getsize(f) for f in self.files)
        self.input_rows = sum(e["rows"] for e in self.expected.values())
        self.warm_files = gen.warm_inputs(os.path.join(self.ctx.inputs_dir, "warm"))
        self.arrivals = gen.arrival_batches(
            self.ctx.seed, docs.column("text").to_pylist(), self.ARRIVAL_FIRST_ID
        )

    def _write_arrivals(self, where: str, batches) -> None:
        os.makedirs(where)
        now = time.time()
        for i, batch in enumerate(batches):
            p = os.path.join(where, f"arrival_{i:03d}.jsonl")
            with open(p, "w") as fh:
                fh.write("\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in batch))
            # strictly increasing mtimes fix the micro-batch order
            os.utime(p, (now - len(batches) + i, now - len(batches) + i))

    def _stream(self, base: str, index: str, batches):
        from parquet_pipeline_spark.streaming import events

        spark = self.ctx.spark
        src = os.path.join(base, "arrivals")
        self._write_arrivals(src, batches)
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = events.streaming_incremental_dedup(
            stream, index, os.path.join(base, "flags"), os.path.join(base, "ckpt"),
            **MINHASH,
        )
        finished = q.awaitTermination(150)
        wall = time.perf_counter() - t0
        if not finished:
            q.stop()
            raise TimeoutError("arrival stream did not finish in 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q, wall

    def _bulk(self, base: str, files):
        from parquet_pipeline_spark.engine import Engine
        from parquet_pipeline_spark.operators import dedup

        ctx = self.ctx
        wh = os.path.join(base, "warehouse")
        index = os.path.join(base, "fingerprints")
        t0 = time.perf_counter()
        res = Engine(ctx.spark, warehouse_dir=wh).ingest(files)
        with ctx.span("operators.dedup.index_write"):
            corpus = ctx.spark.read.parquet(os.path.join(wh, "corpus.parquet"))
            dedup.banded_minhash(corpus.select("doc_id", "text"), **MINHASH).write.partitionBy(
                "band_id"
            ).parquet(index)
        wall = time.perf_counter() - t0
        for e in res["errors"]:
            ctx.fail(f"ingest {e['input']}: {e['error'][:200]}")
        return wh, index, wall

    def warm(self) -> None:
        base = os.path.join(self.ctx.run_dir, "ingest-warm")
        # the warm set carries a tiny corpus so the index write runs too
        corpus = os.path.join(self.ctx.run_dir, "warm-corpus")
        os.makedirs(corpus)
        with open(os.path.join(corpus, "corpus.jsonl"), "w") as fh:
            for d, t in self.arrivals[0][:20]:
                fh.write(json.dumps({"doc_id": d - self.ARRIVAL_FIRST_ID, "text": t}) + "\n")
        try:
            _wh, index, _ = self._bulk(base, self.warm_files + [os.path.join(corpus, "corpus.jsonl")])
            self._stream(base, index, self.arrivals[1:2])
        except Exception:
            _op_exc(self.ctx, "warm ingest")

    def one_pass(self, k: int, traced: bool) -> None:
        ctx = self.ctx
        base = os.path.join(ctx.run_dir, f"ingest-{k}")
        if self.last_wh and not self.last_wh.startswith(base):
            # keep only the newest pass on disk (it is the one checked)
            shutil.rmtree(os.path.dirname(self.last_wh), ignore_errors=True)
        ctx.attempted += 1
        try:
            wh, index, bulk = self._bulk(base, self.files)
        except Exception:
            _op_exc(ctx, "bulk ingest")
            return
        self.last_wh = wh
        stored = oracle.dir_bytes(wh)
        ctx.attempted += 1
        try:
            q, stream_wall = self._stream(base, index, self.arrivals)
        except Exception:
            _op_exc(ctx, "arrival stream")
            return
        triggers = [dict(p.durationMs, rows=p.numInputRows) for p in q.recentProgress]
        if traced:
            self.run_ids_traced.append(str(q.runId))
        self.stored_bytes.append((traced, stored))
        self.progress.extend(dict(t, traced=traced) for t in triggers)
        if not traced:
            self.bulk_s.append(bulk)
            self.stream_s.append(stream_wall)
            self.stored_ratio.append(stored / self.input_bytes)
            self.trigger_ms.extend(t["triggerExecution"] for t in triggers if t["rows"] > 0)

    def check(self) -> None:
        if self.last_wh is None:
            self.ctx.fail("ingest: no pass completed")
            return
        self._check_tables(self.last_wh)
        self._check_flags(os.path.dirname(self.last_wh))

    def _check_tables(self, wh: str) -> None:
        import duckdb

        con = duckdb.connect()
        for table, exp in self.expected.items():
            path = os.path.join(wh, f"{table}.parquet")
            try:
                rel = f"read_parquet('{path}/*.parquet')"
                cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
                if sorted(cols) != sorted(exp["columns"]):
                    self.ctx.fail(f"ingest {table}: columns {cols} != {exp['columns']}")
                    continue
                aggs = ["COUNT(*)"]
                aggs += [f'COUNT(*) - COUNT("{c}")' for c in exp["columns"]]
                aggs += [f'SUM("{c}")' for c in exp["sums"]]
                row = con.execute(f"SELECT {', '.join(aggs)} FROM {rel}").fetchone()
            except Exception:
                _op_exc(self.ctx, f"ingest read-back {table}")
                continue
            n, nulls, sums = row[0], row[1 : 1 + len(exp["columns"])], row[1 + len(exp["columns"]):]
            if n != exp["rows"]:
                self.ctx.fail(f"ingest {table}: rows {n} != {exp['rows']}")
            for c, got in zip(exp["columns"], nulls):
                if got != exp["nulls"][c]:
                    self.ctx.fail(f"ingest {table}.{c}: nulls {got} != {exp['nulls'][c]}")
            for c, got in zip(exp["sums"], sums):
                want = exp["sums"][c]
                if got is None or abs(float(got) - want) > 1e-9 * max(1.0, abs(want)) + 1e-6:
                    self.ctx.fail(f"ingest {table}.{c}: sum {got} != {want}")

    def _check_flags(self, base: str) -> None:
        """The streamed flags equal the batch twin: each arrival file
        flagged by ``incremental_near_dups`` against the corpus index
        grown by the earlier files (the s02 equivalence)."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from parquet_pipeline_spark.operators.dedup import banded_minhash, incremental_near_dups

        spark = self.ctx.spark
        try:
            streamed = sorted(
                tuple(r) for r in spark.read.parquet(os.path.join(base, "flags"))
                .select("doc_id", "dup_of", "is_dup").collect()
            )
            corpus = spark.read.parquet(os.path.join(base, "warehouse", "corpus.parquet"))
            arrived = spark.createDataFrame(
                [(d, t, b) for b, batch in enumerate(self.arrivals) for d, t in batch],
                "doc_id long, text string, batch int",
            )
            docs = corpus.select("doc_id", "text", F.lit(-1).alias("batch")).unionByName(arrived)
            # every fingerprint computed once; batch b's index is the
            # corpus plus the batches before it
            fp = banded_minhash(docs.select("doc_id", "text"), **MINHASH).join(
                F.broadcast(docs.select("doc_id", "batch")), "doc_id"
            ).localCheckpoint()
            flags = [
                incremental_near_dups(
                    arrived.filter(F.col("batch") == b).select("doc_id", "text"),
                    fp.filter(F.col("batch") < b).drop("batch"),
                    new_banded=fp.filter(F.col("batch") == b).drop("batch"),
                    **MINHASH,
                ).select("doc_id", "dup_of", "is_dup")
                for b in range(len(self.arrivals))
            ]
            twin = [tuple(r) for r in functools.reduce(DataFrame.unionByName, flags).collect()]
        except Exception:
            _op_exc(self.ctx, "stream twin")
            return
        if streamed != sorted(twin):
            diff = sorted(set(streamed) ^ set(twin))[:5]
            self.ctx.fail(f"stream flags differ from the batch twin: {diff}")
        n_docs = sum(len(b) for b in self.arrivals)
        if len(streamed) != n_docs:
            self.ctx.fail(f"stream flagged {len(streamed)} docs, {n_docs} arrived")

    def metrics(self) -> dict:
        n = len(self.bulk_s)
        return {
            "ingest_rows_per_s": (median([self.input_rows / b for b in self.bulk_s]) if n else None, n),
            "stored_bytes_per_input_byte": (median(self.stored_ratio) if n else None, n),
            "stream_docs_per_s": (
                median([sum(len(b) for b in self.arrivals) / s for s in self.stream_s]) if n else None, n),
            "trigger_p50_ms": (median(self.trigger_ms) if self.trigger_ms else None,
                               len(self.trigger_ms)),
        }


# =============================================================================
class Interactive:
    """One analyst's working day: the day's files are ingested into a
    fresh warehouse and the arrivals streamed through incremental
    dedup (``Ingest``), then a session of asks and searches runs over
    the lake (``Session``). One pass does both."""

    name = "interactive"
    MIN_PASSES = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ingest = Ingest(ctx)
        self.session = Session(ctx)
        self.passes: list[tuple[bool, float]] = []

    def inputs(self) -> None:
        self.ingest.inputs()
        self.session.inputs()

    def warm(self) -> None:
        self.ingest.warm()
        self.session.warm()

    def prepare_checks(self) -> None:
        self.session.prepare_checks()

    def one_pass(self, k: int, traced: bool) -> None:
        t0 = time.perf_counter()
        self.ingest.one_pass(k, traced)
        self.session.one_pass(k, traced)
        self.passes.append((traced, time.perf_counter() - t0))

    def check(self) -> None:
        self.ingest.check()
        self.session.check()

    def walls(self) -> list:
        return self.passes

    def trace_overhead_s(self) -> float:
        return _overhead(self.passes)

    def metrics(self) -> dict:
        m = {**self.ingest.metrics(), **self.session.metrics()}
        untraced = [w for t, w in self.passes if not t]
        m["pass_s"] = (median(untraced) if untraced else None, len(untraced))
        return m

    # what the traced read-out (layers.collect) looks up
    @property
    def progress(self):
        return self.ingest.progress

    @property
    def run_ids_traced(self):
        return self.ingest.run_ids_traced

    @property
    def stored_bytes(self):
        return self.ingest.stored_bytes


WORKLOADS = {w.name: w for w in (Analytics, Interactive)}
