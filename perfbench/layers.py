"""Per-layer metrics of the traced run.

``install`` wraps the package's public functions, named
``<module>.<function>`` after the layer they belong to. ``collect``
turns the spans of the traced passes and the status-store counts into
two sets of figures:

- ``contract``: the names BENCHMARK.json lists under ``per_layer`` -
  counts (py4j commands, jobs, tasks, bytes), which repeat exactly
  between traced runs of one seed, plus the set-up phases and the
  tracing overhead, which every workload has;
- ``detail``: per-call times of every wrapped function; a layer the
  workload never enters reads 0.

Counts come from the FIRST traced pass (its content is fixed by the
seed); times are medians over all traced passes.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from spans import self_times, spark_counts, tree
from stats import median

OPERATOR_MODULES = ["relational", "advanced", "temporal", "sketches",
                    "dedup", "text", "corpus", "vectors"]
OPERATOR_COUNTS = ["py4j_calls", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
                   "rows_in_per_row_out"]
VERB_COUNTS = ["py4j_calls", "jobs", "tasks", "shuffle_bytes"]
STREAM_PHASES = {"addBatch": "add_batch", "getBatch": "get_batch",
                 "queryPlanning": "query_planning", "walCommit": "wal_commit",
                 "commitOffsets": "commit_offsets"}
_FORMATS = {".csv": "csv", ".tsv": "tsv", ".json": "json", ".jsonl": "json", ".xlsx": "xlsx"}

# span name -> detail metric (per-call median ms; "self" = self time)
DETAIL_SPANS = {
    "catalog.register_dir": ("catalog.register_dir_ms", False),
    "engine.build_semantic_index": ("engine.build_semantic_index_ms", False),
    "plans.decompose_query": ("plans.decompose_query_ms", False),
    "plans.identify_tables": ("plans.identify_tables_ms", False),
    "plans.route_intent": ("plans.route_intent_ms", False),
    "plans.generate_sql": ("plans.generate_sql_ms", False),
    "pipeline.run_query_pipeline": ("pipeline.run_query_pipeline_self_ms", True),
    "pipeline.semantic_search": ("pipeline.semantic_search_ms", False),
    "pipeline.run_ingestion_pipeline": ("pipeline.run_ingestion_pipeline_self_ms", True),
    "pipeline.enrich_catalog_entry": ("pipeline.enrich_catalog_entry_ms", False),
    "errors.run_sql_safe": ("errors.run_sql_safe_ms", False),
    "context.summarize_result": ("context.summarize_result_ms", False),
    "context.to_markdown": ("context.to_markdown_ms", False),
    "operators.vectors.topk_build": ("operators.vectors.topk_build_ms", False),
    "operators.text.bm25_rank_build": ("operators.text.bm25_rank_build_ms", False),
    "operators.embedding.embed_query": ("operators.embedding.embed_query_ms", False),
    "sources.read_any_csv": ("sources.read_any_csv_ms", False),
    "sources.read_any_tsv": ("sources.read_any_tsv_ms", False),
    "sources.read_any_json": ("sources.read_any_json_ms", False),
    "sources.read_any_xlsx": ("sources.read_any_xlsx_ms", False),
    "sources.write_parquet": ("sources.write_parquet_ms", False),
    "operators.dedup.index_write": ("operators.dedup.index_write_ms", False),
}


def contract_names() -> dict[str, str]:
    """name -> unit of every per-layer metric BENCHMARK.json lists."""
    names = {
        "session.get_spark_ms": "ms",
        "session.load_all_ms": "ms",
        "session.warm_up_ms": "ms",
        "session.jvm_peak_rss_mb": "MB",
        "trace.overhead_ms": "ms",
        "pass.py4j_calls": "count",
        "pass.jobs": "count",
        "pass.tasks": "count",
        "pass.shuffle_bytes": "bytes",
        "pass.executor_run_ms": "ms",
        "sources.write_parquet_bytes": "bytes",
        "streaming.nonempty_trigger_frac": "ratio",
        "streaming.jobs_per_trigger": "count",
        "streaming.shuffle_bytes_per_trigger": "bytes",
    }
    for verb in ("ask", "search"):
        for c in VERB_COUNTS:
            names[f"engine.{verb}.{c}"] = "bytes" if c.endswith("bytes") else "count"
    for m in OPERATOR_MODULES:
        for c in OPERATOR_COUNTS:
            unit = "bytes" if c.endswith("bytes") else ("ratio" if c.startswith("rows") else "count")
            names[f"operators.{m}.{c}"] = unit
    return names


def detail_names() -> list[str]:
    names = [m for m, _ in DETAIL_SPANS.values()]
    names += [f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("build_ms", "exec_ms")]
    names += [f"streaming.{p}_ms" for p in STREAM_PHASES.values()]
    return names


def install(tracer) -> None:
    from parquet_pipeline_spark import catalog, engine, pipeline
    from parquet_pipeline_spark.operators import embedding, text, vectors

    w = tracer.wrap
    w(engine.Engine, "build_semantic_index", "engine.build_semantic_index")
    w(catalog.Catalog, "register_dir", "catalog.register_dir")
    for fn in ("decompose_query", "identify_tables", "route_intent", "generate_sql"):
        w(pipeline, fn, f"plans.{fn}")
    w(engine, "run_query_pipeline", "pipeline.run_query_pipeline")
    w(pipeline, "semantic_search", "pipeline.semantic_search")
    w(engine, "run_ingestion_pipeline", "pipeline.run_ingestion_pipeline")
    w(pipeline, "enrich_catalog_entry", "pipeline.enrich_catalog_entry")
    w(pipeline, "run_sql_safe", "errors.run_sql_safe")
    w(pipeline, "summarize_result", "context.summarize_result")
    w(pipeline, "to_markdown", "context.to_markdown")
    w(vectors, "topk", "operators.vectors.topk_build")
    w(text, "bm25_rank", "operators.text.bm25_rank_build")
    w(embedding, "embed_query", "operators.embedding.embed_query")
    w(pipeline, "read_any", lambda spark, path, *a, **kw:
      "sources.read_any_" + _FORMATS.get(os.path.splitext(path)[1].lower(), "other"))
    w(pipeline, "write_parquet", "sources.write_parquet")


@contextmanager
def tracing(tracer):
    """Wrappers and the py4j counter installed for the block's duration
    (a no-op without a tracer)."""
    if tracer is None:
        yield
        return
    install(tracer)
    tracer.count_py4j()
    tracer.active = True
    try:
        yield
    finally:
        tracer.active = False
        tracer.restore()


def _within(spans, outer) -> list[dict]:
    return [s for s in spans if s["start"] >= outer["start"] and s["end"] <= outer["end"]
            and s is not outer]


def collect(tracer, wl, spark, phases: dict, peak_rss) -> tuple[dict, dict]:
    """(contract, detail): name -> (value, unit)."""
    spans = tracer.spans
    selfs = self_times(spans)
    passes = sorted(tracer.by_name("pass"), key=lambda s: s["pass_no"])
    first = _within(spans, passes[0]) if passes else []
    run_ids = list(getattr(wl, "run_ids_traced", []))
    counts = spark_counts(spark.sparkContext, tracer, extra_groups=run_ids,
                          windows=passes[:1])

    def group_sum(span_list, key):
        return sum(counts.get(s.get("group"), {}).get(key, 0) for s in span_list)

    units = contract_names()
    c: dict[str, float] = {n: 0.0 for n in units}
    c["session.get_spark_ms"] = phases["get_spark_s"] * 1e3
    c["session.load_all_ms"] = phases["load_all_s"] * 1e3
    c["session.warm_up_ms"] = phases["warm_up_s"] * 1e3
    c["session.jvm_peak_rss_mb"] = peak_rss or 0.0
    c["trace.overhead_ms"] = wl.trace_overhead_s() * 1e3

    if passes:
        whole = counts.get(passes[0]["id"], {})
        c["pass.py4j_calls"] = passes[0]["py4j_calls"]
        for key in ("jobs", "tasks", "shuffle_bytes", "executor_run_ms"):
            c[f"pass.{key}"] = whole.get(key, 0)

    for verb in ("ask", "search"):
        calls = [s for s in first if s["name"] == f"engine.{verb}"]
        if calls:
            c[f"engine.{verb}.py4j_calls"] = sum(s["py4j_calls"] for s in calls) / len(calls)
            for k in ("jobs", "tasks", "shuffle_bytes"):
                c[f"engine.{verb}.{k}"] = group_sum(calls, k) / len(calls)

    ops = [s for s in first if s["name"].startswith("op:")]
    for m in OPERATOR_MODULES:
        mine = [s for s in ops if s.get("module") == m]
        if not mine:
            continue
        builds = [b for s in mine for b in _within(first, s) if b["name"] == "build"]
        c[f"operators.{m}.py4j_calls"] = sum(b["py4j_calls"] for b in builds)
        for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
            c[f"operators.{m}.{k}"] = group_sum(mine, k)
        rows_out = sum(s.get("rows_out", 0) for s in mine)
        c[f"operators.{m}.rows_in_per_row_out"] = group_sum(mine, "input_records") / max(1, rows_out)

    triggers = [t for t in getattr(wl, "progress", []) if t.get("traced")]
    if triggers:
        n_trig = len(triggers)
        c["streaming.nonempty_trigger_frac"] = sum(t["rows"] > 0 for t in triggers) / n_trig
        all_stream = [counts.get(r, {}) for r in run_ids]
        c["streaming.jobs_per_trigger"] = sum(g.get("jobs", 0) for g in all_stream) / n_trig
        c["streaming.shuffle_bytes_per_trigger"] = (
            sum(g.get("shuffle_bytes", 0) for g in all_stream) / n_trig)
    written = [b for t, b in getattr(wl, "stored_bytes", []) if t]
    if written:
        c["sources.write_parquet_bytes"] = written[0]

    # -- detail: per-call medians over every traced pass ------------------
    traced = [s for p in passes for s in _within(spans, p)]
    d: dict[str, float] = {n: 0.0 for n in detail_names()}
    for span_name, (metric, use_self) in DETAIL_SPANS.items():
        xs = [(selfs[s["id"]] if use_self else s["end"] - s["start"]) for s in traced
              if s["name"] == span_name]
        if xs:
            d[metric] = median(xs) * 1e3
    for m in OPERATOR_MODULES:
        for part in ("build", "exec"):
            per_op: dict[str, list[float]] = {}
            for s in traced:
                if s["name"].startswith("op:") and s.get("module") == m:
                    for b in _within(traced, s):
                        if b["name"] == part:
                            per_op.setdefault(s["op"], []).append(b["end"] - b["start"])
            d[f"operators.{m}.{part}_ms"] = sum(median(v) for v in per_op.values()) * 1e3
    for phase, short in STREAM_PHASES.items():
        xs = [t[phase] for t in triggers if t["rows"] > 0 and phase in t]
        if xs:
            d[f"streaming.{short}_ms"] = median(xs)
    contract = {n: (float(c[n]), units[n]) for n in units}
    detail = {n: (float(v), "ms") for n, v in d.items()}
    return contract, detail


def span_tree(tracer) -> list[dict]:
    return tree(tracer.spans, self_times(tracer.spans))
