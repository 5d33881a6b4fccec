"""Which public functions each layer is timed at, and the reduction of
spans and manifest records to the per-layer metrics.

A traced run prints every metric named here; a layer a workload does not
exercise reads 0.
"""

from __future__ import annotations

import numpy as np

import spans as sp

# (module:attribute, span name). Most serve-side imports are function
# local, so wrapping the defining module's attribute catches them; the
# module-level ``query_terms`` imports of serve and qlang are wrapped
# where they are bound.
SERVE_TARGETS = [
    ("rse_spark.query.serve:query_terms", "tokenizer.query_terms"),
    ("rse_spark.query.qlang:query_terms", "tokenizer.query_terms"),
    ("rse_spark.tokenizer:tokenize", "tokenizer.tokenize"),
    ("rse_spark.index.codec:decode_postings", "codec.decode_postings"),
    ("rse_spark.index.positions:decode_position_list", "positions.decode"),
    ("pyarrow.parquet:read_table", "io.read_table"),
    ("rse_spark.query.serve:read_ids_pruned", "io.read_ids_pruned"),
    ("rse_spark.query.serve:DirectSearcher._bucket_rows",
     "cache.bucket_rows"),
    ("rse_spark.query.serve:DirectSearcher.search", "serve.search"),
    ("rse_spark.query.serve:DirectSearcher.search_terms",
     "serve.search_terms"),
    ("rse_spark.query.serve:DirectSearcher.phrase_search_positions",
     "serve.phrase_search_positions"),
    ("rse_spark.query.serve:DirectSearcher.expand_prefix",
     "serve.expand_prefix"),
    ("rse_spark.query.serve:DirectSearcher.term_docs", "serve.term_docs"),
    ("rse_spark.query.serve:DirectSearcher.meta_docs", "serve.meta_docs"),
    ("rse_spark.query.qlang:search_ql", "qlang.search_ql"),
    ("rse_spark.query.qlang:match_ql", "qlang.match_ql"),
]
WRITE_TARGETS = [
    ("rse_spark.index.upsert:delete_docs", "upsert.delete"),
    ("rse_spark.streaming.stream_index:append_batch", "upsert.append"),
]

REPLICA_OPS = {"op.or", "op.and", "op.ql", "op.phrase", "op.prefix"}
# the untimed pass before each timed loop: where a warm replica decodes
# posting lists and, after a generation bump, reads buckets again
FILL_OPS = {"fill.or", "fill.and", "fill.ql", "fill.phrase", "fill.prefix"}

METRICS = {
    "tokenizer.query_terms_us": "us",
    "tokenizer.docs_per_s": "docs/s",
    "build.assign_ids_s": "s",
    "build.enrich_write_s": "s",
    "build.stats_s": "s",
    "build.stage_b_s": "s",
    "build.term_stats_s": "s",
    "build.positions_s": "s",
    "build.spark_jobs": "count",
    "build.postings_mb": "MB",
    "build.positions_mb": "MB",
    "build.enriched_mb": "MB",
    "build.docs_per_s": "docs/s",
    "build.docs_per_cpu_s": "docs/s",
    "storage.load_s": "s",
    "storage.preload_terms_s": "s",
    "engine.search_many_s": "s",
    "engine.search_many_jobs": "count",
    "engine.batch_queries_per_s": "1/s",
    "wand.jobs_per_query": "count",
    "wand.query_p50_ms": "ms",
    "serve.op_search_or_ms": "ms",
    "serve.op_search_and_ms": "ms",
    "serve.op_ql_ms": "ms",
    "serve.op_phrase_ms": "ms",
    "serve.op_prefix_ms": "ms",
    "serve.score_self_ms_per_query": "ms",
    "serve.decode_ms_per_query": "ms",
    "serve.decode_calls_per_query": "count",
    "serve.positions_decode_ms_per_phrase": "ms",
    "serve.io_ms_per_query": "ms",
    "serve.io_reads_per_query": "count",
    "serve.bucket_hit_ratio": "ratio",
    "serve.cached_bucket_mb": "MB",
    "serve.reload_ms": "ms",
    "upsert.commit_s": "s",
    "upsert.delete_s": "s",
    "upsert.append_s": "s",
    "upsert.spark_jobs_per_commit": "count",
    "upsert.bytes_written_per_doc": "B",
    "upsert.groups_rewritten_per_commit": "count",
    "upsert.docs_per_s": "docs/s",
    "upsert.docs_per_cpu_s": "docs/s",
    "compact.s": "s",
    "compact.ok": "count",
    "update.segment_groups": "count",
    "host.calib_mops": "Mops/s",
    "trace.overhead_pct": "%",
    "trace.self_sum_pct_of_wall": "%",
}


def install(tracer: sp.Tracer, write_side: bool) -> None:
    for target, name in SERVE_TARGETS + (WRITE_TARGETS if write_side else []):
        tracer.wrap(target, name)
    tracer.link_pool_threads()


def _ms(x: float) -> float:
    return 1000.0 * x


def serve_metrics(roots: "list[sp.Span]", client_wall_s: float) -> dict:
    """Per-layer numbers of the timed replica ops (root spans named
    op.<kind>); the decode, IO and cache numbers are per op of the
    cache-filling pass (fill.<kind>), as the timed ops find every list
    decoded. ``client_wall_s`` is the timed ops' latency as the client
    timed it; the layers' self times should add up to it."""
    ops = [r for r in roots if r.name in REPLICA_OPS]
    n = max(1, len(ops))
    self_t = sp.self_times_by_name(ops)
    calls = sp.calls_by_name(ops)
    fill = [r for r in roots if r.name in FILL_OPS]
    n_fill = max(1, len(fill))
    fill_t = sp.self_times_by_name(fill)
    fill_calls = sp.calls_by_name(fill)
    out: dict[str, float] = {}
    for kind, key in (("or", "search_or"), ("and", "search_and"),
                      ("ql", "ql"), ("phrase", "phrase"),
                      ("prefix", "prefix")):
        durs = [r.dur for r in ops if r.name == f"op.{kind}"]
        out[f"serve.op_{key}_ms"] = _ms(float(np.mean(durs))) if durs else 0.0
    tok = self_t.get("tokenizer.query_terms", 0.0) + self_t.get(
        "tokenizer.tokenize", 0.0)
    n_tok = calls.get("tokenizer.query_terms", 0) + calls.get(
        "tokenizer.tokenize", 0)
    out["tokenizer.query_terms_us"] = 1e6 * tok / max(1, n_tok)
    out["serve.score_self_ms_per_query"] = _ms(
        self_t.get("serve.search", 0.0)
        + self_t.get("serve.search_terms", 0.0)) / n
    out["serve.decode_ms_per_query"] = _ms(
        fill_t.get("codec.decode_postings", 0.0)) / n_fill
    out["serve.decode_calls_per_query"] = fill_calls.get(
        "codec.decode_postings", 0) / n_fill
    n_phrase = sum(1 for r in fill if r.name == "fill.phrase")
    out["serve.positions_decode_ms_per_phrase"] = _ms(
        fill_t.get("positions.decode", 0.0)) / max(1, n_phrase)
    io = fill_t.get("io.read_table", 0.0) + fill_t.get(
        "io.read_ids_pruned", 0.0)
    out["serve.io_ms_per_query"] = _ms(io) / n_fill
    out["serve.io_reads_per_query"] = (
        fill_calls.get("io.read_table", 0)
        + fill_calls.get("io.read_ids_pruned", 0)
    ) / n_fill
    lookups = [s for s in sp.walk(fill) if s.name == "cache.bucket_rows"]
    misses = sum(
        1 for s in lookups
        if any(c.name.startswith("io.") for c in sp.walk(s.children))
    )
    out["serve.bucket_hit_ratio"] = (
        1.0 - misses / len(lookups) if lookups else 0.0
    )
    out["trace.self_sum_pct_of_wall"] = (
        100.0 * sum(self_t.values()) / client_wall_s if client_wall_s
        else 0.0
    )
    return out


def build_metrics(units: dict) -> dict:
    """Stage times of one build from its manifest records."""
    phases = units["docs"].get("phases", {})
    groups = [r for u, r in units.items() if u.startswith("group=")]
    return {
        "build.assign_ids_s": float(phases.get("assign_ids", 0.0)),
        "build.enrich_write_s": float(phases.get("enrich_write", 0.0)),
        "build.stats_s": float(phases.get("stats", 0.0)),
        "build.stage_b_s": sum(r.get("wall_ms", 0) for r in groups) / 1e3,
        "build.term_stats_s": units.get("term_stats", {}).get(
            "wall_ms", 0) / 1e3,
        "build.positions_s": units.get("positions", {}).get(
            "wall_ms", 0) / 1e3,
    }
