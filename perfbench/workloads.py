"""The three workloads. Each runs in this one process with one closed-loop
client: an op is sent only after the previous one returned.

Each workload returns a :class:`Run` holding the timings, the checked op
counts and, in a traced run, the per-layer numbers.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import common
import layers
import spans as sp
from oracle import Oracle, check_ranked
from streams import (K, SEARCH_MIX, WARM_MIX, IdMap, Stream, check_op,
                     run_op)

SPARK_SF = 0.01      # 5,000 docs
SETUP_REPEATS = 9
# distinct ops a replica phase cycles over: at least 1,000, so the first
# cycle alone puts 10 samples beyond p99
WARM_OPS = 2000
EVICT_OPS = 1000
UPDATE_OPS = 1000
CHECK_EVERY = 10      # one op in ten is checked against the reference
UPSERT_DOCS = 50
UPDATE_COMMITS = 1
BATCH_QUERIES = 100
WAND_QUERIES = 20
OVERHEAD_OPS = 400
WARM_TEXTS = 200
EVICT_WARM_TEXTS = 40


class Run:
    def __init__(self):
        self.setup_s = 0.0
        self.lat: list[float] = []
        self.query_cpu_s = 0.0
        self.loop_wall_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.index_bytes = 0
        self.source_bytes = 0
        self.replica_rss_mb = 0.0
        self._rss_base_mb = 0.0
        self.layer: dict[str, float] = {}

    def rss_window_start(self) -> None:
        """Called once the reference data of the checks is built: it is
        frozen out of the garbage collector's work and subtracted from
        the replica's memory."""
        gc.collect()
        gc.freeze()
        self._rss_base_mb = common.reset_peak_rss()

    def rss_window_end(self) -> None:
        """Peak memory the replica added since the window started (the
        reference data of the checks is resident before it)."""
        self.replica_rss_mb = max(
            self.replica_rss_mb, common.peak_rss_mb() - self._rss_base_mb)

    def record(self, what: str, err: str) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {err}")


def _tokenize():
    from rse_spark.tokenizer import tokenize
    return tokenize


def _source_bytes(corpus: pd.DataFrame) -> int:
    return int(sum(len(c.encode("utf-8")) for c in corpus["content"]))


def _replica_loop(run: Run, searcher, ops, oracle, ids, tracer,
                  until: float, first_id: int = 0) -> None:
    """One untimed pass over ``ops`` fills the replica's lazy caches (term
    rows, decoded lists, positions); then a timed closed loop cycles over
    ``ops`` until the clock passes ``until``, at least once. Every run
    thus times the same ops in the same steady state, however many fit
    in the time. One op in CHECK_EVERY of the first timed cycle is
    checked afterwards. A traced run traces the filling pass too, as
    fill.<kind> ops."""
    for j, (kind, arg) in enumerate(ops):
        if tracer is None:
            run_op(searcher, kind, arg)
        else:
            with tracer.op(f"fill.{kind}", first_id + j):
                run_op(searcher, kind, arg)
    tok = _tokenize()
    kept = []
    c0 = time.process_time()
    i = 0
    while i < len(ops) or time.perf_counter() < until:
        kind, arg = ops[i % len(ops)]
        t0 = time.perf_counter()
        if tracer is None:
            got = run_op(searcher, kind, arg)
        else:
            with tracer.op(f"op.{kind}", first_id + i):
                got = run_op(searcher, kind, arg)
        run.lat.append(time.perf_counter() - t0)
        run.loop_wall_s += run.lat[-1]
        if i < len(ops) and i % CHECK_EVERY == 0:
            kept.append((kind, arg, got))
        i += 1
    run.query_cpu_s += time.process_time() - c0
    for kind, arg, got in kept:
        run.record(f"{kind} {arg!r}", check_op(oracle, ids, kind, arg, got,
                                               tok))
    # unchecked ops still count as attempted: none raised
    run.attempted += i - len(kept)


def _overhead(run: Run, searcher, ops, tracer) -> None:
    """Traced against untraced CPU per query on the same ops, in
    alternating blocks; reported as trace.overhead_pct."""
    plain = traced = 0.0
    for b in range(0, OVERHEAD_OPS, 50):
        block = ops[b: b + 50]
        c0 = time.process_time()
        for kind, arg in block:
            run_op(searcher, kind, arg)
        c1 = time.process_time()
        for j, (kind, arg) in enumerate(block):
            with tracer.op("overhead", -1 - b - j):
                run_op(searcher, kind, arg)
        c2 = time.process_time()
        plain += c1 - c0
        traced += c2 - c1
    run.layer["trace.overhead_pct"] = 100.0 * (traced / plain - 1.0)


def _finish_traced(run: Run, tracer, searcher, corpus) -> None:
    from rse_spark.tokenizer import tokenize_many

    run.layer.update(layers.serve_metrics(tracer.roots, run.loop_wall_s))
    run.layer["serve.cached_bucket_mb"] = searcher.cached_bucket_bytes / 1e6
    sample = corpus["content"].iloc[:2000].tolist()
    t0 = time.perf_counter()
    tokenize_many(sample)
    run.layer["tokenizer.docs_per_s"] = len(sample) / (
        time.perf_counter() - t0)
    run.layer["host.calib_mops"] = common.calib_mops()


# -- serving


def _serve(seed: int, seconds: float, tracer, evict: bool) -> Run:
    from rse_spark.query.serve import DirectSearcher

    from rse_spark.fixtures import corpus_path

    run = Run()
    root, facts = common.serve_index()
    corpus = pd.read_parquet(corpus_path(common.SERVE_SF))
    oracle = Oracle(corpus, _tokenize())
    ids = IdMap(root, oracle)
    ops = Stream(oracle, seed, SEARCH_MIX if evict else WARM_MIX).take(
        EVICT_OPS if evict else WARM_OPS)
    budget = facts["full_cache_bytes"] // 2 if evict else None
    # warming fills the cache; with a budget below the working set a
    # longer warm-up would only evict and reload
    texts = [a for k, a in ops[:EVICT_WARM_TEXTS if evict else WARM_TEXTS]
             if k in ("or", "and", "ql")]
    if tracer is not None:
        layers.install(tracer, write_side=False)

    run.rss_window_start()
    times = []
    searcher = None
    for _ in range(SETUP_REPEATS):
        searcher = None  # one replica at a time: RSS is one replica's
        t0 = time.perf_counter()
        searcher = DirectSearcher(root, max_bucket_bytes=budget)
        searcher.warm(texts)
        times.append(time.perf_counter() - t0)
    run.setup_s = statistics.median(times)

    _replica_loop(run, searcher, ops, oracle, ids, tracer,
                  time.perf_counter() + seconds)
    run.rss_window_end()
    run.index_bytes = common.tree_bytes(root)
    run.source_bytes = _source_bytes(corpus)
    if tracer is not None:
        _finish_traced(run, tracer, searcher, corpus)
        _overhead(run, searcher, ops, tracer)
    return run


def serve_warm(seed, seconds, tracer=None) -> Run:
    return _serve(seed, seconds, tracer, evict=False)


def serve_evict(seed, seconds, tracer=None) -> Run:
    return _serve(seed, seconds, tracer, evict=True)


# -- Spark build, Spark queries, writes beside reads


def _fresh_dir(name: str) -> str:
    path = os.path.join(common.WORK, "runs", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _check_batch(run: Run, rows, queries, oracle, ids) -> None:
    tok = _tokenize()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"]),
             int(r["n_terms_matched"])))
    for qid, text in queries:
        qtf = {t: float(c) for t, c in Counter(tok(text)).items()}
        score, matched = oracle.scores(qtf)
        run.record(f"search_many {text!r}", check_ranked(
            by_q.get(qid, []), score, matched, matched > 0, ids.row_of, K))


def _fresh_token(rng) -> str:
    """A word no document holds; it analyzes to one term."""
    letters = "bcdfghjklmnpqrstvwxz"
    return "zq" + "".join(letters[i] for i in rng.integers(0, 20, 8)) + "q"


def _group_rows(root: str, corpus: pd.DataFrame, rng, n: int) -> np.ndarray:
    """``n`` seeded corpus rows whose documents sit in the index's first
    segment group: a commit replacing them rewrites one group, so its
    cost does not depend on how the seed scatters the keys over groups."""
    tbl = pads.dataset(
        os.path.join(root, "enriched"), format="parquet", partitioning="hive",
    ).to_table(columns=["repo", "path", "seg_group"]).to_pandas()
    keys = tbl[tbl["seg_group"] == 0][["repo", "path"]]
    rows = pd.MultiIndex.from_frame(corpus[["repo", "path"]]).get_indexer(
        pd.MultiIndex.from_frame(keys))
    return rng.choice(np.sort(rows), n, replace=False)


def build_update(seed: int, seconds: float, tracer=None) -> Run:
    from rse_spark.fixtures import corpus_path
    from rse_spark.index.compact import compact_groups
    from rse_spark.index.storage import IndexStorage
    from rse_spark.index.upsert import upsert_docs
    from rse_spark.query.engine import query_terms, search_many
    from rse_spark.query.serve import DirectSearcher
    from rse_spark.query.wand import wand_search

    run = Run()
    rng = np.random.default_rng(seed)
    corpus_pq = corpus_path(SPARK_SF)
    corpus = pd.read_parquet(corpus_pq)
    root = _fresh_dir("build_update_idx")
    # the writer commits into a copy of the sf0.1 serving index while the
    # replica reads it: sf0.01 replica ops (about 0.2 ms, interpreter
    # bound) swing by a quarter with the host's load, sf0.1 ops by about
    # a tenth
    serve_root, _facts = common.serve_index()
    live = _fresh_dir("build_update_live")
    serve_corpus = pd.read_parquet(corpus_path(common.SERVE_SF))
    if tracer is not None:
        layers.install(tracer, write_side=True)

    # the queries, every commit's rows and fresh token, and the
    # references, all made up front so that the reference data is
    # resident before the replica opens
    tok = _tokenize()
    base_oracle = Oracle(corpus, tok)
    queries = list(enumerate(a for _k, a in Stream(
        base_oracle, seed, ["or"]).take(BATCH_QUERIES + WAND_QUERIES)))
    batch, singles = queries[:BATCH_QUERIES], queries[BATCH_QUERIES:]
    commits = []
    for c in range(UPDATE_COMMITS):
        rows = _group_rows(serve_root, serve_corpus, rng, UPSERT_DOCS)
        fresh = _fresh_token(rng)
        serve_corpus.loc[rows, "content"] = (
            serve_corpus.loc[rows, "content"] + " " + fresh)
        oracle = Oracle(serve_corpus, tok)
        commits.append((rows, fresh, serve_corpus.loc[rows], oracle, Stream(
            oracle, seed * 100 + c, WARM_MIX).take(
                UPDATE_OPS)))
    # each commit's replica reads take an equal share of the time
    phase_s = seconds / UPDATE_COMMITS
    shutil.copytree(serve_root, live)

    t_setup = time.perf_counter()
    spark = common.start_spark()
    try:
        sc = spark.sparkContext
        sc.setJobGroup("perfbench.build", "index build")
        t0, c0 = time.perf_counter(), common.tree_cpu()
        common.build_index(spark, corpus_pq, root)
        build_wall = time.perf_counter() - t0
        build_cpu = common.tree_cpu() - c0
        units = IndexStorage(root).completed_units()
        build_bytes = {sub: common.tree_bytes(os.path.join(root, sub))
                       for sub in ("postings", "positions", "enriched")}
        t1 = time.perf_counter()
        idx = IndexStorage(root).load(spark)
        t2 = time.perf_counter()
        idx.preload_terms()
        t3 = time.perf_counter()
        run.rss_window_start()
        searcher = DirectSearcher(live)
        searcher.warm([a for k, a in commits[0][4][:WARM_TEXTS]
                       if k in ("or", "and", "ql")])
        run.setup_s = time.perf_counter() - t_setup

        ids = IdMap(root, base_oracle)
        run.record("build n_docs", "" if idx.n_docs == len(corpus)
                   else f"n_docs {idx.n_docs} != {len(corpus)}")

        # the Spark query tier: one batch job, then per-query jobs
        sc.setJobGroup("perfbench.search_many", "batch queries")
        all_terms = sorted({t for _, q in batch for t in query_terms(q)})
        t0 = time.perf_counter()
        batch_rows = search_many(
            spark, idx.postings, batch, n_docs=idx.n_docs,
            avgdl=idx.avgdl, term_info=idx.term_info(all_terms), k=K,
        ).collect()
        many_s = time.perf_counter() - t0
        _check_batch(run, batch_rows, batch, base_oracle, ids)
        sc.setJobGroup("perfbench.wand", "per-query Spark tier")
        wand_lat = []
        for _qid, text in singles:
            t0 = time.perf_counter()
            info = idx.term_info(sorted(query_terms(text)))
            got = [
                (int(r["doc_id"]), float(r["score"]),
                 int(r["n_terms_matched"]))
                for r in wand_search(
                    spark, idx.postings, text, n_docs=idx.n_docs,
                    avgdl=idx.avgdl, term_info=info, k=K,
                ).collect()
            ]
            wand_lat.append(time.perf_counter() - t0)
            run.record(f"wand {text!r}",
                       check_op(base_oracle, ids, "or", text, got, tok))

        # writes beside reads: each commit, then the replica's reads
        commit_s, commit_cpu, reload_lat = [], [], []
        bytes_written, groups_rewritten = [], []
        n_docs0 = searcher.n_docs
        for c, (rows, fresh, updates, oracle, ops) in enumerate(commits):
            before = set(IndexStorage(live).completed_units())
            sc.setJobGroup(f"perfbench.upsert{c}", "upsert commit")
            t0, c0 = time.time(), common.tree_cpu()
            if tracer is None:
                got = upsert_docs(spark, spark.createDataFrame(updates),
                                  live, analyzer="code",
                                  content_col="content")
            else:
                with tracer.op("op.upsert", c):
                    got = upsert_docs(spark, spark.createDataFrame(updates),
                                      live, analyzer="code",
                                      content_col="content")
            commit_s.append(time.time() - t0)
            commit_cpu.append(common.tree_cpu() - c0)
            run.record(f"upsert {c}", "" if got == (UPSERT_DOCS, UPSERT_DOCS)
                       else f"upsert returned {got}")
            after = IndexStorage(live).completed_units()
            new_units = set(after) - before
            groups_rewritten.append(
                sum(1 for u in new_units if u.startswith("group="))
                + sum(len(after[u].get("groups", ())) for u in new_units
                      if u.startswith("compact=")))
            bytes_written.append(sum(
                os.path.getsize(os.path.join(d, f))
                for d, _s, fs in os.walk(live) for f in fs
                if os.path.getmtime(os.path.join(d, f)) >= t0))

            # the first query after the commit reloads the replica
            common.settle_spark(spark)
            t0 = time.perf_counter()
            hits = searcher.search(fresh, k=100)
            reload_lat.append(time.perf_counter() - t0)
            run.lat.append(reload_lat[-1])
            live_ids = IdMap(live, oracle)
            want = {int(live_ids.id_of_row[r]) for r in rows}
            run.record(f"fresh-token probe {c}",
                       "" if {h[0] for h in hits} == want
                       else f"{len(hits)} hits, not the upserted docs")
            run.record(f"n_docs after commit {c}",
                       "" if searcher.n_docs == n_docs0
                       else f"n_docs {searcher.n_docs} != {n_docs0}")
            _replica_loop(run, searcher, ops, oracle, live_ids, tracer,
                          time.perf_counter() + phase_s,
                          first_id=len(run.lat))
        run.rss_window_end()

        t0 = time.perf_counter()
        try:
            compact_groups(spark, live)
            err = ""
        except Exception as e:  # noqa: BLE001 - any failure is reported
            err = f"compact_groups raised {e!r}"
        compact_s = time.perf_counter() - t0
        # Known defect, reported and not counted as an op: compaction
        # after any upsert raises KeyError('sources'), because
        # delete_docs commits a compact=<ms> unit that compact_groups
        # takes for a crashed compaction. The benchmark's ops must not
        # fail, so it is a probe (compact.ok) until the fix lands.
        run.notes.append(err or "compact_groups after upsert: ok")
        run.index_bytes = common.tree_bytes(live)
        run.source_bytes = _source_bytes(serve_corpus)
        if tracer is not None:
            run.layer.update(layers.build_metrics(units))
            self_t = sp.self_times_by_name(tracer.roots)
            n = len(commit_s)
            run.layer.update({
                "build.spark_jobs": common.job_count(spark,
                                                     "perfbench.build"),
                "build.postings_mb": build_bytes["postings"] / 1e6,
                "build.positions_mb": build_bytes["positions"] / 1e6,
                "build.enriched_mb": build_bytes["enriched"] / 1e6,
                "build.docs_per_s": len(corpus) / build_wall,
                "build.docs_per_cpu_s": len(corpus) / build_cpu,
                "storage.load_s": t2 - t1,
                "storage.preload_terms_s": t3 - t2,
                "engine.search_many_s": many_s,
                "engine.search_many_jobs": common.job_count(
                    spark, "perfbench.search_many"),
                "engine.batch_queries_per_s": len(batch) / many_s,
                "wand.jobs_per_query": common.job_count(
                    spark, "perfbench.wand") / len(singles),
                "wand.query_p50_ms": 1000 * statistics.median(wand_lat),
                "upsert.commit_s": sum(commit_s) / n,
                "upsert.delete_s": self_t.get("upsert.delete", 0.0) / n,
                "upsert.append_s": self_t.get("upsert.append", 0.0) / n,
                "upsert.spark_jobs_per_commit": sum(
                    common.job_count(spark, f"perfbench.upsert{c}")
                    for c in range(n)) / n,
                "upsert.bytes_written_per_doc": sum(bytes_written) / (
                    n * UPSERT_DOCS),
                "upsert.groups_rewritten_per_commit": sum(
                    groups_rewritten) / n,
                "upsert.docs_per_s": n * UPSERT_DOCS / sum(commit_s),
                "upsert.docs_per_cpu_s": n * UPSERT_DOCS / sum(commit_cpu),
                "compact.s": compact_s,
                "compact.ok": 0.0 if err else 1.0,
                "update.segment_groups": float(len([
                    d for d in os.listdir(os.path.join(live, "postings"))
                    if d.startswith("seg_group=")])),
            })
            _finish_traced(run, tracer, searcher, corpus)
            run.layer["serve.reload_ms"] = 1000 * statistics.mean(reload_lat)
            _overhead(run, searcher, ops, tracer)
    finally:
        common.stop_spark(spark)
    return run


WORKLOADS = {
    "serve_warm": serve_warm,
    "serve_evict": serve_evict,
    "build_update": build_update,
}
