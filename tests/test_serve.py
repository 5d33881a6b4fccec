"""DirectSearcher (pyarrow serving path) equals the Spark paths, fast."""

from __future__ import annotations

import time

import pytest

from rse_spark.fixtures import gen_code_corpus, gen_query_set
from rse_spark.index.storage import IndexStorage, build_resumable
from rse_spark.query.serve import DirectSearcher
from rse_spark.query.wand import wand_search


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    r = str(tmp_path_factory.mktemp("serve_idx"))
    corpus = spark.createDataFrame(gen_code_corpus(0.0004))
    build_resumable(spark, corpus, r, analyzer="code", docs_per_segment=64)
    return r


@pytest.mark.parametrize("mode", ["or", "and"])
def test_direct_equals_spark(spark, root, mode):
    idx = IndexStorage(root).load(spark)
    searcher = DirectSearcher(root, analyzer="code")
    for q in gen_query_set(0.0004, n_queries=8).itertuples():
        direct = searcher.search(q.query_text, k=10, mode=mode)
        dist = [
            (r.doc_id, round(r.score, 9), r.n_terms_matched)
            for r in wand_search(
                spark, idx.postings, q.query_text,
                n_docs=idx.n_docs, avgdl=idx.avgdl,
                term_stats=idx.term_stats, k=10, mode=mode,
            ).collect()
        ]
        got = [(d, round(s, 9), m) for d, s, m in direct]
        assert [x[0] for x in got] == [x[0] for x in dist], (q.query_text, mode)
        for (d1, s1, m1), (d2, s2, m2) in zip(got, dist):
            assert abs(s1 - s2) < 1e-6
            assert m1 == m2


def test_direct_latency(root):
    searcher = DirectSearcher(root, analyzer="code")
    searcher.search("parse index", k=10)  # warm
    t0 = time.time()
    n = 20
    for _ in range(n):
        searcher.search("parse index merge", k=10)
    per_q = (time.time() - t0) / n
    assert per_q < 0.25, f"direct path should be fast, got {per_q:.3f}s"


def test_direct_zero_hit(root):
    searcher = DirectSearcher(root, analyzer="code")
    assert searcher.search("zzzmissingterm") == []
    assert searcher.search("   ") == []


def test_direct_capped_bucket_cache(root):
    """A byte-capped searcher stays under budget across a query stream
    that touches many buckets, reloads evicted buckets on miss, and
    answers identically to an uncapped searcher. (cold_pruned=False:
    this exercises the legacy whole-bucket load path the cap governs;
    the r7 pruned cold path has its own test below.)"""
    free = DirectSearcher(root, analyzer="code")
    free.cold_pruned = False
    qs = [q.query_text for q in gen_query_set(0.0004, n_queries=24).itertuples()]
    expected = [free.search(q, k=10) for q in qs]
    total = free.cached_bucket_bytes
    assert total > 0
    # budget ~ a third of the full working set -> guaranteed evictions
    budget = max(total // 3, 1)
    capped = DirectSearcher(root, analyzer="code", max_bucket_bytes=budget)
    capped.cold_pruned = False
    for repeat in range(2):  # second pass re-touches evicted buckets
        for q, want in zip(qs, expected):
            assert capped.search(q, k=10) == want, q
            held = capped.cached_bucket_bytes
            # bound holds unless a single bucket alone exceeds it (the
            # newcomer is always kept so queries can run)
            assert (
                held <= budget
                or len(capped._bucket_tables) == 1
            ), (held, budget)
    # term-row cache never references an evicted bucket
    resident = set(capped._bucket_tables)
    assert {b for b, _t in capped._term_rows} <= resident


def test_cold_pruned_equals_full(root):
    """The r7 O(term) cold path (row-group-pruned per-term reads,
    serve._term_rows_cold) answers every query identically to the
    legacy whole-bucket load, touches NO bucket cache on the query
    path, and reports pruning telemetry; warm() still performs the
    full-bucket fill and answers stay identical after it."""
    legacy = DirectSearcher(root, analyzer="code")
    legacy.cold_pruned = False
    pruned = DirectSearcher(root, analyzer="code")
    assert pruned.cold_pruned  # the default
    # the adaptive size threshold would route this tiny test index to
    # the whole-bucket path; force the pruned path under test
    pruned.cold_pruned_min_bytes = 0
    qs = [
        q.query_text
        for q in gen_query_set(0.0004, n_queries=16).itertuples()
    ]
    for q in qs:
        assert pruned.search(q, k=10) == legacy.search(q, k=10), q
    # cold queries never load whole buckets...
    assert pruned.cached_bucket_bytes == 0
    # ...and the pruning telemetry is live (reads bounded by totals)
    st = pruned.cold_read_stats
    assert st["terms"] >= 1
    assert 1 <= st["row_groups_read"] <= st["row_groups_total"]
    # the pruned row cache stays within its byte budget accounting
    assert sum(pruned._cold_rows_bytes.values()) <= \
        pruned.max_cold_rows_bytes
    # warm() is the whole-bucket fill and flips the serving mode over
    # to resident-bucket slicing — same answers
    pruned.warm(qs)
    assert pruned.cached_bucket_bytes > 0
    for q in qs:
        assert pruned.search(q, k=10) == legacy.search(q, k=10), q


def test_cold_pruned_skips_row_groups(spark, tmp_path):
    """With multi-row-group bucket files (small parquet.block.size),
    the cold path reads STRICTLY FEWER row groups than the bucket
    holds — the O(term)-not-O(bucket) claim, measured."""
    import rse_spark.index.storage as storage_mod

    r = str(tmp_path / "idx")
    old = storage_mod.POSTINGS_ROW_GROUP_BYTES
    storage_mod.POSTINGS_ROW_GROUP_BYTES = 4 << 10
    try:
        corpus = spark.createDataFrame(gen_code_corpus(0.01))
        build_resumable(
            spark, corpus, r, analyzer="code", docs_per_segment=64,
        )
    finally:
        storage_mod.POSTINGS_ROW_GROUP_BYTES = old
    s = DirectSearcher(root=r, analyzer="code")
    s.cold_pruned_min_bytes = 0  # tiny index: force the pruned path
    hits = s.search("parse index merge", k=10)
    assert hits
    st = s.cold_read_stats
    assert st["row_groups_total"] > st["terms"], st
    assert 0 < st["row_groups_read"] < st["row_groups_total"], st
    # equivalence against the legacy loader on the same index
    legacy = DirectSearcher(root=r, analyzer="code")
    legacy.cold_pruned = False
    for q in gen_query_set(0.01, n_queries=8).itertuples():
        assert s.search(q.query_text, k=10) == \
            legacy.search(q.query_text, k=10)


def test_group_sum_dense_equals_sparse():
    """The kernel's dense offset-bincount grouping is BIT-IDENTICAL to
    its unique+inverse path (both accumulate weights in input order)."""
    import numpy as np

    from rse_spark.query.kernel import _grouped_topk

    rng = np.random.default_rng(7)
    docs = rng.integers(0, 5000, 20000).astype(np.int64)
    scores = rng.random(20000)
    n = len(np.unique(docs))
    dense = _grouped_topk(docs, scores, n)
    # same groups, range >> 4n -> sparse route
    sparse = _grouped_topk(docs * 1_000_003, scores, n)
    assert len(dense) == n
    assert [(d * 1_000_003, s, m) for d, s, m in dense] == sparse


def test_direct_last_stats_thread_local(root):
    """Concurrent wand searches each read their OWN telemetry."""
    import threading

    s = DirectSearcher(root, analyzer="code")
    s.search("parse index merge", k=10, algo="wand")  # warm buckets
    got: dict[str, dict] = {}

    def worker(q: str) -> None:
        for _ in range(20):
            s.search(q, k=10, algo="wand")
        got[q] = dict(s.last_stats)

    threads = [
        threading.Thread(target=worker, args=(q,))
        for q in ("parse index merge", "zzzmissingterm", "class return")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # the zero-hit query must see zero-block telemetry even though the
    # other threads decoded blocks concurrently
    assert got["zzzmissingterm"].get("blocks_total", 0) == 0
    assert got["parse index merge"]["blocks_total"] > 0


def test_direct_searcher_wand_on_stream_grown_index(spark, tmp_path_factory):
    """DirectSearcher(algo='wand') over a STREAM-GROWN index whose later
    batch shifted avgdl — the round-1 hazard combination — must equal
    the exact numpy path."""
    from pyspark.sql import functions as F

    from rse_spark.query.serve import DirectSearcher
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path_factory.mktemp("serve_stream"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    append_batch(spark, docs.filter(F.col("doc_id") < 250), root,
                 analyzer="simple", content_col="text", batch_id=0)
    longer = docs.filter(F.col("doc_id") >= 250).withColumn(
        "text", F.concat_ws(" ", "text", "text", "text")
    )
    append_batch(spark, longer, root, analyzer="simple",
                 content_col="text", batch_id=1)

    ds = DirectSearcher(root, analyzer="simple")
    for q in ["spark join", "query the table fast", "data group row"]:
        for mode in ("or", "and"):
            exact = ds.search(q, k=10, mode=mode, algo="numpy")
            wand = ds.search(q, k=10, mode=mode, algo="wand")
            assert [(d, m) for d, _, m in wand] == [
                (d, m) for d, _, m in exact
            ], (q, mode)
            for (d1, s1, _), (d2, s2, _) in zip(wand, exact):
                assert abs(s1 - s2) < 1e-9


def test_more_like_this_selection_and_hits(root):
    """more_like_this picks the source doc's top tf x idf terms —
    checked against an independent pure-python recount over the
    enriched table — and returns the standard multi-term OR search
    over that selection with the source doc excluded."""
    import math
    import os

    import pyarrow.dataset as pads

    searcher = DirectSearcher(root, analyzer="code")
    src = 5
    hits, sel = searcher.more_like_this(src, k=10)

    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["doc_id", "tf_terms", "tf_counts"]
    )
    docs = {
        int(d): dict(zip(ts, cs))
        for d, ts, cs in zip(
            tbl["doc_id"].to_pylist(),
            tbl["tf_terms"].to_pylist(),
            tbl["tf_counts"].to_pylist(),
        )
    }
    n_docs = len(docs)
    df: dict[str, int] = {}
    for tfs in docs.values():
        for t in tfs:
            df[t] = df.get(t, 0) + 1
    weights = sorted(
        (
            -tf * math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0),
            t,
        )
        for t, tf in docs[src].items()
    )
    expected_sel = [t for _w, t in weights[:10]]
    assert sel == expected_sel

    assert len(hits) == 10
    assert all(d != src for d, _s, _m in hits)
    want = [
        h for h in searcher.search_terms(sel, k=11, mode="or")
        if h[0] != src
    ][:10]
    assert hits == want


def test_more_like_this_unknown_doc(root):
    searcher = DirectSearcher(root, analyzer="code")
    with pytest.raises(ValueError, match="unknown doc_id"):
        searcher.more_like_this(10**9)


def test_explain_matches_search_scores(root):
    """explain()'s per-term contributions sum to exactly the score
    search() assigns the doc, and its matched-term count equals the
    hit's n_terms_matched."""
    searcher = DirectSearcher(root, analyzer="code")
    q = "parse index merge"
    hits = searcher.search(q, k=10)
    assert hits
    for d, s, m in hits:
        ex = searcher.explain(q, d)
        assert ex["doc_id"] == d
        assert abs(ex["score"] - s) < 1e-9
        assert ex["n_terms_matched"] == m
        total = sum(t["contribution"] for t in ex["terms"])
        assert abs(total - s) < 1e-9
        for t in ex["terms"]:
            if t["matched"]:
                assert t["tf"] >= 1 and t["doc_len"] >= 1
                assert t["contribution"] > 0
            else:
                assert t["contribution"] == 0.0

    # a doc matching nothing explains to zero
    ex0 = searcher.explain("zzzmissingterm", hits[0][0])
    assert ex0["score"] == 0.0 and ex0["n_terms_matched"] == 0


def test_explain_score_equals_search_bitwise(root):
    """explain() multiplies each term's weight by the same memoized
    impact the scorer sums, in the scorer's term order, so its score
    is search()'s score to the last bit — for or and and queries,
    repeated terms (query tf 2) and single-term queries."""
    searcher = DirectSearcher(root, analyzer="code")
    for q, mode in (("parse index merge", "or"), ("class return", "and"),
                    ("parse parse index", "or"), ("merge", "or")):
        hits = searcher.search(q, k=20, mode=mode)
        assert hits, q
        for d, s, m in hits:
            ex = searcher.explain(q, d)
            assert ex["score"] == s, (q, d, ex["score"], s)
            assert ex["n_terms_matched"] == m


def test_suggest_ranking(root):
    """suggest() returns near-miss vocab terms ranked (distance asc,
    df desc, term asc), never the word itself — checked against a
    pure-python recount over the enriched table."""
    import math  # noqa: F401 — parallel with the MLT test imports
    import os

    import pyarrow.dataset as pads

    searcher = DirectSearcher(root, analyzer="code")
    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["tf_terms"]
    )
    df: dict[str, int] = {}
    for ts in tbl["tf_terms"].to_pylist():
        for t in ts:
            df[t] = df.get(t, 0) + 1
    # probe: a real vocab term with its 2nd character dropped
    base = sorted(t for t in df if len(t) >= 5 and t.isalpha())[0]
    probe = base[0] + base[2:]

    got = searcher.suggest(probe, n=5)
    assert got, (probe, base)

    def dist(a, b):
        # classic Levenshtein, small inputs
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = sorted(
        (dist(probe, t), -n, t)
        for t, n in df.items()
        if t != probe and dist(probe, t) <= 2
    )[:5]
    assert got == [(t, d, -nd) for d, nd, t in expected]
    assert all(s != probe for s, _d, _df in got)

    with pytest.raises(ValueError):
        searcher.suggest("word", max_edits=3)


def test_synonym_groups_blended_scoring(root):
    """search_synonym_groups applies SynonymQuery blending — per doc
    tf summed across the group, df = max member df — verified against
    an independent pure-python recount over the enriched table; and a
    singleton-group query equals the plain term search."""
    import math
    import os

    import pyarrow.dataset as pads

    searcher = DirectSearcher(root, analyzer="code")
    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["doc_id", "tf_terms", "tf_counts", "doc_len"]
    )
    docs = {
        int(d): (dict(zip(ts, cs)), int(dl))
        for d, ts, cs, dl in zip(
            tbl["doc_id"].to_pylist(), tbl["tf_terms"].to_pylist(),
            tbl["tf_counts"].to_pylist(), tbl["doc_len"].to_pylist(),
        )
    }
    n_docs = len(docs)
    avgdl = sum(dl for _t, dl in docs.values()) / n_docs
    vocab_df: dict[str, int] = {}
    for tfs, _dl in docs.values():
        for t in tfs:
            vocab_df[t] = vocab_df.get(t, 0) + 1
    # two attested terms + one absent form one group; a third term
    # alone forms another
    attested = sorted(t for t, n in vocab_df.items() if n >= 5)
    groups = [[attested[0], attested[1], "zzzmissing"], [attested[2]]]

    got = searcher.search_synonym_groups(groups, k=10)

    K1, B = 1.2, 0.75
    scored = []
    for d, (tfs, dl) in docs.items():
        s, m = 0.0, 0
        for g in groups:
            tf = sum(tfs.get(t, 0) for t in g)
            if tf == 0:
                continue
            df = max(vocab_df.get(t, 0) for t in g)
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * tf * (K1 + 1) / (
                tf + K1 * (1 - B + B * dl / avgdl)
            )
            m += 1
        if m:
            scored.append((-s, d, m))
    scored.sort()
    want = [(d, -ns, m) for ns, d, m in scored[:10]]
    assert [(d, m) for d, _s, m in got] == [(d, m) for d, _s, m in want]
    for (d1, s1, _), (d2, s2, _) in zip(got, want):
        assert abs(s1 - s2) < 1e-9

    # singleton groups degrade to the plain multi-term search
    single = searcher.search_synonym_groups(
        [[attested[0]], [attested[2]]], k=10
    )
    plain = searcher.search_terms([attested[0], attested[2]], k=10)
    assert [(d, m) for d, _s, m in single] == [
        (d, m) for d, _s, m in plain
    ]
    for (d1, s1, _), (d2, s2, _) in zip(single, plain):
        assert abs(s1 - s2) < 1e-9

    # and-mode: every group must be present
    both = searcher.search_synonym_groups(groups, k=50, mode="and")
    assert both and all(m == 2 for _d, _s, m in both)
    # an unmatchable required group empties the result
    assert searcher.search_synonym_groups(
        [groups[0], ["zzzonlymissing"]], k=10, mode="and"
    ) == []


def test_significant_terms_jlh(root):
    """significant_terms scores (fg_rate - bg_rate) * fg_rate/bg_rate
    over the query's match set, excluding the query terms — verified
    against a pure-python recount over the enriched table."""
    import os

    import pyarrow.dataset as pads

    searcher = DirectSearcher(root, analyzer="code")
    from rse_spark.query.engine import query_terms

    q = "parse"
    qterms = set(query_terms(q, searcher.analyzer))
    got = searcher.significant_terms(q, top=10)
    assert got

    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["doc_id", "tf_terms"]
    )
    docs = {
        int(d): set(ts)
        for d, ts in zip(tbl["doc_id"].to_pylist(),
                         tbl["tf_terms"].to_pylist())
    }
    n_docs = len(docs)
    bg: dict[str, int] = {}
    for ts in docs.values():
        for t in ts:
            bg[t] = bg.get(t, 0) + 1
    fg_docs = [d for d, ts in docs.items() if qterms & ts]
    n_fg = len(fg_docs)
    fg: dict[str, int] = {}
    for d in fg_docs:
        for t in docs[d]:
            fg[t] = fg.get(t, 0) + 1
    scored = sorted(
        (
            -((f / n_fg - bg[t] / n_docs) * (f / n_fg)
              / (bg[t] / n_docs)),
            t, f, bg[t],
        )
        for t, f in fg.items() if t not in qterms
    )
    want = [(t, f, b, -ns) for ns, t, f, b in scored[:10]]
    assert [(t, f, b) for t, f, b, _s in got] == [
        (t, f, b) for t, f, b, _s in want
    ]
    for (_t1, _f1, _b1, s1), (_t2, _f2, _b2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9

    # sampling cap: a 1-doc foreground still answers deterministically
    capped = searcher.significant_terms(q, top=5, max_docs=1)
    assert len(capped) <= 5 and all(f <= 1 for _t, f, _b, _s in capped)

    assert searcher.significant_terms("zzzmissingterm") == []


def test_term_vector_and_count(root):
    """term_vector returns the stored (term, tf) vector verbatim
    (checked against the enriched table) and count() equals the
    length of the full presence set in both modes."""
    import os

    import numpy as np
    import pyarrow.dataset as pads

    searcher = DirectSearcher(root, analyzer="code")
    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["doc_id", "tf_terms", "tf_counts", "doc_len"]
    )
    i = 3
    did = int(tbl["doc_id"][i].as_py())
    tv = searcher.term_vector(did)
    assert tv["doc_id"] == did
    assert tv["doc_len"] == tbl["doc_len"][i].as_py()
    assert tv["terms"] == sorted(
        zip(tbl["tf_terms"][i].as_py(), tbl["tf_counts"][i].as_py())
    )
    with pytest.raises(ValueError, match="unknown doc_id"):
        searcher.term_vector(10**9)

    q = "parse index merge"
    from rse_spark.query.engine import query_terms

    terms = sorted(query_terms(q, searcher.analyzer))
    arrs = [searcher.term_docs(t) for t in terms]
    union = np.unique(np.concatenate([a for a in arrs if len(a)]))
    inter = arrs[0]
    for a in arrs[1:]:
        inter = np.intersect1d(inter, a)
    assert searcher.count(q) == len(union)
    assert searcher.count(q, mode="and") == len(inter)
    # counts agree with an unbounded scored search
    assert searcher.count(q) == len(searcher.search(q, k=10**9))
    assert searcher.count("zzzmissingterm") == 0
    assert searcher.count("zzzmissingterm parse", mode="and") == 0


def test_min_match_dial(root):
    """minimum_should_match: msm=1 == or-mode, msm=n_terms == and-mode,
    and intermediate values keep exactly the docs matching >= N
    distinct terms (checked against the exhaustive or-mode list)."""
    s = DirectSearcher(root, analyzer="code")
    q = "parse index merge"
    n_terms = 3
    allhits = s.search(q, k=10**6, mode="or")
    assert any(m < n_terms for _, _, m in allhits), "probe too easy"
    for msm in (1, 2, 3):
        got = s.search(q, k=10**6, min_match=msm)
        want = sorted(
            [h for h in allhits if h[2] >= msm],
            key=lambda h: (-h[1], h[0]),
        )
        assert got == want, msm
    assert s.search(q, k=50, min_match=1) == s.search(q, k=50)
    and_hits = s.search(q, k=50, mode="and")
    assert s.search(q, k=50, min_match=n_terms) == and_hits
    # validation: out-of-range msm, wrong mode/algo
    with pytest.raises(ValueError, match="min_match"):
        s.search(q, min_match=0)
    with pytest.raises(ValueError, match="min_match"):
        s.search(q, min_match=4)
    with pytest.raises(ValueError, match="mode"):
        s.search(q, mode="and", min_match=2)
    with pytest.raises(ValueError, match="mode"):
        s.search(q, algo="wand", min_match=2)


def test_search_after_pagination(root):
    """search_after: walking pages by cursor reproduces the exhaustive
    ranking exactly, with no overlap and no gaps."""
    s = DirectSearcher(root, analyzer="code")
    q = "parse index merge"
    full = s.search(q, k=10**6)
    assert len(full) > 25, "probe must span several pages"
    pages, cursor = [], None
    while True:
        page = s.search(q, k=10, after=cursor)
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert pages == full
    # cursor mid-tie: paging from inside a tie group never skips docs
    mid = full[len(full) // 2]
    rest = s.search(q, k=10**6, after=(mid[1], mid[0]))
    assert rest == full[full.index(mid) + 1:]
    with pytest.raises(ValueError, match="algo"):
        s.search(q, algo="wand", after=(1.0, 0))


def test_expand_wildcard(root):
    """WildcardQuery expansion: `?`/`*` translate to the portable
    regex and agree with a hand filter of the vocabulary."""
    import fnmatch

    s = DirectSearcher(root, analyzer="code")
    vocab = list(s.term_dict)
    for pat in ("pars*e", "ind?x", "*dex", "p?rse??"):
        got = s.expand_wildcard(pat)
        want = sorted(
            t for t in vocab if fnmatch.fnmatchcase(t, pat)
        )[:64]
        assert got == want, pat
    with pytest.raises(ValueError, match="wildcard"):
        s.expand_wildcard("plain")
    with pytest.raises(ValueError, match="wildcard"):
        s.expand_wildcard("")


def test_histogram_agg(root):
    """ES histogram agg over a match set == brute-force bucketing of
    the per-doc field values; validation errors are loud."""
    s = DirectSearcher(root, analyzer="code")
    ids = s.term_docs("parse")
    assert len(ids) > 5
    got = s.histogram(ids, "doc_len", 16)
    vals = s.field_values(ids, "doc_len")
    assert len(vals) == len(ids)
    want: dict[int, int] = {}
    for v in vals.values():
        b = (int(v) // 16) * 16
        want[b] = want.get(b, 0) + 1
    assert got == sorted(want.items())
    assert sum(n for _b, n in got) == len(ids)
    # empty match set -> no buckets
    assert s.histogram([], "doc_len", 16) == []
    with pytest.raises(ValueError, match="interval"):
        s.histogram(ids, "doc_len", 0)
    with pytest.raises(ValueError, match="numeric"):
        s.histogram(ids, "lang", 16)
    with pytest.raises(ValueError, match="unknown"):
        s.histogram(ids, "nope", 16)


def test_search_sorted(root):
    """Field-sorted search == brute-force: presence-qualified docs
    ordered by the field with an ASCENDING doc_id tie-break in both
    directions."""
    import numpy as np

    from rse_spark.query.engine import query_terms

    s = DirectSearcher(root, analyzer="code")
    q = "parse index"
    t1, t2 = sorted(query_terms(q, "code"))
    ids = np.union1d(s.term_docs(t1), s.term_docs(t2))
    vals = s.field_values(ids, "doc_len")
    desc = s.search_sorted(q, "doc_len", k=15)
    assert desc == sorted(
        ((int(d), v) for d, v in vals.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:15]
    asc = s.search_sorted(q, "doc_len", k=15, ascending=True)
    assert asc == sorted(
        ((int(d), v) for d, v in vals.items()),
        key=lambda kv: (kv[1], kv[0]),
    )[:15]
    # and-mode qualification
    both = np.intersect1d(
        s.term_docs(t1), s.term_docs(t2), assume_unique=True
    )
    got_and = s.search_sorted(q, "doc_len", k=10**6, mode="and")
    assert {d for d, _v in got_and} == set(both.tolist())
    # string field sorts too (lexicographic, same tie-break)
    by_lang = s.search_sorted(q, "lang", k=5, ascending=True)
    assert by_lang == sorted(
        ((int(d), v) for d, v in s.field_values(ids, "lang").items()),
        key=lambda kv: (kv[1], kv[0]),
    )[:5]
    with pytest.raises(ValueError):
        s.search_sorted(q, "nope", k=5)
    with pytest.raises(ValueError, match="indexable"):
        s.search_sorted("", "doc_len")


def test_facet_stats(root):
    """Terms+stats agg == brute-force per-group stats over the match
    set's field values."""
    s = DirectSearcher(root, analyzer="code")
    ids = s.term_docs("parse")
    got = s.facet_stats(ids, "lang", "doc_len")
    langs = s.field_values(ids, "lang")
    dls = s.field_values(ids, "doc_len")
    groups: dict[str, list[int]] = {}
    for d in ids.tolist():
        groups.setdefault(langs[d], []).append(int(dls[d]))
    want = sorted(
        (
            (v, len(xs), sum(xs) / len(xs), float(min(xs)),
             float(max(xs)))
            for v, xs in groups.items()
        ),
        key=lambda r: (-r[1], str(r[0])),
    )[:10]
    assert len(got) == len(want)
    for (gv, gn, gm, glo, ghi), (wv, wn, wm, wlo, whi) in zip(
        got, want
    ):
        assert (gv, gn, glo, ghi) == (wv, wn, wlo, whi)
        assert abs(gm - wm) < 1e-9
    assert s.facet_stats([], "lang", "doc_len") == []
    with pytest.raises(ValueError, match="numeric"):
        s.facet_stats(ids, "lang", "lang")
    with pytest.raises(ValueError, match="unknown"):
        s.facet_stats(ids, "nope", "doc_len")


def test_result_cache(spark, tmp_path_factory):
    """Opt-in request cache: identical pages hit, the LRU cap holds,
    and a writer commit invalidates the whole cache (generation)."""
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path_factory.mktemp("rcache_idx"))
    corpus = spark.createDataFrame(gen_code_corpus(0.0004))
    build_resumable(spark, corpus, root, analyzer="code",
                    docs_per_segment=64)
    s = DirectSearcher(root, analyzer="code")
    s.max_result_cache = 8
    q = "parse index merge"
    first = s.search(q, k=10)
    assert s.result_cache_stats["misses"] == 1
    again = s.search(q, k=10)
    assert again == first
    assert s.result_cache_stats["hits"] == 1
    # a different page shape is a different entry
    s.search(q, k=5)
    assert s.result_cache_stats["entries"] == 2
    # returned pages are copies: callers can't poison the cache
    again.append(("poison",))
    assert s.search(q, k=10) == first
    # LRU cap
    for i in range(12):
        s.search(f"parse index merge q{i}", k=10)
    assert s.result_cache_stats["entries"] <= 8
    # writer commit -> invalidated, fresh results include new docs
    extra = spark.createDataFrame(
        gen_code_corpus(0.0004).assign(
            content=lambda d: d.content + " parse parse parse"
        )
    )
    append_batch(spark, extra, root, analyzer="code")
    after = s.search(q, k=10)
    assert s.result_cache_stats["entries"] <= 1
    assert after != first  # corpus doubled; ranking must move


def test_search_dismax(root):
    """DisjunctionMax: tiebreak=1 degenerates to or-mode summing;
    tiebreak=0 is the pure per-doc max; intermediate values match a
    brute-force recombination from explain()'s per-term breakdown."""
    s = DirectSearcher(root, analyzer="code")
    q = "parse index merge"
    full = s.search(q, k=10**6)
    via_tie1 = s.search_dismax(q, k=10**6, tiebreak=1.0)
    assert [(d, m) for d, sc, m in via_tie1] == [
        (d, m) for d, sc, m in full
    ]
    for (_, s1, _), (_, s2, _) in zip(via_tie1, full):
        assert abs(s1 - s2) < 1e-12
    # brute-force check at tiebreak=0.3 from per-term contributions
    tie = 0.3
    got = s.search_dismax(q, k=20, tiebreak=tie)
    want = []
    for d, _sc, m in full:
        contribs = [
            e["contribution"]
            for e in s.explain(q, d)["terms"]
        ]
        best = max(contribs)
        want.append((d, best + tie * (sum(contribs) - best), m))
    want.sort(key=lambda r: (-r[1], r[0]))
    assert [(d, m) for d, _sc, m in got] == [
        (d, m) for d, _sc, m in want[:20]
    ]
    for (_, s1, _), (_, s2, _) in zip(got, want):
        assert abs(s1 - s2) < 1e-9
    with pytest.raises(ValueError, match="tiebreak"):
        s.search_dismax(q, tiebreak=1.5)


def test_percolate_serving(spark, root):
    """Serving-tier percolation == an independent pure-python coverage
    recount over the enriched table's stored term vectors (index-id
    aligned)."""
    import os

    import pyarrow.dataset as pads

    s = DirectSearcher(root, analyzer="code")
    t1, t2, t3 = "pars", "index", "merg"  # analyzed (stemmed) forms
    rules = [(0, [t1, t2], 2), (1, [t2, t3], 1)]
    got = s.percolate(rules)
    tbl = pads.dataset(os.path.join(root, "enriched")).to_table(
        columns=["doc_id", "tf_terms"]
    )
    want: dict[int, list] = {0: [], 1: []}
    for d, terms in zip(tbl["doc_id"].to_pylist(),
                        tbl["tf_terms"].to_pylist()):
        ts = set(terms)
        for rid, rterms, mm in rules:
            n = sum(1 for t in rterms if t in ts)
            if n >= mm:
                want[rid].append((int(d), n))
    for rid in want:
        want[rid].sort()
        assert got[rid] == want[rid], rid
    assert any(want[rid] for rid in want), "probe must fire"
    with pytest.raises(ValueError, match="min_match"):
        s.percolate([(0, [t1], 2)])
    with pytest.raises(ValueError, match="empty"):
        s.percolate([])


def test_function_score_fvf(root):
    """fvf='ln1p_dlen' == unshaped scores reshaped by ln(1+dl) and
    re-ranked — shaping happens BEFORE top-k, so the ORDER can change,
    not just the displayed numbers."""
    import math

    from rse_spark.index.codec import decode_postings
    from rse_spark.query.engine import query_terms

    s = DirectSearcher(root, analyzer="code")
    q = "parse index merge"
    terms = list(query_terms(q, "code"))
    dl: dict[int, int] = {}
    for t in terms:
        info = s.term_dict.get(t)
        if not info:
            continue
        for row in s._bucket_rows(info[1], t):
            ids, _tfs, dls = decode_postings(bytes(row["payload"]))
            dl.update(zip(ids.tolist(), dls.tolist()))
    plain = s.search(q, k=s.n_docs)
    expected = sorted(
        ((d, sc * math.log1p(dl[d]), m) for d, sc, m in plain),
        key=lambda r: (-r[1], r[0]),
    )[:10]
    shaped = s.search(q, k=10, fvf="ln1p_dlen")
    assert [r[0] for r in shaped] == [r[0] for r in expected]
    for (d1, s1, m1), (d2, s2, m2) in zip(shaped, expected):
        assert abs(s1 - s2) < 1e-9 and m1 == m2
    # the factor must be able to actually reorder (docs with distinct
    # lengths in the match set) — otherwise this test proves nothing
    assert len({dl[d] for d, _s, _m in plain}) > 1


def test_function_score_fvf_validation(root):
    s = DirectSearcher(root, analyzer="code")
    with pytest.raises(ValueError, match="fvf"):
        s.search("parse", fvf="sqrt_dlen")
    with pytest.raises(ValueError, match="numpy"):
        s.search("parse", algo="wand", fvf="ln1p_dlen")


def test_explain_sums_under_fvf(root):
    """?fvf= pages stay auditable: explain(fvf=...) multiplies the
    base breakdown by the recorded factor and matches the served
    score to 1e-9."""
    s = DirectSearcher(root, analyzer="code")
    hits = s.search("parse index merge", k=5, fvf="ln1p_dlen")
    assert hits
    for d, score, _m in hits:
        ex = s.explain("parse index merge", d, fvf="ln1p_dlen")
        assert ex["fvf"] == "ln1p_dlen"
        assert abs(ex["base_score"] * ex["fvf_factor"] - ex["score"]) \
            < 1e-12
        assert abs(ex["score"] - score) < 1e-9
    with pytest.raises(ValueError, match="fvf"):
        s.explain("parse", 0, fvf="nope")


@pytest.fixture(scope="module")
def small_groups_root(spark, tmp_path_factory):
    """Several seg_groups, each bucket file rewritten with 3-row row
    groups: a term's rows (one per segment) straddle record batches."""
    import glob
    import os

    import pyarrow.parquet as pq

    r = str(tmp_path_factory.mktemp("serve_small_rg"))
    corpus = spark.createDataFrame(gen_code_corpus(0.0004))
    build_resumable(spark, corpus, r, analyzer="code", docs_per_segment=16,
                    segments_per_group=3)
    files = glob.glob(os.path.join(r, "postings", "**", "*.parquet"),
                      recursive=True)
    for f in files:
        pq.write_table(pq.read_table(f), f, row_group_size=3)
    return r


def _rows_by_term(s, terms):
    return {
        t: sorted(s._bucket_rows(s.term_dict[t][1], t),
                  key=lambda r: r["segment_id"])
        for t in terms
    }


def test_row_builders_agree(small_groups_root):
    """Rows sliced from a resident bucket's batches, rows of the cold
    row-group-pruned read, and the rows of sharded (seg_groups=)
    replicas equal the files' own rows field by field; every term's
    decoded list equals a direct decode of its payloads; a bounded
    replica charges exactly its batches' bytes plus its memos."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from rse_spark.index.codec import bm25_impact, decode_postings

    root = small_groups_root
    want: dict[str, list] = {}
    for rec in pq.read_table(
        os.path.join(root, "postings"),
        columns=DirectSearcher._COLS,
    ).to_pylist():
        want.setdefault(rec["term"], []).append(rec)
    resident = DirectSearcher(root, analyzer="code")
    terms = sorted(resident.term_dict)
    assert sorted(want) == terms
    cold = DirectSearcher(root, analyzer="code")
    cold.cold_pruned_min_bytes = 0
    groups = sorted(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(root, "postings"))
        if d.startswith("seg_group="))
    assert len(groups) >= 3
    shards = [DirectSearcher(root, analyzer="code", seg_groups=[g])
              for g in groups]

    got_resident = _rows_by_term(resident, terms)
    got_cold = _rows_by_term(cold, terms)
    assert not cold._bucket_tables and len(resident._bucket_tables) == len(
        {resident.term_dict[t][1] for t in terms})
    got_sharded = {
        t: sorted((r for s in shards for r in _rows_by_term(s, [t])[t]),
                  key=lambda r: r["segment_id"])
        for t in terms
    }
    # some term's rows straddle record batches of one file
    n_files = {
        b: len(resident._bucket_files(b)) for b in resident._bucket_tables}
    assert any(
        len(resident._bucket_tables[b].spans[t]) > n_files[b]
        for t, (_df, b) in resident.term_dict.items())
    for t in terms:
        ref = sorted(want[t], key=lambda r: r["segment_id"])
        for got in (got_resident[t], got_cold[t], got_sharded[t]):
            assert len(got) == len(ref), t
            for g, w in zip(got, ref):
                assert (g["term"], g["segment_id"]) == (t, w["segment_id"])
                assert bytes(g["payload"]) == w["payload"], t
                for col in ("block_offsets", "block_last", "block_max_tf",
                            "block_min_dl"):
                    assert g[col].tolist() == w[col], (t, col)
        docs, tfs, dls = (
            np.concatenate(a) for a in zip(*(
                decode_postings(w["payload"])
                for w in sorted(want[t], key=lambda r: r["segment_id"]))))
        for s in (resident, cold):
            pl = s._term_list(t)
            assert pl.docs.tolist() == docs.tolist(), t
            assert pl.tfs.tolist() == tfs.tolist(), t
            assert np.array_equal(
                pl.impacts, bm25_impact(tfs, dls, s.avgdl)), t

    budget = sum(resident._bucket_bytes.values()) // 3
    bounded = DirectSearcher(root, analyzer="code", max_bucket_bytes=budget)
    for t in terms + terms[::-1]:
        bounded._term_list(t)
        with bounded._meta_lock:
            for b, loaded in bounded._bucket_tables.items():
                assert bounded._table_bytes[b] == sum(
                    batch.nbytes for batch in loaded.batches)
                memos = sum(r.plist.nbytes for (rb, _t), r in
                            bounded._term_rows.items()
                            if rb == b and r.plist is not None)
                assert bounded._bucket_bytes[b] == (
                    bounded._table_bytes[b] + memos)
            assert (sum(bounded._bucket_bytes.values()) <= budget
                    or len(bounded._bucket_tables) == 1)
    assert len(bounded._bucket_tables) < len(resident._bucket_tables)
