"""The scoring kernel (query/kernel.py) and the replica's per-term
posting lists (query/serve.py): ``_grouped_topk`` checked against a
brute-force reference (np.unique grouping + lexsort ranking) on seeded
postings, the doc-ordered ``_TermList`` on hand-made segment rows, and
a live replica's lists across an upsert commit."""

from __future__ import annotations

import numpy as np
import pytest

from rse_spark.index.codec import bm25_impact, encode_postings
from rse_spark.query import kernel
from rse_spark.query.kernel import _DocLens, _grouped_topk
from rse_spark.query.serve import DirectSearcher, _TermList


def _reference(docs, scores, k, need=1, within=None, after=None,
               combine="sum", tiebreak=0.0, dls=None):
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.bincount(inv, weights=scores)
    cnt = np.bincount(inv)
    if combine == "dismax":
        best = np.zeros(len(uniq))
        np.maximum.at(best, inv, scores)
        agg = best + tiebreak * (agg - best)
    if dls is not None:
        dlu = np.zeros(len(uniq))
        dlu[inv] = dls
        agg = agg * np.log1p(dlu)
    keep = cnt >= need
    if within is not None:
        keep &= np.isin(uniq, within)
    if after is not None:
        s, d = after
        keep &= (agg < s) | ((agg == s) & (uniq > d))
    idx = np.flatnonzero(keep)
    if k <= 0:
        return []
    order = idx[np.lexsort((uniq[idx], -agg[idx]))][:k]
    return [(int(uniq[i]), float(agg[i]), int(cnt[i])) for i in order]


def _postings(rng, n_terms, n_docs, per_term, spread=1):
    """Per-term doc lists concatenated in term order (as the replica
    feeds the kernel), with quarter-step contributions so many docs
    tie at every value, plus per-posting doc lengths."""
    dl_of = rng.integers(1, 400, n_docs)
    docs, scores = [], []
    for _ in range(n_terms):
        d = np.sort(rng.choice(n_docs, per_term, replace=False))
        docs.append(d)
        scores.append(np.round(rng.random(per_term) * 4) / 4 + 0.25)
    docs = np.concatenate(docs).astype(np.int64)
    dls = dl_of[docs].astype(np.float64)
    return docs * spread, np.concatenate(scores), dls


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("spread", [1, 1_000_003])
def test_grouped_topk_matches_reference(seed, spread):
    """need 1..T, within sets (None, empty, disjoint, outside the
    posting range, random), after cursors, k in {0, 1, 10, > n};
    spread 1_000_003 forces the sparse np.unique grouping."""
    rng = np.random.default_rng(seed)
    n_terms, n_docs = 3, 6000
    docs, scores, _dls = _postings(rng, n_terms, n_docs, 2500, spread)
    present = np.unique(docs)
    absent = np.setdiff1d(np.arange(n_docs) * spread, present)
    withins = [
        None,
        np.empty(0, dtype=np.int64),
        absent[:50],
        np.array([-5, -1, n_docs * spread + 7], dtype=np.int64),
        np.unique(np.concatenate((
            rng.choice(present, 300, replace=False), absent[:20],
            [-3, n_docs * spread + 1],
        ))).astype(np.int64),
    ]
    for need in range(1, n_terms + 1):
        for within in withins:
            for k in (0, 1, 10, len(present) + 5):
                want = _reference(docs, scores, k, need, within)
                got = _grouped_topk(docs, scores, k, need=need,
                                    within=within)
                assert got == want, (need, k, within)
            full = _reference(docs, scores, len(present), need, within)
            # cursors near the top, deep in the ranking (the slots
            # above it must not set the sample's bound), and at the end
            for cut in (0, 5, 17, len(full) // 2, len(full) - 1):
                if 0 <= cut < len(full):
                    d, s, _m = full[cut]
                    want = _reference(docs, scores, 10, need, within,
                                      after=(s, d))
                    got = _grouped_topk(docs, scores, 10, need=need,
                                        within=within, after=(s, d))
                    assert got == want, (need, cut)


@pytest.mark.parametrize("seed", range(3))
def test_grouped_topk_dismax_and_fvf(seed):
    rng = np.random.default_rng(10 + seed)
    docs, scores, dls = _postings(rng, 4, 5000, 2000)
    uniq, first = np.unique(docs, return_index=True)
    table = _DocLens(uniq, dls[first].astype(np.int64))
    for combine, tb in (("sum", 0.0), ("dismax", 0.0), ("dismax", 0.3)):
        for use_dl in (False, True):
            kw = dict(combine=combine, tiebreak=tb)
            for need in (1, 2):
                for k in (1, 10, 100):
                    assert _grouped_topk(
                        docs, scores, k, need=need,
                        lens=table if use_dl else None, **kw,
                    ) == _reference(docs, scores, k, need,
                                    dls=dls if use_dl else None, **kw)


def test_grouped_topk_adversarial_sample():
    """The strided sample lands only on the SMALLEST values: its k-th
    value is then a loose bound, the cut keeps almost every slot, and
    the answer must still be exact (ties at the k-th value included)."""
    n = 20_000
    docs = np.arange(n, dtype=np.int64)
    k = 10
    step = n // (kernel._SAMPLE_PER_K * k + kernel._SAMPLE_MIN)
    scores = np.full(n, 2.0)
    scores[::step] = 0.5  # every sampled posting holds the minimum
    scores[7::97] = 3.0   # the winners, tied
    for kk in (1, k, 30):
        assert _grouped_topk(docs, scores, kk) == \
            _reference(docs, scores, kk)
    # a sample with fewer than k qualifying slots falls back to the
    # full scan: an and-query whose only overlaps the sample misses
    a = np.arange(0, n, 2, dtype=np.int64)
    b = np.array([1001, 4003, 9999], dtype=np.int64) * 2
    d2 = np.concatenate((a, b))
    s2 = np.ones(len(d2))
    assert _grouped_topk(d2, s2, 10, need=2) == \
        _reference(d2, s2, 10, need=2)


def _row(docs, tfs, dls):
    payload, *_blocks = encode_postings(
        np.asarray(docs), np.asarray(tfs), np.asarray(dls))
    return {"payload": payload}


# the doc lengths of the hand-made rows below
LENS = _DocLens([0, 5, 9, 12, 40, 100, 4, 6, 11],
                [10, 20, 30, 15, 25, 50, 3, 3, 3])


def test_term_list_doc_order_and_read_only():
    """Rows handed over out of segment order concatenate in doc-id
    order; every array is read-only; impacts are the codec's, at the
    doc-length table's lengths."""
    r1 = _row([0, 5, 9], [1, 2, 3], [10, 20, 30])
    r2 = _row([12, 40], [4, 1], [15, 25])
    r3 = _row([100], [2], [50])
    empty = {"payload": b""}
    pl = _TermList("t", [r3, empty, r1, r2], LENS, avgdl=20.0)
    assert pl.docs.tolist() == [0, 5, 9, 12, 40, 100]
    assert pl.tfs.tolist() == [1, 2, 3, 4, 1, 2]
    assert LENS.of(pl.docs).tolist() == [10, 20, 30, 15, 25, 50]
    assert np.array_equal(
        pl.impacts, bm25_impact(pl.tfs, LENS.of(pl.docs), 20.0))
    assert (pl.docs.dtype, pl.tfs.dtype) == (np.int32, np.uint8)
    assert pl.nbytes == 13 * len(pl.docs)
    for a in (pl.docs, pl.tfs, pl.impacts):
        assert not a.flags.writeable
        with pytest.raises(ValueError):
            a[0] = 1
    one = _TermList("t", [r2], LENS, avgdl=20.0)
    assert one.docs.tolist() == [12, 40] and not one.docs.flags.writeable
    none = _TermList("t", [], LENS, avgdl=20.0)
    assert none.docs.dtype == np.int64 and not len(none.impacts)


@pytest.mark.parametrize("top, dtype", [
    (255, np.uint8), (256, np.uint16), (65535, np.uint16), (65536, np.int32),
])
def test_term_list_tfs_take_the_narrowest_dtype(top, dtype):
    """``tfs`` is the narrowest of uint8, uint16 and int32 that holds the
    list's largest tf; impacts, and a rescoring at another avgdl (the
    federated path), equal those of int64 tfs bit for bit."""
    lens = _DocLens([0, 5, 9], [70_000] * 3)
    wide = np.array([1, top, 2], dtype=np.int64)
    pl = _TermList("t", [_row([0, 5, 9], wide, [70_000] * 3)], lens,
                   avgdl=100.0)
    assert pl.tfs.dtype == dtype and pl.tfs.tolist() == wide.tolist()
    assert pl.nbytes == len(wide) * (4 + np.dtype(dtype).itemsize + 8)
    dls = lens.of(pl.docs)
    assert np.array_equal(pl.impacts, bm25_impact(wide, dls, 100.0))
    assert np.array_equal(bm25_impact(pl.tfs, dls, 37.5),
                          bm25_impact(wide, dls, 37.5))


def test_term_list_overlapping_rows_raise():
    r1 = _row([0, 5, 9], [1, 1, 1], [10, 20, 30])
    r2 = _row([9, 11], [1, 1], [30, 3])  # doc 9 in two segments
    with pytest.raises(ValueError, match="overlap"):
        _TermList("dup", [r2, r1], LENS, avgdl=3.0)
    r3 = _row([4, 6], [1, 1], [3, 3])  # interleaves with r1
    with pytest.raises(ValueError, match="overlap"):
        _TermList("dup", [r1, r3], LENS, avgdl=3.0)


def test_term_list_doc_lengths_must_match_table():
    """A payload whose doc lengths disagree with the generation's
    table, or that names a doc the table lacks, raises naming the
    term."""
    with pytest.raises(ValueError, match="'bad'.*doc_len"):
        _TermList("bad", [_row([0, 5], [1, 1], [10, 21])], LENS, 20.0)
    with pytest.raises(ValueError, match="'gone'.*doc_len"):
        _TermList("gone", [_row([7], [1], [3])], LENS, 20.0)
    with pytest.raises(ValueError, match="'past'.*doc_len"):
        _TermList("past", [_row([101], [1], [3])], LENS, 20.0)


@pytest.mark.parametrize("ids", [
    np.arange(0, 40, 3),  # compact: direct gather
    np.array([5, 10**9, 2**40, 2**40 + 7]),  # sparse: searchsorted
])
def test_doc_lens_gather(ids):
    rng = np.random.default_rng(3)
    lens = rng.integers(0, 500, len(ids))
    order = rng.permutation(len(ids))
    table = _DocLens(ids[order], lens[order])
    assert (table.ids is None) == (len(ids) > 5)
    assert table.of(ids).tolist() == lens.tolist()
    assert table.of(ids[::-1].astype(np.int64)).tolist() == \
        lens[::-1].tolist()
    missing = np.array([int(ids[0]) - 1, int(ids[1]) + 1,
                        int(ids[-1]) + 1])
    assert table.of(missing).tolist() == [-1, -1, -1]
    assert not len(table.of(ids[:0]))


def test_term_list_follows_upsert_generation(spark, tmp_path_factory):
    """A live replica memoizes a term's list, a writer upserts a doc
    carrying that term: after the generation bump the same replica
    serves the new doc id (and not the replaced one) from a rebuilt
    list, exactly as a freshly opened replica does."""
    from pyspark.sql import functions as F

    from rse_spark.index.upsert import upsert_docs
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path_factory.mktemp("termlist_upsert"))
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 200)
    append_batch(spark, docs, root, analyzer="simple",
                 content_col="text", docs_per_segment=64,
                 segments_per_group=2)
    live = DirectSearcher(root, analyzer="simple")
    text7 = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
    tok = text7.split(" ")[0]
    before = live.term_docs(tok)
    assert not before.flags.writeable
    plist = live._term_list(tok)
    assert plist.docs is before  # memoized, handed out without a copy
    old_ids = set(before.tolist())

    updates = docs.filter(F.col("doc_id") == 7).withColumn(
        "text", F.lit(f"{tok} qqqfresh")
    )
    assert upsert_docs(spark, updates, root, key=("src_doc_id",),
                       analyzer="simple", content_col="text") == (1, 1)
    after = live.term_docs(tok)
    fresh = DirectSearcher(root, analyzer="simple")
    assert np.array_equal(after, fresh.term_docs(tok))
    new_id = int(live.term_docs("qqqfresh")[0])
    assert new_id in set(after.tolist()) and new_id not in old_ids
    assert len(after) == len(before)  # one doc replaced, none added
    assert live._term_list(tok) is not plist
    assert live.search(f"{tok} qqqfresh", k=10) == \
        fresh.search(f"{tok} qqqfresh", k=10)
