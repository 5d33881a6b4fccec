"""The serving tier's positional kernel: sorted-list intersection,
run-length counting, the one numpy top-k and the slot-bitmap helpers
(query/kernel.py), checked against brute-force references — first the
helpers on seeded random arrays, then every positional surface on small
seeded corpora whose per-doc answers are recounted from the token lists:
dense terms chain as slot bitmaps, sparse ones as slot lists, and an
index with a non-compact doc-id range ranks its documents by id."""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from rse_spark.index.positions import build_positions
from rse_spark.query import serve
from rse_spark.query.kernel import (
    _GALLOP_RATIO,
    _bits_test,
    _chain_step,
    _DocLens,
    _intersect_sorted,
    _popcount64,
    _range_counts,
    _run_lengths,
    _shift_and,
    _SlotSpace,
    _topk,
)
from rse_spark.query.serve import DirectSearcher


def _strict(rng, n, hi):
    return np.unique(rng.integers(0, hi, n)).astype(np.int64)


@pytest.mark.parametrize("seed", range(5))
def test_intersect_sorted_matches_reference(seed):
    rng = np.random.default_rng(seed)
    # empty, one very short list against a long one (binary search),
    # comparable sizes (merge), identical and disjoint lists
    for na, nb, hi in [(0, 500, 10**4), (1, 20_000, 10**5),
                       (40, 40 * _GALLOP_RATIO, 10**4),
                       (41, 40 * _GALLOP_RATIO, 10**4),
                       (3_000, 4_000, 10**4), (5_000, 5_000, 6_000)]:
        a, b = _strict(rng, na, hi), _strict(rng, nb, hi)
        want = np.intersect1d(a, b)
        for x, y in ((a, b), (b, a), (a, a)):
            got = _intersect_sorted(x, y)
            ref = want if x is not y else x
            assert got.dtype == np.int64
            assert np.array_equal(got, ref), (na, nb)
    odd = np.arange(1, 1000, 2, dtype=np.int64)
    assert not len(_intersect_sorted(odd, odd + 1))


def test_run_lengths_matches_unique():
    rng = np.random.default_rng(3)
    for n in (0, 1, 2, 1000):
        docs = np.sort(rng.integers(0, 50, n)).astype(np.int64)
        got_d, got_c = _run_lengths(docs)
        want_d, want_c = np.unique(docs, return_counts=True)
        assert np.array_equal(got_d, want_d)
        assert np.array_equal(got_c, want_c)


@pytest.mark.parametrize("seed", range(5))
def test_topk_matches_reference(seed):
    """(value desc, index asc), every tie with the k-th value ordered
    by index — for counts with heavy ties and for float scores."""
    rng = np.random.default_rng(seed)
    for vals in (rng.integers(1, 4, 60), rng.integers(0, 2, 7),
                 rng.random(50), np.round(rng.random(80), 1),
                 np.zeros(0)):
        ref = sorted(range(len(vals)), key=lambda i: (-vals[i], i))
        for k in (0, 1, 2, 5, 10, len(vals), len(vals) + 3):
            assert _topk(vals, k).tolist() == ref[:k], (vals, k)


def _bools(bits):
    """Bit i of a uint64 bitmap as element i (word i // 64, bit i % 64)."""
    return np.array([(int(bits[i // 64]) >> (i % 64)) & 1
                     for i in range(64 * len(bits))], dtype=bool)


def _words(rng, n, density=0.5):
    return np.packbits(rng.random(64 * n) < density,
                       bitorder="little").view("<u8").astype(np.uint64)


def test_popcount64_matches_bin():
    rng = np.random.default_rng(5)
    w = np.concatenate([
        np.array([0, 1, 2**63, 2**64 - 1, 0x5555555555555555],
                 dtype=np.uint64),
        rng.integers(0, 2**64 - 1, 500, dtype=np.uint64, endpoint=True),
        _words(rng, 200, 0.03),
    ])
    got = _popcount64(w)
    assert got.dtype == np.int64
    assert got.tolist() == [bin(int(x)).count("1") for x in w]


def test_shift_and_and_bits_test_cross_word_boundaries():
    one = np.uint64(1)
    # bit 63 of word 0 carries into bit 0 of word 1; bit 0 moves to 1;
    # bit 63 of the last word falls off the end
    cur = np.array([one << np.uint64(63) | one, one << np.uint64(63)],
                   dtype=np.uint64)
    full = np.full(2, 2**64 - 1, dtype=np.uint64)
    assert _shift_and(cur, full).tolist() == [2, 1]
    assert _shift_and(cur, np.array([0, 2**64 - 1],
                                    dtype=np.uint64)).tolist() == [0, 1]
    assert not _shift_and(cur, np.array([1, 2], dtype=np.uint64)).any()
    rng = np.random.default_rng(6)
    for n in (1, 2, 7):
        a, b = _words(rng, n), _words(rng, n)
        ba, bb = _bools(a), _bools(b)
        want = np.r_[False, ba[:-1]] & bb
        assert np.array_equal(_bools(_shift_and(a, b)), want)
        assert np.array_equal(_bools(a), ba)  # inputs untouched
        every = np.arange(64 * n, dtype=np.int64)
        assert np.array_equal(_bits_test(a, every), ba)
        assert np.array_equal(_bits_test(a, every[::-7]), ba[::-7])


def test_range_counts_matches_brute_force():
    """Exact per-range counts, for random, empty, full and single-bit
    word-boundary bitmaps, with ranges ending and starting at every
    word boundary and straddling each."""
    rng = np.random.default_rng(7)
    cases = [_words(rng, n, d) for n, d in
             ((1, 0.5), (4, 0.5), (5, 0.05), (3, 1.0))]
    cases += [np.zeros(3, dtype=np.uint64),
              np.full(3, np.uint64(2**64 - 1), dtype=np.uint64)]
    edge = np.zeros(4, dtype=np.uint64)  # bits 63, 64, 191, 192
    edge[0], edge[1] = np.uint64(1 << 63), np.uint64(1)
    edge[2], edge[3] = np.uint64(1 << 63), np.uint64(1)
    cases.append(edge)
    for bits in cases:
        n = len(bits)
        ref = _bools(bits)
        edges = np.arange(0, 64 * n, 64)  # every word boundary
        rand = rng.integers(0, 64 * n, 12)
        for bounds in (
            np.sort(np.r_[edges, rand, rand[:3],
                          64 * n - 1]).astype(np.int64),  # dups: empty
            np.sort(np.r_[edges - 1, edges + 1, 64 * n - 1]
                    ).clip(0).astype(np.int64),  # straddle boundaries
        ):
            want = [int(ref[a:b].sum()) for a, b in zip(bounds, bounds[1:])]
            assert _range_counts(bits, bounds).tolist() == want
    bits = _words(rng, 3)
    assert _range_counts(bits, np.array([5], dtype=np.int64)).tolist() == []
    assert _range_counts(bits, np.array([64, 64, 128],
                                        dtype=np.int64)).tolist() == \
        [0, int(_bools(bits)[64:128].sum())]


def _slots_of(space, ids, toks, t):
    """Sorted slots of term ``t`` in documents ``toks`` (ids ``ids``),
    written by ``_SlotSpace.put`` one document per row."""
    out = np.empty(sum(int((doc == t).sum()) for doc in toks),
                   dtype=space.dtype)
    at = 0
    for d, doc in zip(ids, toks):
        pos = np.flatnonzero(doc == t)
        if len(pos):
            at = space.put(out, at, np.array([d]), np.array([len(pos)]),
                           pos, t)
    return out


@pytest.mark.parametrize("seed", range(3))
def test_chain_step_any_of_several_terms(seed):
    """A step whose next word is any of several terms — slot lists,
    bitmaps, or both, from a slot-list or a bitmap chain — keeps exactly
    the occurrences that directly follow the chain, never across a
    document boundary."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 40, 30)
    ids = np.arange(30) + 5
    space = _SlotSpace(_DocLens(ids, lens))
    toks = [rng.choice(list("abcd"), size=n) for n in lens]
    slot_of = {t: _slots_of(space, ids, toks, t) for t in "abcd"}
    # (doc, position) of every slot, to recount adjacency by hand
    where = {int(space.start[i]) + p: (int(d), p)
             for i, (d, n) in enumerate(zip(ids, lens)) for p in range(n)}

    def slots(x):
        if x.dtype != np.uint64:
            return set(x.tolist())
        return set(np.flatnonzero(_bools(x)).tolist())

    for cur in (slot_of["a"], space.bitmap(slot_of["a"])):
        for lists in ((), ("b",), ("b", "c")):
            for bitmaps in ((), ("d",), ("d", "a")):
                if not (lists or bitmaps):
                    continue
                nxt = set().union(*(slots(slot_of[t]) for t in
                                    lists + bitmaps))
                want = {
                    s + 1 for s in slots(cur) if s + 1 in nxt
                    and where[s + 1] == (where[s][0], where[s][1] + 1)
                }
                got = _chain_step(
                    cur, [slot_of[t] for t in lists],
                    [space.bitmap(slot_of[t]) for t in bitmaps])
                assert slots(got) == want, (cur.dtype, lists, bitmaps)
                if got.dtype != np.uint64:
                    assert got.dtype == space.dtype == np.int32
                    assert (np.diff(got) > 0).all()


VOCAB = ["alpha", "beta", "betamax", "gamma", "rare"]
WEIGHTS = [0.55, 0.2, 0.05, 0.19, 0.01]


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    """A seeded corpus where ``alpha`` is on ~55% of positions and
    ``rare`` on ~1% — so a rare term's key list is far more than
    _GALLOP_RATIO times shorter than alpha's — indexed with
    positions."""
    from rse_spark.index.storage import build_resumable

    rng = np.random.default_rng(42)
    docs = [
        list(rng.choice(VOCAB, size=int(rng.integers(3, 60)),
                        p=WEIGHTS))
        for _ in range(300)
    ]
    root = str(tmp_path_factory.mktemp("kernel_idx"))
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(docs)),
        "text": [" ".join(d) for d in docs],
    }))
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=32,
                    segments_per_group=2)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    return DirectSearcher(root, analyzer="simple"), docs


def _ranked(counts: dict, k: int):
    return sorted(
        ((d, n) for d, n in counts.items() if n),
        key=lambda r: (-r[1], r[0]),
    )[:k]


def _phrase_counts(docs, words):
    n = len(words)
    return {
        d: sum(toks[i:i + n] == words for i in range(len(toks) - n + 1))
        for d, toks in enumerate(docs)
    }


PHRASES = ["alpha alpha", "alpha beta alpha", "alpha rare", "rare alpha",
           "alpha alpha alpha alpha", "gamma rare beta", "alpha nosuch",
           "nosuch alpha", "rare rare"]


def test_phrase_search_matches_brute_force(small):
    s, docs = small
    for p in PHRASES:
        want = _phrase_counts(docs, p.split())
        for k in (1, 3, 10, 10**6):
            assert s.phrase_search_positions(p, k=k) == _ranked(want, k), \
                (p, k)
    # the long-vs-short cases really are long vs short
    space = s._slot_space()
    n_alpha = len(s._term_slots("alpha", space))
    assert n_alpha >= _GALLOP_RATIO * len(s._term_slots("rare", space))
    # ties at the k-th count exist and resolve by doc id
    counts = sorted(
        _phrase_counts(docs, ["alpha", "rare"]).values(), reverse=True
    )
    assert counts[2] == counts[3] > 0


def test_phrase_prefix_matches_brute_force(small):
    s, docs = small
    for head, pre in [(["alpha"], "be"), (["gamma", "alpha"], "al"),
                      ([], "bet"), (["rare"], "a"), (["alpha"], "zz"),
                      # a head word that is not indexed: first, after a
                      # dense word, and after a sparse one
                      (["zzz"], "al"), (["alpha", "zzz"], "al"),
                      (["rare", "zzz", "alpha"], "al")]:
        want = {
            d: sum(
                toks[i:i + len(head)] == head
                and toks[i + len(head)].startswith(pre)
                for i in range(len(toks) - len(head))
            )
            for d, toks in enumerate(docs)
        }
        q = " ".join(head + [pre])
        for k in (2, 10**6):
            assert s.phrase_prefix_search(q, k=k) == _ranked(want, k), q


def test_span_first_matches_brute_force(small):
    s, docs = small
    for word, end in [("alpha", 3), ("rare", 40), ("betamax", 1)]:
        want = {d: toks[:end].count(word) for d, toks in enumerate(docs)}
        for k in (4, 10**6):
            assert s.span_first_search(word, end, k=k) == \
                _ranked(want, k)


def _near_counts(docs, a, b, dist, ordered):
    """Per doc: for each ``a``, the ``b`` within ``dist`` tokens after
    it (ordered) or on either side of it (unordered), itself excluded."""
    want = {}
    for d, toks in enumerate(docs):
        n = 0
        for i, t in enumerate(toks):
            if t != a:
                continue
            lo = i + 1 if ordered else i - dist
            n += sum(
                toks[j] == b and j != i
                for j in range(max(lo, 0), min(i + dist + 1, len(toks)))
            )
        want[d] = n
    return want


def test_near_matches_brute_force(small):
    s, docs = small
    for a, b, dist, ordered in [("alpha", "rare", 3, True),
                                ("rare", "alpha", 2, False),
                                ("alpha", "alpha", 2, False),
                                ("gamma", "beta", 5, True)]:
        want = _near_counts(docs, a, b, dist, ordered)
        for k in (3, 10**6):
            assert s.near_search_positions(
                a, b, dist, k=k, ordered=ordered
            ) == _ranked(want, k), (a, b, dist, ordered)


def test_search_rescored_within_matches_brute_force(small):
    """The rescore path seeds the phrase chain only inside the BM25
    window (``within=``); its counts must equal full recounts."""
    s, docs = small
    for q, p, window in [("rare gamma", "alpha rare", 20),
                         ("beta", "alpha alpha", 30),
                         ("betamax rare", "rare alpha", 10),
                         ("alpha", "alpha beta alpha", 40),
                         ("gamma beta", "beta gamma rare", 25)]:
        counts = _phrase_counts(docs, p.split())
        base = s.search(q, k=window)
        want = sorted(
            ((d, sc + 2.0 * counts[d], m, counts[d])
             for d, sc, m in base),
            key=lambda r: (-r[1], r[0]),
        )[:10]
        got = s.search_rescored(q, p, k=10, window=window, weight=2.0)
        assert [(d, m, n) for d, _s, m, n in got] == \
            [(d, m, n) for d, _s, m, n in want], (q, p)
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9


# 3- and 4-word chains through every step pairing: in ``small`` only
# ``rare`` is sparse, so e.g. "alpha beta rare" steps bitmap x bitmap,
# then bitmap x list, and "rare alpha beta" list x bitmap twice
CHAINS = ["alpha beta gamma", "alpha beta rare", "rare alpha beta",
          "alpha rare rare", "rare rare alpha", "alpha alpha beta rare",
          "rare rare alpha gamma", "alpha rare alpha rare",
          "gamma rare beta alpha", "beta alpha alpha beta",
          "alpha gamma alpha"]


def test_dense_terms_carry_bitmaps(small):
    """A term has a slot bitmap exactly when the bitmap is no larger than
    its key list: alpha (~55% of tokens) does, rare (~1%) does not."""
    s, docs = small
    s.phrase_search_positions("alpha rare")
    space = s._slot_space()
    assert space.n_words == (1 + sum(len(d) + 1 for d in docs)) // 64 + 1
    dense = {
        t for t in VOCAB
        if s._term_bitmap(t, s._term_slots(t, space), space) is not None
    }
    assert "alpha" in dense and "rare" not in dense
    assert dense == {
        t for t in VOCAB
        if len(s._term_slots(t, space)) >= space.n_words
    }
    # the memo's slot lists and bitmaps are read-only and int32 here
    for t in VOCAB:
        slots = s._term_slots(t, space)
        assert slots.dtype == space.dtype == space.start.dtype == np.int32
        assert not slots.flags.writeable
    alpha = s._term_slots("alpha", space)
    assert not s._term_bitmap("alpha", alpha, space).flags.writeable


def test_slot_searches_never_cast(small, monkeypatch):
    """Every binary search of a positional surface runs with needles and
    haystack of one dtype: an int64 needle against int32 slots would
    cast the whole haystack on every call."""
    s, _docs = small
    search = np.searchsorted
    mixed = []

    def spy(a, v, *args, **kw):
        a, v = np.asarray(a), np.asarray(v)
        if np.int32 in (a.dtype, v.dtype) and a.dtype != v.dtype:
            mixed.append((a.dtype, v.dtype))
        return search(a, v, *args, **kw)

    monkeypatch.setattr(np, "searchsorted", spy)
    for p in PHRASES + CHAINS:
        s.phrase_search_positions(p, k=5)
        s.phrase_chain_docs(p, max_gap=3)
        s.phrase_prefix_search(p[:-1], k=5)
        s.search_rescored(p, p, k=5, window=20)
    for a, b in [("alpha", "rare"), ("rare", "rare"), ("beta", "alpha")]:
        for ordered in (True, False):
            s.near_search_positions(a, b, 4, ordered=ordered)
    for w in VOCAB:
        s.span_first_search(w, 2)
        s.span_first_search(w, 50)
        s.phrase_prefix_search(w[:2])
    assert s._slot_space().dtype == np.int32 and not mixed, mixed


def test_chain_pairings_match_brute_force(small, monkeypatch):
    s, docs = small
    seen = set()
    step = serve._chain_step

    def spy(cur, lists, bitmaps=()):
        seen.add((cur.dtype == np.uint64, bool(bitmaps)))
        return step(cur, lists, bitmaps)

    monkeypatch.setattr(serve, "_chain_step", spy)
    hits = 0
    for p in CHAINS:
        want = _phrase_counts(docs, p.split())
        hits += any(want.values())
        for k in (2, 10**6):
            assert s.phrase_search_positions(p, k=k) == _ranked(want, k), p
    assert hits >= len(CHAINS) - 2
    # (chain is a bitmap, next word has one): bitmap x bitmap,
    # bitmap x list, list x bitmap, list x list
    assert seen == {(True, True), (True, False), (False, True),
                    (False, False)}


def _build(spark, root, docs, ids=None, **layout):
    from rse_spark.index.storage import build_resumable

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(docs)) if ids is None else ids,
        "text": [" ".join(d) for d in docs],
    }))
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", **layout)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    return DirectSearcher(root, analyzer="simple")


# (last token of doc 2i, first token of doc 2i + 1)
JOINTS = [("edge", "edge"), ("edge", "edger"), ("edger", "edge"),
          ("edger", "edger"), ("f0", "edge"), ("edger", "f1")]


@pytest.fixture(scope="module")
def cut(spark, tmp_path_factory):
    """Terms at the density cut: ``edge`` has exactly n_words keys (its
    bitmap is as large as its key list, so it has one) and ``edger``
    n_words - 1 (a list). Both also end and start documents (JOINTS), so
    their phrases meet at document boundaries."""
    rng = np.random.default_rng(11)
    lens = rng.integers(8, 40, 60)
    n_words = (1 + int((lens + 1).sum())) // 64 + 1
    docs = [list(rng.choice(["f0", "f1", "f2"], size=int(n)))
            for n in lens]
    for i, (a, b) in enumerate(JOINTS):
        docs[2 * i][-1], docs[2 * i + 1][0] = a, b
    interior = [(i, j) for i, d in enumerate(docs)
                for j in range(1, len(d) - 1)]
    placed = Counter(t for d in docs for t in d)
    slots = iter(rng.permutation(len(interior)))
    for t, n in (("edge", n_words), ("edger", n_words - 1)):
        for _ in range(n - placed[t]):
            i, j = interior[next(slots)]
            docs[i][j] = t
    root = str(tmp_path_factory.mktemp("cut_idx"))
    return _build(spark, root, docs, docs_per_segment=16,
                  segments_per_group=2), docs, n_words


def test_density_cut_and_spacers(cut):
    s, docs, n_words = cut
    s.phrase_search_positions("edge edger")
    space = s._slot_space()
    assert space.n_words == n_words
    edge, edger = (s._term_slots(t, space) for t in ("edge", "edger"))
    assert (len(edge), len(edger)) == (n_words, n_words - 1)
    assert s._term_bitmap("edge", edge, space) is not None
    assert s._term_bitmap("edger", edger, space) is None
    stream = [t for d in docs for t in d]
    for a, b in JOINTS:
        want = _phrase_counts(docs, [a, b])
        assert s.phrase_search_positions(f"{a} {b}", k=10**6) == \
            _ranked(want, 10**6), (a, b)
        # the pair also meets across a doc boundary: the spacer slot
        # after each doc is what keeps that out of the counts
        across = sum(stream[i:i + 2] == [a, b]
                     for i in range(len(stream) - 1))
        assert across > sum(want.values()), (a, b)
    for p in ["f0 edge edger", "edge edger edge", "edger edge f2 f0",
              "f1 f1 edge", "edge edge edger edger", "edger edger f1"]:
        want = _phrase_counts(docs, p.split())
        assert s.phrase_search_positions(p, k=10**6) == \
            _ranked(want, 10**6), p
    # "edge" expands to edge (a bitmap) and edger (a list)
    assert [bool(s._chain_word(t, space)[1])
            for t in s.expand_prefix("edge")] == [True, False]
    for head, pre in [(["f0"], "edge"), (["edger"], "ed"),
                      (["edge"], "edg"), (["f0", "edge"], "e"),
                      (["edge", "edge"], "f"), (["edger", "f2"], "f")]:
        want = {
            d: sum(
                toks[i:i + len(head)] == head
                and toks[i + len(head)].startswith(pre)
                for i in range(len(toks) - len(head))
            )
            for d, toks in enumerate(docs)
        }
        assert s.phrase_prefix_search(" ".join(head + [pre]), k=10**6) \
            == _ranked(want, 10**6), (head, pre)


SPREAD = 100_003


@pytest.fixture(scope="module")
def spread(spark, tmp_path_factory, small):
    """``small``'s documents under doc ids SPREAD apart: the id range is
    far wider than the doc count, so the replica's slot space ranks the
    documents by id."""
    _s, docs = small
    root = str(tmp_path_factory.mktemp("spread_idx"))
    return _build(spark, root, docs,
                  ids=[i * SPREAD for i in range(len(docs))],
                  docs_per_segment=1 << 20, segments_per_group=8)


def test_non_compact_ids_chain_on_rank_slots(small, spread):
    s, _docs = small
    for p in PHRASES + CHAINS:
        assert spread.phrase_search_positions(p, k=10**6) == [
            (d * SPREAD, n) for d, n in s.phrase_search_positions(p, k=10**6)
        ], p
    for q in ("alpha be", "rare alpha a", "alpha alpha g", "be", "a"):
        assert spread.phrase_prefix_search(q, k=10**6) == [
            (d * SPREAD, n) for d, n in s.phrase_prefix_search(q, k=10**6)
        ], q
    space = spread._slot_space()
    assert space.ids is not None and space.dtype == np.int32
    assert np.array_equal(space.start, s._slot_space().start)
    # the same terms are dense as under compact ids: exactly those with
    # at least one occurrence per 64 slots
    assert set(spread._pos_bitmaps) == {
        t for t in VOCAB
        if len(spread._term_slots(t, space)) >= space.n_words
    } >= {"alpha"}


def test_bitmaps_evicted_with_keys_within_budget(small):
    """Under a small ``max_pos_bytes`` a term's bitmap leaves with
    its keys, the held total (keys + bitmaps) stays within the budget,
    and counts stay exact."""
    s0, docs = small
    s0.phrase_search_positions(" ".join(VOCAB))
    size = {
        t: s0._pos_slots[t].nbytes
        + (s0._pos_bitmaps[t].nbytes if t in s0._pos_bitmaps else 0)
        for t in VOCAB
    }
    assert "alpha" in s0._pos_bitmaps
    s = DirectSearcher(s0.root, analyzer="simple")
    s.max_pos_bytes = size["alpha"] + size["rare"]
    built = []  # held, so a freed bitmap's id cannot name a new one
    for _ in range(2):
        for p in PHRASES + CHAINS:
            want = _phrase_counts(docs, p.split())
            assert s.phrase_search_positions(p, k=10**6) == \
                _ranked(want, 10**6), p
            assert set(s._pos_bitmaps) <= set(s._pos_slots)
            held = sum(k.nbytes for k in s._pos_slots.values()) + sum(
                b.nbytes for b in s._pos_bitmaps.values())
            assert held == s._pos_bytes <= s.max_pos_bytes
            built.extend(s._pos_bitmaps.values())
    # alpha's bitmap was evicted and rebuilt, not kept beside the budget
    assert len({id(b) for b in built}) > len(VOCAB)


@pytest.mark.parametrize("source", ["enriched", "docs_meta"])
def test_doc_len_shorter_than_position_raises(small, tmp_path, source):
    """A doc_len below a stored position would put the occurrence in its
    doc's spacer slot or the next doc: the replica refuses the keys,
    whether doc_len comes from enriched or from a physical docs_meta."""
    s0, _docs = small
    root = str(tmp_path / "idx")
    shutil.copytree(s0.root, root)
    if source == "docs_meta":
        # a physical docs_meta takes precedence over enriched
        tbl = pads.dataset(os.path.join(root, "enriched"),
                           partitioning="hive").to_table(
            columns=["doc_id", "doc_len"])
        os.makedirs(os.path.join(root, "docs_meta"))
        pq.write_table(tbl, os.path.join(root, "docs_meta", "p.parquet"))
    for f in glob.glob(os.path.join(root, source, "**", "*.parquet"),
                       recursive=True):
        tbl = pq.read_table(f)
        i = tbl.schema.get_field_index("doc_len")
        pq.write_table(tbl.set_column(
            i, "doc_len", pc.subtract(tbl["doc_len"], 1)), f)
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="doc_len"):
        s.phrase_search_positions("alpha beta", k=5)
    assert not s._pos_slots  # nothing unchecked was cached


def test_slot_space_follows_upsert_generation(spark, tmp_path_factory):
    """A live replica that holds a slot space and bitmaps, then an upsert
    that replaces documents with longer ones: after the generation bump
    the replica rebuilds both, and its counts equal a recount of the new
    corpus."""
    from rse_spark.index.upsert import upsert_docs
    from rse_spark.streaming.stream_index import append_batch

    rng = np.random.default_rng(9)
    docs = [list(rng.choice(VOCAB, size=int(rng.integers(3, 40)),
                            p=WEIGHTS)) for _ in range(120)]

    def frame(ids, ds):
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": list(ids), "text": [" ".join(d) for d in ds],
        }))

    root = str(tmp_path_factory.mktemp("slots_upsert"))
    append_batch(spark, frame(range(len(docs)), docs), root,
                 analyzer="simple", content_col="text",
                 docs_per_segment=32, segments_per_group=2,
                 with_positions=True)
    live = DirectSearcher(root, analyzer="simple")
    phrases = ["alpha alpha", "alpha rare", "rare alpha beta",
               "alpha beta alpha", "gamma gamma alpha"]
    for p in phrases:
        live.phrase_search_positions(p, k=10)
    old_space, old_bits = live._slot_space(), live._pos_bitmaps["alpha"]

    new = {i: ["alpha", "beta"] * 30 + docs[i] for i in range(0, 120, 12)}
    assert upsert_docs(spark, frame(new, new.values()), root,
                       key=("src_doc_id",), analyzer="simple",
                       content_col="text") == (len(new), len(new))
    text_of = {**dict(enumerate(docs)), **new}
    ids = pads.dataset(os.path.join(root, "enriched"),
                       partitioning="hive").to_table(
        columns=["doc_id", "src_doc_id"])
    now = {int(d): text_of[int(src)] for d, src in zip(
        ids["doc_id"].to_pylist(), ids["src_doc_id"].to_pylist())}
    assert len(now) == len(docs)
    for p in phrases:
        words = p.split()
        want = {
            d: sum(t[i:i + len(words)] == words
                   for i in range(len(t) - len(words) + 1))
            for d, t in now.items()
        }
        assert live.phrase_search_positions(p, k=10**6) == \
            _ranked(want, 10**6), p
    space = live._slot_space()
    assert space is not old_space and space.n_words > old_space.n_words
    assert live._pos_bitmaps["alpha"] is not old_bits
    assert len(live._pos_bitmaps["alpha"]) == space.n_words


def test_slot_dtype_follows_the_space():
    """Slots are int32 while the space plus its window headroom stays
    below 2^31, else int64 — and int64 slots map back to the right
    documents. The huge space is a few documents with huge lengths, so
    nothing here allocates per slot."""
    slack = 4096
    huge = _SlotSpace(_DocLens([7, 9, 12], [2**30, 2**30, 5]), slack)
    assert huge.dtype == huge.start.dtype == np.int64
    assert int(huge.start[-1]) > 2**31
    out = np.empty(6, dtype=huge.dtype)
    at = huge.put(out, 0, np.array([7, 9]), np.array([2, 1]),
                  np.array([0, 2**30 - 1, 2**30 - 1]), "t")
    at = huge.put(out, at, np.array([12]), np.array([3]),
                  np.array([0, 3, 4]), "t")
    assert at == 6 and (out[1:] > out[:-1]).all() and out[-1] > 2**31
    ranks, counts = huge.runs(out)
    assert huge.doc_ids(ranks).tolist() == [7, 9, 12]
    assert counts.tolist() == [2, 1, 3]
    assert huge.doc_ids(huge.rank(out)).tolist() == [7, 7, 9, 12, 12, 12]
    with pytest.raises(ValueError, match="'t' at a position past"):
        huge.put(out, 0, np.array([12]), np.array([1]), np.array([5]), "t")
    with pytest.raises(ValueError, match="'t' in a doc outside"):
        huge.put(out, 0, np.array([13]), np.array([1]), np.array([0]), "t")
    # the headroom decides at the edge
    n = 2**31 - slack - 2  # start[-1] == n + 2
    assert _SlotSpace(_DocLens([0], [n - 1]), slack).dtype == np.int32
    assert _SlotSpace(_DocLens([0], [n]), slack).dtype == np.int64
    assert _SlotSpace(_DocLens([0], [n]), 0).dtype == np.int32
    normal = _SlotSpace(_DocLens(np.arange(100), np.full(100, 50)), slack)
    assert normal.dtype == np.int32
    # per-document counts below an end, from a list longer than the
    # starts (searched) and shorter (ranked); an end past every document
    # counts them whole
    slots = (normal.start[:3, None] + np.arange(50)).ravel()
    for part, end, want in [(slots, 7, [7] * 3), (slots, 2**40, [50] * 3),
                            (slots[:60], 2**40, [50, 10]),
                            (slots[:60], 12, [12, 10])]:
        got = normal.counts(part, end)
        assert got[:len(want)].tolist() == want and not got[3:].any()
    # ids far apart are ranked by id: the same slots, int32
    ranked = _SlotSpace(_DocLens([2**40, 2**41 + 5, 2**33], [3, 0, 4]),
                        slack)
    assert ranked.ids is not None and ranked.dtype == np.int32
    assert ranked.start.tolist() == [1, 6, 10, 11]
    assert ranked.doc_ids(ranked.rank(np.array(
        [1, 4, 6, 8], dtype=np.int32))).tolist() == [2**33] * 2 + [2**40] * 2


@pytest.mark.parametrize("seed", range(4))
def test_slot_ranks_match_brute_force(seed):
    """``rank``, ``runs`` and ``counts`` of sorted slot lists shorter
    and longer than the document starts equal a per-slot brute force,
    with empty documents (length 0, and ids missing from a compact
    range), under a compact id range, a non-compact one (ranked by id)
    and an int64 space. ``rank`` also takes slot 0, spacer slots and
    slots past the last document."""
    rng = np.random.default_rng(seed)
    n_docs = 60
    lens = rng.integers(0, 6, n_docs)
    lens[::7] = 0
    gappy = np.sort(rng.choice(3 * n_docs, n_docs, replace=False)) + 5
    far = np.sort(rng.choice(2**40, n_docs, replace=False)) + 2**31
    for ids, slack in [(gappy, 0), (far, 0), (gappy, 2**31)]:
        space = _SlotSpace(_DocLens(ids, lens), slack)
        assert (space.ids is None) == (ids is gappy)
        assert space.dtype == (np.int64 if slack else np.int32)
        start = space.start.tolist()
        every = np.arange(start[-1] + 3, dtype=space.dtype)
        want = np.array([
            max((r for r, st in enumerate(start) if st <= s), default=-1)
            for s in every.tolist()
        ])
        # the occurrence slots: every position of every document (the
        # slot before the next start is the document's spacer)
        occ = np.concatenate([
            np.arange(a, b - 1) for a, b in zip(start[:-1], start[1:])])
        n_starts = len(start)
        for n in (0, 1, n_starts - 1, n_starts, n_starts + 1, len(every)):
            pick = np.sort(rng.choice(len(every), n, replace=False))
            got = space.rank(every[pick])
            assert got.dtype == np.intp
            assert got.tolist() == want[pick].tolist(), n
            pick = np.sort(rng.choice(occ, min(n, len(occ)), replace=False))
            slots, ranks = every[pick], want[pick]
            per_doc = np.bincount(ranks, minlength=n_starts - 1)
            r, c = space.runs(slots)
            assert r.tolist() == np.flatnonzero(per_doc).tolist()
            assert c.tolist() == per_doc[r].tolist()
            assert space.counts(slots).tolist() == per_doc.tolist()
            pos = slots - space.start[ranks]
            for end in (1, 3, 2**40):
                assert space.counts(slots, end).tolist() == np.bincount(
                    ranks[pos < end], minlength=n_starts - 1).tolist()


# ---------------------------------------------------------------------------
# Document boundaries: every positional surface against brute force on a
# corpus of very short documents (lengths 0 and 1 included) whose first
# and last tokens are often the same term, under compact ids and under
# ids past 2^31 that are far apart (a rank-indexed slot space), with
# windows up to the largest the surfaces accept.
# ---------------------------------------------------------------------------

EDGE_VOCAB = ["ax", "ay", "bx", "cx", "zx"]
EDGE_GAPS = (1, 2, 3, 4095)


def _build_far(spark, root, docs):
    """``docs`` appended in two stream batches whose id ranges start
    past 2^31 and lie far apart, so the id range is not compact; returns
    the replica and each document's index id."""
    from rse_spark.index.storage import IndexStorage
    from rse_spark.streaming.stream_index import append_batch

    store = IndexStorage(root)
    per_group = 16 * 2
    half = len(docs) // 2
    for batch, (g, part) in enumerate([
        (2**31 // per_group + 7, range(half)),
        (2**31 // per_group + 50_000, range(half, len(docs))),
    ]):
        # a placeholder group: the batch claims the groups above it
        store.mark_done(
            f"group={g:06d}", seg_group=g, doc_lo=g * per_group,
            doc_hi=(g + 1) * per_group, rows=0, n_postings=0, sha="",
            source_snapshot="synthetic-id-space-placeholder", wall_ms=0,
        )
        append_batch(spark, spark.createDataFrame(pd.DataFrame({
            "doc_id": list(part),
            "text": [" ".join(docs[i]) for i in part],
        })), root, analyzer="simple", content_col="text",
            docs_per_segment=16, segments_per_group=2, batch_id=batch,
            with_positions=True)
    tbl = pads.dataset(os.path.join(root, "enriched"),
                       partitioning="hive").to_table(
        columns=["doc_id", "src_doc_id"])
    id_of = dict(zip(tbl["src_doc_id"].to_pylist(),
                     tbl["doc_id"].to_pylist()))
    return DirectSearcher(root, analyzer="simple"), [
        id_of.get(i, -1 - i) for i in range(len(docs))]


@pytest.fixture(scope="module")
def edges(spark, tmp_path_factory):
    rng = np.random.default_rng(2024)
    lens = rng.choice([0, 1, 1, 2, 3, 5, 8, 13], size=80)
    docs = [list(rng.choice(EDGE_VOCAB, size=int(n),
                            p=[0.35, 0.1, 0.3, 0.2, 0.05])) for n in lens]
    for d in docs[::3]:
        if d:
            d[0] = d[-1] = "ax"
    # a few long documents make ax dense enough that span_first probes
    # its bitmap for ends past the short documents' lengths
    for i in (10, 30, 50, 70):
        docs.insert(i, ["ax"] * 60 + ["bx"] + ["ax"] * 59)
    compact = _build(spark, str(tmp_path_factory.mktemp("edge_compact")),
                     docs, docs_per_segment=16, segments_per_group=2)
    far = _build_far(spark, str(tmp_path_factory.mktemp("edge_far")), docs)
    return {"compact": (compact, range(len(docs))), "far": far}, docs


def _slop_docs(docs, words, gap):
    """Docs holding ``words`` in order, each within ``gap`` tokens after
    the one before."""
    out = []
    for d, toks in enumerate(docs):
        cur = {i for i, t in enumerate(toks) if t == words[0]}
        for w in words[1:]:
            cur = {j for j, t in enumerate(toks)
                   if t == w and any(0 < j - i <= gap for i in cur)}
        if cur:
            out.append(d)
    return out


@pytest.mark.parametrize("layout", ["compact", "far"])
def test_windows_never_cross_documents(edges, layout):
    built, docs = edges
    s, ids = built[layout]

    def mapped(counts):
        return _ranked({ids[d]: n for d, n in counts.items()}, 10**6)

    space = s._slot_space()
    assert (space.ids is None) == (layout == "compact")
    for p in ["ax ax", "ax bx", "bx ax", "ax ax ax", "cx ax bx", "zx ax"]:
        assert s.phrase_search_positions(p, k=10**6) == \
            mapped(_phrase_counts(docs, p.split())), p
    for a, b in [("ax", "bx"), ("bx", "ax"), ("ax", "ax"), ("zx", "ax")]:
        for dist in EDGE_GAPS:
            for ordered in (True, False):
                assert s.near_search_positions(
                    a, b, dist, k=10**6, ordered=ordered
                ) == mapped(_near_counts(docs, a, b, dist, ordered)), \
                    (a, b, dist, ordered)
    for p in ["ax bx", "bx ax", "ax ax", "ax bx cx", "zx zx"]:
        for gap in EDGE_GAPS:
            got = s.phrase_chain_docs(p, max_gap=gap)
            assert got.tolist() == sorted(
                ids[d] for d in _slop_docs(docs, p.split(), gap)
            ), (p, gap)
    # bitmap probes (dense words, short ends) and slot counts (the rest)
    for word in ["ax", "cx", "zx"]:
        for end in (1, 2, 3, 30, 4095):
            assert s.span_first_search(word, end, k=10**6) == mapped(
                {d: toks[:end].count(word) for d, toks in enumerate(docs)}
            ), (word, end)
    # ax up to end 3 is probed in its bitmap; end 30 counts its slots
    ax = s._term_slots("ax", space)
    assert s._term_bitmap("ax", ax, space) is not None
    assert 3 * (len(space.start) - 1) < len(ax) < 30 * len(space.start)
    for head, pre in [([], "a"), ([], "b"), (["ax"], "a"), (["bx"], "a"),
                      (["ax", "ax"], "b"), (["cx", "zx"], "a")]:
        want = {
            d: sum(
                toks[i:i + len(head)] == head
                and toks[i + len(head)].startswith(pre)
                for i in range(len(toks) - len(head))
            )
            for d, toks in enumerate(docs)
        }
        assert s.phrase_prefix_search(" ".join(head + [pre]), k=10**6) \
            == mapped(want), (head, pre)
    for q, p in [("ax", "ax ax"), ("bx cx", "bx ax"), ("zx", "ax bx")]:
        n_of = {ids[d]: n for d, n in _phrase_counts(docs, p.split()).items()}
        want = sorted(
            ((d, sc + 2.0 * n_of[d], m, n_of[d])
             for d, sc, m in s.search(q, k=40)),
            key=lambda r: (-r[1], r[0]),
        )[:20]
        got = s.search_rescored(q, p, k=20, window=40, weight=2.0)
        assert [(d, m, n) for d, _s, m, n in got] == \
            [(d, m, n) for d, _s, m, n in want], (q, p)
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9
    # the corpus does put pairs across document boundaries
    stream = [t for d in docs for t in d]
    assert sum(_near_counts([stream], "ax", "ax", 3, False).values()) > \
        sum(_near_counts(docs, "ax", "ax", 3, False).values())
