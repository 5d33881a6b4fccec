"""The serving tier's positional kernel: sorted-list intersection,
run-length counting and the one numpy top-k (query/kernel.py), checked
against brute-force references — first the helpers on seeded random
arrays, then every positional surface on a small seeded corpus whose
per-doc answers are recounted from the token lists."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rse_spark.index.positions import build_positions
from rse_spark.query.kernel import (
    _GALLOP_RATIO,
    _intersect_sorted,
    _run_lengths,
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
    n_alpha = len(s._term_position_keys("alpha"))
    assert n_alpha >= _GALLOP_RATIO * len(s._term_position_keys("rare"))
    # ties at the k-th count exist and resolve by doc id
    counts = sorted(
        _phrase_counts(docs, ["alpha", "rare"]).values(), reverse=True
    )
    assert counts[2] == counts[3] > 0


def test_phrase_prefix_matches_brute_force(small):
    s, docs = small
    for head, pre in [(["alpha"], "be"), (["gamma", "alpha"], "al"),
                      ([], "bet"), (["rare"], "a"), (["alpha"], "zz")]:
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


def test_near_matches_brute_force(small):
    s, docs = small
    for a, b, dist, ordered in [("alpha", "rare", 3, True),
                                ("rare", "alpha", 2, False),
                                ("alpha", "alpha", 2, False),
                                ("gamma", "beta", 5, True)]:
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
                         ("betamax rare", "rare alpha", 10)]:
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
