"""The numpy kernel every BM25 tier scores with.

The serving replica (query/serve.py), the Spark per-segment scorer
(query/wand.py) and the qlang clause algebra (query/qlang.py) share
these helpers: sorted-list membership and intersection, run lengths,
the tie-keeping top-k, and grouped top-k over per-posting score
contributions with its filters (min-match, search_after cursor,
candidate universe) and score shapes (dismax, field-value factor).
All doc-id arrays are int64.
"""

from __future__ import annotations

import numpy as np

# a list at least this many times shorter than the other is
# binary-searched into it; closer sizes merge (see _intersect_sorted)
_GALLOP_RATIO = 16

# postings the threshold sample of _grouped_topk reads: this many per
# requested hit plus a floor. With fewer than twice that many postings
# it ranks every matched slot instead.
_SAMPLE_PER_K = 32
_SAMPLE_MIN = 512


def _sorted_member(sorted_set, vals):
    """Boolean mask over ``vals``: which occur in the sorted array
    ``sorted_set`` — one searchsorted, O(len(vals) * log|set|)."""
    if not len(sorted_set):
        return np.zeros(len(vals), dtype=bool)
    pos = np.searchsorted(sorted_set, vals)
    pos[pos == len(sorted_set)] = 0
    return sorted_set[pos] == vals


def _intersect_sorted(a, b):
    """Values present in both of two STRICTLY increasing int64 arrays,
    in increasing order (sorted-list intersection as in HERO, SIGMOD
    2024). A much shorter side is binary-searched into the longer one,
    O(s log l); otherwise one stable sort of the concatenation merges
    the two runs in O(a + b) and a common value is a pair of equal
    neighbours — strictness on each side guarantees no other source
    of equal neighbours (every caller's inputs are sets: per-term doc
    lists, presence sets, or positional key lists, which
    ``DirectSearcher._term_position_keys`` checks)."""
    if len(a) > len(b):
        a, b = b, a
    if not len(a):
        return a
    if len(a) * _GALLOP_RATIO <= len(b):
        return a[_sorted_member(b, a)]
    c = np.concatenate((a, b))
    c.sort(kind="stable")
    return c[:-1][c[1:] == c[:-1]]


def _run_lengths(docs):
    """(values, counts) of a non-decreasing int64 array: np.unique's
    answer without its sort."""
    if not len(docs):
        return docs, np.empty(0, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, docs[1:] != docs[:-1]])
    return docs[starts], np.diff(np.r_[starts, len(docs)])


def _topk(vals, k: int):
    """Indices of the top ``k`` of ``vals`` in (value desc, index asc)
    order — callers keep their doc ids ascending, so the index
    tie-break IS the doc_id tie-break. Every value tied with the k-th
    survives the partition (threshold top-k as in Cache-Efficient
    Top-k Aggregation, VLDB 2023), so the stable sort over the
    survivors orders ties exactly."""
    n = len(vals)
    if k <= 0 or not n:
        return np.empty(0, dtype=np.int64)
    if n > k:
        kth = np.partition(vals, n - k)[n - k]
        cand = np.flatnonzero(vals >= kth)
    else:
        cand = np.arange(n)
    return cand[np.argsort(-vals[cand], kind="stable")[:k]]


def _grouped_topk(docs, scores, k: int, *, need: int = 1, within=None,
                  after: "tuple[float, int] | None" = None,
                  combine: str = "sum", tiebreak: float = 0.0,
                  dls=None) -> "list[tuple[int, float, int]]":
    """Top ``k`` docs by summed per-posting contributions:
    ``[(doc_id, score, n_matched)]`` in (score desc, doc_id asc) order.

    ``docs``/``scores`` hold one entry per matched posting, a doc at
    most once per list. Postings group into slots by a dense
    offset-bincount when the id range is compact (np.unique's argsort
    was ~1/3 of the cold-query profile at 500k docs), else by
    unique+inverse; both add in input order, so sums are
    bit-identical. ``combine='dismax'`` scores a slot as its best
    contribution plus ``tiebreak`` times the rest; ``dls`` (per-posting
    doc lengths, float) multiplies the score by ln(1 + dl) before the
    top-k (ES field_value_factor, modifier=ln1p).

    A slot qualifies when at least ``need`` postings landed in it, it
    sorts strictly after the ``after`` = (score, doc_id) cursor (ES
    search_after), and its doc is in ``within`` (sorted unique ids) if
    given. The slots are never compacted to the matched docs: the
    filters run only where they are needed. ``within`` is the candidate
    universe itself. Otherwise a strided sample of postings names real
    slots; any k qualifying values among them bound the true k-th
    value from below (threshold top-k, Cache-Efficient Top-k
    Aggregation, VLDB 2023), so one ``>=`` cut over the slot array
    keeps every winner and every tie, and the exact ``_topk`` runs on
    the qualifying survivors only."""
    if k <= 0 or not len(docs):
        return []
    lo = int(docs.min())
    width = int(docs.max()) - lo + 1
    if width <= max(4 * len(docs), 1 << 20):
        ids = None
        keys = docs - lo
        n = width
    else:
        ids, keys = np.unique(docs, return_inverse=True)
        n = len(ids)
    cnt = np.bincount(keys, minlength=n)
    vals = np.bincount(keys, weights=scores, minlength=n)
    if combine == "dismax":
        best = np.zeros(n)
        np.maximum.at(best, keys, scores)
        vals = best + tiebreak * (vals - best)
    if dls is not None:
        # every posting of a doc carries the same dl: one scatter
        dlu = np.zeros(n)
        dlu[keys] = dls
        vals = vals * np.log1p(dlu)

    def doc_of(slots):
        return slots + lo if ids is None else ids[slots]

    need = max(int(need), 1)
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])

    def qualifying(slots):
        ok = cnt[slots] >= need
        if after is not None:
            v = vals[slots]
            ok &= (v < s_a) | ((v == s_a) & (doc_of(slots) > d_a))
        return slots[ok]

    if within is not None:
        within = np.asarray(within, dtype=np.int64)
        if ids is None:
            a, b = np.searchsorted(within, (lo, lo + n))
            slots = within[a:b] - lo
        else:
            pos = np.searchsorted(ids, within)
            pos[pos == n] = 0
            slots = pos[ids[pos] == within]
        cand = qualifying(slots)
    else:
        cand = None
        m = _SAMPLE_PER_K * k + _SAMPLE_MIN
        if len(keys) > 2 * m:
            sample = qualifying(np.unique(keys[:: len(keys) // m]))
            if len(sample) >= k:
                sv = vals[sample]
                thr = np.partition(sv, len(sv) - k)[len(sv) - k]
                cand = qualifying(np.flatnonzero(vals >= thr))
        if cand is None:
            cand = qualifying(np.flatnonzero(cnt))
    top = cand[_topk(vals[cand], k)]
    return list(zip(
        doc_of(top).tolist(), vals[top].tolist(), cnt[top].tolist()
    ))
