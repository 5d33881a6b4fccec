"""The numpy kernel every BM25 tier scores with.

The serving replica (query/serve.py), the Spark per-segment scorer
(query/wand.py) and the qlang clause algebra (query/qlang.py) share
these helpers: sorted-list membership and intersection, run lengths,
the tie-keeping top-k, grouped top-k over per-posting score
contributions with its filters (min-match, search_after cursor,
candidate universe) and score shapes (dismax, field-value factor), and
the exact-phrase chain, and one index generation's per-document
lengths (``_DocLens``). Doc-id arrays are int64, except that a decoded
term list stores its ids as int32 when they fit; offsets derived from
either are built as ``intp`` in one step.

Every positional surface reads a term's occurrences as one sorted
array of token slots (``_SlotSpace``, int32 while the space fits):
document rank ``r``'s position ``p`` is slot ``start[r] + p``, and one
spacer slot after each document keeps "the next slot" inside it; wider
windows (NEAR, slop, span-first) are clamped to their document's slots
(``_SlotSpace.runs``). A phrase chain holds the occurrences of its
current last word as slots or, for a dense term, as a packed
``uint64`` bitmap over the slots, picked per term by density as
Roaring and HERO (SIGMOD 2024) do. One chain step (``_chain_step``) is
a shifted word AND (bitmap x bitmap), one gather of slots +-1 (list x
bitmap), or a merge of two sorted lists; a chain that ends as a bitmap
is counted per document by popcount prefix sums at the document starts
(``_range_counts``).
"""

from __future__ import annotations

import sys

import numpy as np

# a list at least this many times shorter than the other is
# binary-searched into it; closer sizes merge (see _intersect_sorted)
_GALLOP_RATIO = 16

# postings the threshold sample of _grouped_topk reads: this many per
# requested hit plus a floor. With fewer than twice that many postings
# it ranks every matched slot instead.
_SAMPLE_PER_K = 32
_SAMPLE_MIN = 512


# bitmap words: SWAR popcount masks (numpy 1.26 has no bitwise_count)
_ONE = np.uint64(1)
_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)

# byte of a uint64 word that holds its bits 0-7: _bits_test reads one
# byte per slot
_LOW_BYTE = 0 if sys.byteorder == "little" else 7

# slots turned into bitmap bits per pass of _set_bits, so building a
# bitmap allocates far less than the term's slot list
_BITMAP_CHUNK = 1 << 16


def _is_compact(width: int, n: int) -> bool:
    """Whether ``n`` ids spanning ``width`` consecutive values are dense
    enough to index arrays by id offset rather than by rank."""
    return width <= max(4 * n, 1 << 20)


def _sorted_member(sorted_set, vals):
    """Boolean mask over ``vals``: which occur in the sorted array
    ``sorted_set`` — one searchsorted, O(len(vals) * log|set|)."""
    if not len(sorted_set):
        return np.zeros(len(vals), dtype=bool)
    pos = np.searchsorted(sorted_set, vals)
    pos[pos == len(sorted_set)] = 0
    return sorted_set[pos] == vals


def _mark_members(hit, vals, sorted_set) -> None:
    """Set ``hit[i]`` where ``vals[i]`` occurs in ``sorted_set``, for
    strictly increasing ``vals``: the shorter side is binary-searched
    into the longer one."""
    if len(sorted_set) >= len(vals):
        hit |= _sorted_member(sorted_set, vals)
        return
    pos = np.searchsorted(vals, sorted_set)
    pos[pos == len(vals)] = 0
    hit[pos[vals[pos] == sorted_set]] = True


def _intersect_sorted(a, b):
    """Values present in both of two STRICTLY increasing integer arrays,
    in increasing order (sorted-list intersection as in HERO, SIGMOD
    2024). A much shorter side is binary-searched into the longer one,
    O(s log l); otherwise one stable sort of the concatenation merges
    the two runs in O(a + b) and a common value is a pair of equal
    neighbours — strictness on each side guarantees no other source
    of equal neighbours (every caller's inputs are sets: per-term doc
    lists, presence sets, or token slot lists, which
    ``DirectSearcher._term_slots`` checks)."""
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
    """(values, counts) of a non-decreasing integer array: np.unique's
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
                  lens: "_DocLens | None" = None
                  ) -> "list[tuple[int, float, int]]":
    """Top ``k`` docs by summed per-posting contributions:
    ``[(doc_id, score, n_matched)]`` in (score desc, doc_id asc) order.

    ``docs``/``scores`` hold one entry per matched posting, a doc at
    most once per list. Postings group into slots by a dense
    offset-bincount when the id range is compact (np.unique's argsort
    was ~1/3 of the cold-query profile at 500k docs), else by
    unique+inverse; both add in input order, so sums are
    bit-identical. ``combine='dismax'`` scores a slot as its best
    contribution plus ``tiebreak`` times the rest; ``lens`` (the
    generation's ``_DocLens``) multiplies each matched doc's score by
    ln(1 + doc_len) before the top-k (ES field_value_factor,
    modifier=ln1p).

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
    if _is_compact(width, len(docs)):
        ids = None
        # int32 doc ids would give int32 offsets, which bincount casts
        # to intp on every call
        keys = np.subtract(docs, lo, dtype=np.intp)
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

    def doc_of(slots):
        return slots + lo if ids is None else ids[slots]

    if lens is not None:
        # an unmatched slot scores 0 either way: gather matched docs only
        hit = np.flatnonzero(cnt)
        vals[hit] *= np.log1p(lens.of(doc_of(hit)))

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


def _popcount64(words):
    """Set bits per word of a ``uint64`` array (SWAR bit count), as
    int64; in place on two temporaries."""
    x = words >> _ONE
    x &= _M1
    np.subtract(words, x, out=x)  # 2-bit counts
    y = x >> np.uint64(2)
    y &= _M2
    x &= _M2
    x += y  # 4-bit counts
    np.right_shift(x, np.uint64(4), out=y)
    x += y
    x &= _M4  # byte counts
    x *= _H01  # their sum lands in the top byte
    x >>= np.uint64(56)
    return x.view(np.int64)


def _bits_test(bits, slots):
    """Boolean mask over integer ``slots``: which are set in ``bits``,
    read one byte per slot (a quarter of the word gather's cost)."""
    idx = slots >> 3
    if _LOW_BYTE:
        idx ^= _LOW_BYTE
    b = bits.view(np.uint8)[idx]
    b >>= (slots & 7).astype(np.uint8)
    b &= 1
    return b.view(bool)


def _shift_and(cur, nxt):
    """Bitmap of the slots s + 1 for s set in ``cur`` that are also set
    in ``nxt``: bit 63 of a word carries into bit 0 of the next."""
    out = cur << _ONE
    out[1:] |= cur[:-1] >> np.uint64(63)
    out &= nxt
    return out


def _range_counts(bits, bounds):
    """Set bits of ``bits`` in each slot range [bounds[i], bounds[i+1])
    for non-decreasing integer ``bounds`` < 64 * len(bits): differences
    of popcount prefix sums, read at whole words plus one masked
    partial word per bound."""
    cum = np.zeros(len(bits), dtype=np.int64)
    np.cumsum(_popcount64(bits[:-1]), out=cum[1:])
    w = bounds >> 6
    low = (_ONE << (bounds & 63).astype(np.uint64)) - _ONE
    return np.diff(cum[w] + _popcount64(bits[w] & low))


class _DocLens:
    """The per-document lengths of one index generation, gathered by doc
    id (``of``): an array indexed by ``id - lo`` when the id range is
    compact (``_is_compact``), else the sorted ids, searched per gather.
    An id with no row reads as -1."""

    def __init__(self, doc_ids, doc_lens):
        ids = np.asarray(doc_ids, dtype=np.int64)
        lens = np.asarray(doc_lens, dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids, lens = ids[order], lens[order]
        self.lo = int(ids[0]) if len(ids) else 0
        width = int(ids[-1]) - self.lo + 1 if len(ids) else 0
        if _is_compact(width, len(ids)):
            # one entry past the range reads -1 for any id outside it
            self.ids = None
            self.lens = np.full(width + 1, -1, dtype=np.int64)
            self.lens[ids - self.lo] = lens
        else:
            self.ids, self.lens = ids, lens
        self.nbytes = self.lens.nbytes + (
            0 if self.ids is None else self.ids.nbytes)

    def of(self, docs):
        """int64 lengths of the doc-id array ``docs``."""
        if self.ids is None:
            off = np.subtract(docs, self.lo, dtype=np.intp)
            n = len(self.lens) - 1
            if len(off) and (off.min() < 0 or off.max() >= n):
                off[(off < 0) | (off > n)] = n
            return self.lens[off]
        pos = np.searchsorted(self.ids, docs)
        pos[pos == len(self.ids)] = 0
        out = self.lens[pos]
        out[self.ids[pos] != docs] = -1
        return out


class _SlotSpace:
    """Dense token slots of one index generation, built from its
    ``_DocLens``. Documents are ranked by id (``id - lo`` for a compact
    range, where an id without a row is a document of length 0, else
    the rank in ``_DocLens.ids``); rank ``r``'s position ``p`` is slot
    ``start[r] + p``, and slot 0 and one slot after each document are
    spacers. Slots and ``start`` are ``dtype``: int32 while the space
    plus ``slack`` (the widest window) stays below 2^31, else int64."""

    def __init__(self, lens: _DocLens, slack: int = 0):
        self.lo, self.ids = lens.lo, lens.ids
        dl = np.maximum(lens.lens if lens.ids is not None
                        else lens.lens[:-1], 0)
        start = np.empty(len(dl) + 1, dtype=np.int64)
        start[0] = 1
        np.cumsum(dl + 1, out=start[1:])
        start[1:] += 1
        self.n_words = int(start[-1]) // 64 + 1
        self.dtype = np.dtype(
            np.int32 if int(start[-1]) + slack < 1 << 31 else np.int64)
        self.start = start.astype(self.dtype)
        self.nbytes = self.start.nbytes

    def doc_ids(self, ranks):
        """int64 doc ids of document ranks."""
        if self.ids is None:
            return np.add(ranks, self.lo, dtype=np.int64)
        return self.ids[ranks]

    def rank(self, slots):
        """The document rank of each slot (-1 before the first
        document's start)."""
        return np.searchsorted(self.start, slots, side="right") - 1

    def counts(self, slots, end=None):
        """Occurrences of a sorted slot array per document rank, only at
        positions below ``end`` if given: the shorter of the slots and
        the document starts is searched into the longer."""
        if len(slots) > len(self.start):
            if end is None:
                return np.diff(np.searchsorted(slots, self.start))
            first, span = self.start[:-1], np.diff(self.start)
            # capped at the longest document, so no sum overflows
            stop = first + np.minimum(span, min(end, int(span.max())))
            return np.searchsorted(slots, stop) - np.searchsorted(slots, first)
        ranks = self.rank(slots)
        if end is not None:
            ranks = ranks[slots - self.start[ranks] < end]
        return np.bincount(ranks, minlength=len(self.start) - 1)

    def runs(self, slots):
        """(ranks, counts) of the documents a sorted slot array falls
        in, ascending by rank, searched as in ``counts``."""
        if len(slots) <= len(self.start):
            return _run_lengths(self.rank(slots))
        counts = self.counts(slots)
        ranks = np.flatnonzero(counts)
        return ranks, counts[ranks]

    def put(self, out, at: int, doc_ids, lens, flat, term: str) -> int:
        """Write one decoded position row's slots (ascending doc ids,
        positions per doc, the positions) into ``out[at:]``; return
        their end. Raises ValueError naming ``term`` unless every doc is
        in the table and every position is below its doc's length."""
        ranks = (
            np.subtract(doc_ids, self.lo, dtype=np.intp) if self.ids is None
            else np.searchsorted(self.ids, doc_ids)
        ).clip(0, len(self.start) - 2)
        if not (self.doc_ids(ranks) == doc_ids).all():
            raise ValueError(
                f"positional sidecar holds {term!r} in a doc outside "
                f"the index's doc ids — rebuild it with build_positions"
            )
        base = self.start[ranks]
        dl = np.repeat(self.start[ranks + 1] - base - 1, lens)
        if ((flat < 0) | (flat >= dl)).any():
            raise ValueError(
                f"positional sidecar holds {term!r} at a position past "
                f"its doc's doc_len — rebuild it with build_positions"
            )
        end = at + len(flat)
        np.add(np.repeat(base, lens), flat, out=out[at:end],
               casting="unsafe")
        return end

    def dense(self, n: int) -> bool:
        """Whether a term of ``n`` occurrences gets a bitmap: one per 64
        slots, so the bitmap is at most twice its int32 slots."""
        return n >= self.n_words

    def bitmap(self, slots):
        """Packed bitmap of strictly increasing slots."""
        return _set_bits(np.zeros(self.n_words, dtype=np.uint64), slots)


def _set_bits(bits, slots):
    """Set strictly increasing ``slots`` in the bitmap ``bits``,
    ``_BITMAP_CHUNK`` slots at a time, and return it."""
    for c in range(0, len(slots), _BITMAP_CHUNK):
        s = slots[c: c + _BITMAP_CHUNK]
        w = s >> 6
        runs = np.flatnonzero(np.r_[True, w[1:] != w[:-1]])
        ones = _ONE << (s & 63).astype(np.uint64)
        bits[w[runs]] |= np.bitwise_or.reduceat(ones, runs)
    return bits


def _chain_start(lists, bitmaps=()):
    """A chain's first word (``_chain_step``'s ``lists, bitmaps``) as
    the chain: its bitmap if it has one, else its slots."""
    return bitmaps[0] if bitmaps else lists[0]


def _chain_step(cur, lists, bitmaps=()):
    """One exact-phrase step: the occurrences of the next word that
    directly follow an occurrence in ``cur``. The next word occurs at
    the slots of any of ``lists`` (sorted slot arrays) and at the slots
    set in any of ``bitmaps``: a word is one sparse term's slots or one
    dense term's bitmap, and a phrase prefix's last word is all of its
    expansions. ``cur`` is sorted slots or a ``uint64`` bitmap, and so
    is the result; a slot array keeps the slots' dtype."""
    if cur.dtype != np.uint64:
        # a last token's successor is its doc's spacer slot, never set
        nxt = cur + 1
        if len(lists) == 1 and not bitmaps:
            return _intersect_sorted(nxt, lists[0])
        hit = np.zeros(len(nxt), dtype=bool)
        for slots in lists:
            _mark_members(hit, nxt, slots)
        for bits in bitmaps:
            hit |= _bits_test(bits, nxt)
        return nxt[hit]
    # slot 0 is a spacer, so a doc's first slot minus one is >= 0
    after = [slots[_bits_test(cur, slots - 1)] for slots in lists]
    if not bitmaps:
        # distinct terms' hits are distinct slots: only hits are sorted
        return after[0] if len(after) == 1 else np.sort(np.concatenate(after))
    out = _shift_and(cur, bitmaps[0])
    for bits in bitmaps[1:]:
        out |= _shift_and(cur, bits)
    for slots in after:
        _set_bits(out, slots)
    return out


def _chain_counts(space, cur):
    """(doc_ids, counts) of a chain's occurrences, ascending by doc id,
    from sorted slots or from a bitmap over ``space``'s slots."""
    if cur.dtype != np.uint64:
        ranks, counts = space.runs(cur)
    else:
        counts = _range_counts(cur, space.start)
        ranks = np.flatnonzero(counts)
        counts = counts[ranks]
    return space.doc_ids(ranks), counts
