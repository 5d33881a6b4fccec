"""Block-max WAND top-k and conjunctive posting intersection.

The exact path (engine.search) decodes every matched posting list in
full. At 10^12-doc scale, high-df query terms make that wasteful: WAND
(Broder et al., "Efficient query evaluation using a two-level retrieval
process", CIKM 2003) prunes documents whose score UPPER BOUND cannot
beat the current k-th best. Our index stores per-block (max_tf, min_dl)
— avgdl-independent metadata (index/codec.py) — so:

* block upper bound  = qtf * idf * impact(max_tf, min_dl, avgdl),
                       computed QUERY-side with the live corpus avgdl
                       (stream-appended segments can never under-bound);
* term upper bound   = max over the list's block bounds;
* block skipping     = advance() steps over whole blocks using the
                       block_last skip pointers WITHOUT decoding them;
                       only blocks actually landed in are decoded;
* block-max (BMW)    = after pivot selection, the pivot is re-checked
                       against the SUM OF BLOCK bounds of the lists that
                       can contain it (Ding & Suel, "Faster top-k
                       document retrieval using block-max indexes",
                       SIGIR 2011); if even that local bound cannot beat
                       the heap floor, the cursors jump past the
                       shallowest block boundary without decoding.

Parallelism model: segments are document partitions, so per-segment
top-k lists are a safe superset of the global top-k (every doc lives in
exactly one segment). The WAND loop runs inside applyInPandas per
segment — Python, but over compressed bytes with numpy block decodes,
and embarrassingly parallel across segments. A cluster run distributes
segments across executors; the driver merges k rows per segment.

AND mode is classic posting-list intersection with galloping advance
over the same block structure (north_star: "posting-list intersection
with block-max WAND pruning").
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rse_spark.index.codec import (
    B,
    K1,
    bm25_impact,
    block_bounds,
    decode_block,
    decode_postings,
)
from rse_spark.query.engine import idf as idf_fn
from rse_spark.query.engine import query_terms
from rse_spark.query.kernel import _grouped_topk


class _ListIter:
    """Cursor over one compressed posting list with block skipping.

    Two positioning states (the BMW lazy-decode design, Ding & Suel
    SIGIR 2011): DECODED (docs/tfs/dls hold the current block, pos is
    exact) and SHALLOW (docs is None — only the block index has moved;
    ``pending`` remembers the seek target). A shallow cursor exposes a
    LOWER BOUND on its next doc id (cur_key); the block is decoded only
    when its upper bound actually beats the heap floor — otherwise the
    skip pointers step over it for free. The round-2 implementation
    decoded every landing block, which made "skipping" decode each
    block exactly once (0% savings, caught by the bench telemetry)."""

    __slots__ = (
        "payload", "offs", "last", "block_ubs", "ub", "qtf_idf", "avgdl",
        "bi", "pos", "docs", "tfs", "dls", "done", "blocks_decoded",
        "pending",
    )

    def __init__(self, payload, offs, last, max_tfs, min_dls, qtf_idf,
                 avgdl):
        self.payload = payload
        self.offs = list(offs)
        self.last = list(last)
        self.qtf_idf = qtf_idf
        self.avgdl = float(avgdl)
        if len(self.offs):
            self.block_ubs = qtf_idf * block_bounds(max_tfs, min_dls, avgdl)
            self.ub = float(self.block_ubs.max())
        else:
            self.block_ubs = np.empty(0, dtype=np.float64)
            self.ub = 0.0
        self.bi = -1
        self.pos = 0
        self.docs = self.tfs = self.dls = None
        self.done = not self.offs
        self.blocks_decoded = 0
        self.pending = 0
        if not self.done:
            self._enter_block(0)

    def _enter_block(self, bi: int) -> None:
        self.bi = bi
        base = self.last[bi - 1] if bi > 0 else 0
        nxt = self.offs[bi + 1] if bi + 1 < len(self.offs) else None
        self.docs, self.tfs, self.dls = decode_block(
            self.payload, self.offs[bi], nxt, base
        )
        self.pos = 0
        self.blocks_decoded += 1

    @property
    def cur_doc(self) -> int:
        return int(self.docs[self.pos])

    def cur_key(self) -> int:
        """Exact current doc when decoded; else a valid lower bound on
        the next doc (sorting/pivoting on a lower bound keeps WAND
        conservative — it can never skip a scorable doc)."""
        if self.docs is not None:
            return int(self.docs[self.pos])
        lb = self.last[self.bi - 1] + 1 if self.bi > 0 else 0
        return max(self.pending, lb)

    def seek_shallow(self, target: int) -> None:
        """Move to the block holding the first posting >= target
        WITHOUT decoding it (decode is deferred until the block's
        bound survives the heap-floor check)."""
        if self.done:
            return
        if self.docs is not None:
            if self.last[self.bi] >= target:
                self.pos += int(
                    np.searchsorted(self.docs[self.pos:], target, "left")
                )
                return
        bi = self.bi
        if self.last[bi] < target:
            bi += int(np.searchsorted(
                np.asarray(self.last[bi:], dtype=np.int64), target, "left"
            ))
            if bi >= len(self.last):
                self.done = True
                return
        self.bi = bi
        self.docs = self.tfs = self.dls = None
        self.pending = max(self.pending, target)

    def ensure_decoded(self) -> None:
        """Decode the shallow-positioned block and land exactly on the
        first posting >= the pending seek target."""
        if self.done or self.docs is not None:
            return
        bi = self.bi
        base = self.last[bi - 1] if bi > 0 else 0
        nxt = self.offs[bi + 1] if bi + 1 < len(self.offs) else None
        self.docs, self.tfs, self.dls = decode_block(
            self.payload, self.offs[bi], nxt, base
        )
        self.blocks_decoded += 1
        self.pos = int(np.searchsorted(self.docs, self.pending, "left"))

    def advance(self, target: int) -> None:
        """Move to the first posting with doc_id >= target (eager:
        decodes the landing block — the AND-intersection path)."""
        if self.done:
            return
        if self.docs is None:
            self.seek_shallow(target)
            self.ensure_decoded()
            return
        if self.last[self.bi] < target:
            # skip whole blocks via skip pointers — no decode
            bi = self.bi + 1
            while bi < len(self.last) and self.last[bi] < target:
                bi += 1
            if bi >= len(self.last):
                self.done = True
                return
            self._enter_block(bi)
        self.pos += int(np.searchsorted(self.docs[self.pos:], target, "left"))

    def next(self) -> None:
        """Step past the current posting; at a block boundary the next
        block is entered SHALLOW so its bound is checked before any
        decode."""
        self.pos += 1
        if self.pos >= len(self.docs):
            if self.bi + 1 < len(self.offs):
                self.pending = self.last[self.bi] + 1
                self.bi += 1
                self.docs = self.tfs = self.dls = None
            else:
                self.done = True

    def shallow_info(self, target: int) -> tuple[float, int] | None:
        """(block upper bound, block_last) of the block that would hold
        the first posting >= ``target`` — WITHOUT decoding anything.
        None when the list has no posting >= target."""
        if self.done:
            return None
        bi = self.bi
        if self.last[bi] < target:
            bi += int(np.searchsorted(
                np.asarray(self.last[bi:], dtype=np.int64), target, "left"
            ))
            if bi >= len(self.last):
                return None
        return float(self.block_ubs[bi]), self.last[bi]

    def contrib(self, avgdl: float) -> float:
        tf = float(self.tfs[self.pos])
        dl = float(self.dls[self.pos])
        return (
            self.qtf_idf
            * tf
            * (K1 + 1.0)
            / (tf + K1 * (1.0 - B + B * dl / avgdl))
        )


def wand_topk_lists(
    lists: list[_ListIter], k: int, avgdl: float
) -> list[tuple[int, float, int]]:
    """WAND over one segment's iterators -> [(doc_id, score, n_matched)]."""
    heap: list[tuple[float, int, int]] = []  # (score, -doc_id, n_matched)
    theta = -np.inf
    live = [it for it in lists if not it.done]
    while live:
        live.sort(key=lambda it: it.cur_key())
        # pivot: first prefix whose UB sum can beat theta
        # >= not >: a doc whose true score TIES the k-th best can still
        # win on the doc_id tie-break, so it must not be pruned
        acc, pivot = 0.0, -1
        for i, it in enumerate(live):
            acc += it.ub
            if acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = live[pivot].cur_key()
        # ---- block-max (BMW) refinement: re-check the pivot against the
        # SUM of per-block bounds of every list positioned at or before
        # pivot_doc. Only those lists can contain a doc <= the next
        # list's cursor, so this is a valid local upper bound. Strictly
        # < theta (never <=): a tying score can still win on doc_id.
        ext = pivot
        while ext + 1 < len(live) and live[ext + 1].cur_key() <= pivot_doc:
            ext += 1
        bub, boundary = 0.0, None
        for it in live[: ext + 1]:
            s = it.shallow_info(pivot_doc)
            if s is None:
                continue
            bub += s[0]
            boundary = s[1] if boundary is None else min(boundary, s[1])
        if bub < theta:
            # nothing in [pivot_doc, d) can enter the heap: jump the
            # prefix cursors past the shallowest block boundary (or to
            # the next list's cursor) SHALLOW — no decode; the landing
            # block's own bound gets checked on the next pass.
            d = boundary + 1  # boundary is never None: pivot's own block qualifies
            if ext + 1 < len(live):
                d = min(d, live[ext + 1].cur_key())
            for it in live[: ext + 1]:
                it.seek_shallow(d)
            live = [it for it in live if not it.done]
            continue
        # the local bound beats the floor: NOW pay the decode for any
        # shallow prefix cursor, then re-derive (exact positions can
        # move past pivot_doc and change the sort)
        undecoded = [it for it in live[: ext + 1] if it.docs is None]
        if undecoded:
            for it in undecoded:
                it.ensure_decoded()
            continue
        if live[0].cur_doc == pivot_doc:
            # only live[:ext+1] can sit on pivot_doc (beyond ext the
            # lower bound already exceeds it), and all are decoded here
            score, matched = 0.0, 0
            for it in live[: ext + 1]:
                if it.done or it.cur_doc != pivot_doc:
                    continue
                score += it.contrib(avgdl)
                matched += 1
            item = (score, -pivot_doc, matched)
            if len(heap) < k:
                heapq.heappush(heap, item)
                if len(heap) == k:
                    theta = heap[0][0]
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
                theta = heap[0][0]
            for it in live[: ext + 1]:
                if not it.done and it.cur_doc == pivot_doc:
                    it.next()
        else:
            for it in live[:pivot]:
                it.advance(pivot_doc)
        live = [it for it in live if not it.done]
    return [(-nd, s, m) for (s, nd, m) in heap]


def intersect_and_lists(
    lists: list[_ListIter], k: int, avgdl: float
) -> list[tuple[int, float, int]]:
    """Conjunctive intersection via galloping advance; exact scores."""
    if not lists or any(it.done for it in lists):
        return []
    heap: list[tuple[float, int, int]] = []
    n = len(lists)
    target = max(it.cur_doc for it in lists)
    while True:
        aligned = True
        for it in lists:
            it.advance(target)
            if it.done:
                return [(-nd, s, m) for (s, nd, m) in heap]
            if it.cur_doc > target:
                target = it.cur_doc
                aligned = False
        if not aligned:
            continue
        score = sum(it.contrib(avgdl) for it in lists)
        item = (score, -target, n)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
        target += 1


def score_segment_vectorized(
    lists: "list[tuple[bytes, float]]", k: int, avgdl: float,
    n_terms: int, mode: str,
) -> list[tuple[int, float, int]]:
    """Exact per-segment top-k by full vectorized decode + bincount —
    no per-posting Python loop. ``lists`` = [(payload, weight)].

    Rank-identical to the WAND loop (equivalence-tested); used as the
    default segment scorer because the interpreted per-doc WAND walk
    costs ~3us per visited posting while the numpy pipeline costs
    ~10ns — pruning would have to skip >99% of postings to win, which
    block-max metadata only delivers on impact-skewed lists (the
    Lucene analogue: BooleanScorer vs WANDScorer chosen per cost
    model). The BMW loop stays available (algo='wand') and remains
    the serving-tier scale story. Grouping, the and-mode filter and
    the top-k are the serving replica's own kernel
    (``kernel._grouped_topk``), so both tiers rank with one
    implementation."""
    docs_c, score_c = [], []
    for payload, w in lists:
        doc_ids, tfs, dls = decode_postings(payload)
        if not len(doc_ids):
            continue
        docs_c.append(doc_ids)
        score_c.append(w * bm25_impact(tfs, dls, avgdl))
    if not docs_c:
        return []
    return _grouped_topk(
        np.concatenate(docs_c), np.concatenate(score_c), k,
        need=n_terms if mode == "and" else 1,
    )


def wand_search(
    spark: SparkSession,
    postings: DataFrame,
    qtext: str,
    *,
    n_docs: int,
    avgdl: float,
    term_stats: DataFrame | None = None,
    term_info: dict[str, tuple[int, int]] | None = None,
    k: int = 10,
    mode: str = "or",
    analyzer: str = "code",
    algo: str = "numpy",
) -> DataFrame:
    """Block-max-pruned top-k: per-segment scoring, driver-side k-merge.

    Result is rank-identical to engine.search (equivalence-tested).
    ``algo='numpy'`` (default) scores each segment with the vectorized
    exact kernel (:func:`score_segment_vectorized`); ``algo='wand'``
    runs the per-posting BMW loop with block skipping."""
    from rse_spark.query.engine import _match_postings, lookup_term_info

    qtf = query_terms(qtext, analyzer)
    if not qtf:
        return spark.createDataFrame(
            [], "doc_id long, score double, n_terms_matched int"
        )
    terms = sorted(qtf)
    if term_info is None and term_stats is not None:
        term_info = lookup_term_info(terms, term_stats)
    matched = _match_postings(postings, terms, term_info)
    if term_info is not None:
        dfs = {t: df for t, (df, _) in term_info.items()}
    else:
        rows = matched.groupBy("term").agg(F.sum("df_seg").alias("df")).collect()
        dfs = {r["term"]: int(r["df"]) for r in rows}
    weights = {
        t: float(qtf[t]) * idf_fn(dfs.get(t, 0), n_docs) for t in terms
    }
    if mode == "and" and any(dfs.get(t, 0) == 0 for t in terms):
        return spark.createDataFrame(
            [], "doc_id long, score double, n_terms_matched int"
        )
    n_terms = len(terms)

    def _per_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        if algo == "numpy":
            if mode == "and" and len(pdf) < n_terms:
                rows = []
            else:
                rows = score_segment_vectorized(
                    [
                        (bytes(r.payload), weights[r.term])
                        for r in pdf.itertuples()
                    ],
                    k, avgdl, n_terms, mode,
                )
        else:
            iters = [
                _ListIter(
                    bytes(r.payload),
                    r.block_offsets,
                    r.block_last,
                    r.block_max_tf,
                    r.block_min_dl,
                    weights[r.term],
                    avgdl,
                )
                for r in pdf.itertuples()
            ]
            if mode == "and":
                if len(iters) < n_terms:
                    rows = []
                else:
                    rows = intersect_and_lists(iters, k, avgdl)
            else:
                rows = wand_topk_lists(iters, k, avgdl)
        return pd.DataFrame(
            rows, columns=["doc_id", "score", "n_terms_matched"]
        ).astype({"doc_id": "int64", "score": "float64", "n_terms_matched": "int32"})

    cols = (
        ["segment_id", "term", "payload"]
        if algo == "numpy"
        else [
            "segment_id", "term", "payload", "block_offsets",
            "block_last", "block_max_tf", "block_min_dl",
        ]
    )  # numpy mode needs no block metadata: don't shuffle it (§2.3)
    per_seg = matched.select(*cols).groupBy("segment_id").applyInPandas(
        _per_segment, schema="doc_id long, score double, n_terms_matched int"
    )
    return per_seg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
