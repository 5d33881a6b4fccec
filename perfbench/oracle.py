"""Exhaustive BM25 reference and result checks, independent of the index.

The reference reads the corpus rows, analyzes them with the project's
tokenizer spec (one call per distinct whitespace word: the ``code``
analyzer never joins tokens across whitespace) and scores every document
with numpy. It shares no code with the index build, the codec, the
bucket layout or the serving caches, so a result that matches it was
computed correctly by the system under test.

Doc identity: the system's doc ids are mapped to corpus rows through the
index's own ``(repo, path) -> doc_id`` table, read once per check.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

K1, B = 1.2, 0.75


class Oracle:
    def __init__(self, corpus: pd.DataFrame, tokenize):
        self.corpus = corpus.reset_index(drop=True)
        n = len(self.corpus)
        lists = pc.utf8_split_whitespace(
            pa.array(self.corpus["content"], type=pa.string()))
        lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
        enc = pc.dictionary_encode(pc.list_flatten(lists))
        codes = enc.indices.to_numpy(zero_copy_only=False)
        uniq = enc.dictionary.to_pylist()
        term_id: dict[str, int] = {}
        w_terms: list[list[int]] = []
        for w in uniq:
            ts = tokenize(w)
            w_terms.append([term_id.setdefault(t, len(term_id)) for t in ts])
        w_len = np.array([len(t) for t in w_terms], dtype=np.int64)
        w_off = np.concatenate(([0], np.cumsum(w_len)))
        w_flat = np.array(
            [t for ts in w_terms for t in ts], dtype=np.int64
        )
        occ_doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        rep = w_len[codes]
        total = int(rep.sum())
        starts = np.repeat(w_off[codes], rep)
        within = np.arange(total) - np.repeat(np.cumsum(rep) - rep, rep)
        self.seq = w_flat[starts + within]  # analyzed token stream
        self.seq_doc = np.repeat(occ_doc, rep)
        self.terms = sorted(term_id, key=term_id.get)
        # one whitespace word per term that analyzes to exactly that
        # term: the building block of generated queries
        self.word_of: dict[str, str] = {}
        for w, ts in zip(uniq, w_terms):
            if len(ts) == 1:
                self.word_of.setdefault(self.terms[ts[0]], w)
        self.term_id = term_id
        self.n_docs = n
        self.dl = np.bincount(self.seq_doc, minlength=n).astype(np.float64)
        self.avgdl = float(self.dl.mean())
        n_terms = len(self.terms)
        # term-major (term, row) keys: counting them gives every
        # posting list, already sorted by term then row
        key = self.seq * n + self.seq_doc
        if n_terms * n <= 64 << 20:
            counts = np.bincount(key, minlength=n_terms * n)
            key = np.flatnonzero(counts)
            tf = counts[key]
        else:
            key, tf = np.unique(key, return_counts=True)
        p_term = key // n
        self._p_doc, self._p_tf = key % n, tf
        bounds = np.searchsorted(p_term, np.arange(n_terms + 1))
        self._p_lo, self._p_hi = bounds[:-1], bounds[1:]
        self.df = (self._p_hi - self._p_lo).astype(np.int64)
        self.langs = self.corpus["lang"].to_numpy()
        self.keys = list(zip(self.corpus["repo"], self.corpus["path"]))

    # -- primitives ------------------------------------------------------

    def postings(self, term: str):
        t = self.term_id.get(term)
        if t is None:
            return (np.empty(0, dtype=np.int64),) * 2
        lo, hi = self._p_lo[t], self._p_hi[t]
        return self._p_doc[lo:hi], self._p_tf[lo:hi]

    def idf(self, term: str) -> float:
        t = self.term_id.get(term)
        df = 0 if t is None else int(self.df[t])
        return math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)

    def scores(self, qtf: "dict[str, float]"):
        """Dense (score, n_matched) arrays over all corpus rows."""
        score = np.zeros(self.n_docs)
        matched = np.zeros(self.n_docs, dtype=np.int64)
        for term, w in qtf.items():
            docs, tf = self.postings(term)
            if not len(docs):
                continue
            tf = tf.astype(np.float64)
            norm = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl)
            )
            score[docs] += w * self.idf(term) * norm
            matched[docs] += 1
        return score, matched

    def presence(self, term: str) -> np.ndarray:
        mask = np.zeros(self.n_docs, dtype=bool)
        mask[self.postings(term)[0]] = True
        return mask

    def phrase_counts(self, terms: "list[str]") -> np.ndarray:
        """Per-row count of exact adjacent occurrences of ``terms``."""
        ids = [self.term_id.get(t) for t in terms]
        counts = np.zeros(self.n_docs, dtype=np.int64)
        if any(i is None for i in ids):
            return counts
        m = len(ids)
        starts = np.flatnonzero(self.seq[: len(self.seq) - m + 1] == ids[0])
        for j, t in enumerate(ids[1:], 1):
            keep = (self.seq[starts + j] == t) & (
                self.seq_doc[starts + j] == self.seq_doc[starts])
            starts = starts[keep]
        return np.bincount(self.seq_doc[starts], minlength=self.n_docs)


# -- comparisons -------------------------------------------------------------


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_ranked(got, score, matched, qualifies, row_of, k: int) -> str:
    """'' when ``got`` [(doc_id, score, n_matched)] is the exact BM25
    top-k: every hit scores as the reference says, hits are in (score
    desc, doc_id asc) order, and no qualifying doc outside the hits
    beats the last one. Ties within float rounding may permute."""
    n_qual = int(qualifies.sum())
    if len(got) != min(k, n_qual):
        return f"{len(got)} hits, expected {min(k, n_qual)}"
    rows = []
    for doc, s, m in got:
        r = row_of.get(int(doc))
        if r is None:
            return f"unknown doc id {doc}"
        if not qualifies[r]:
            return f"doc {doc} does not qualify"
        if not _close(s, score[r]) or int(m) != int(matched[r]):
            return f"doc {doc}: {s}/{m} vs {score[r]}/{matched[r]}"
        rows.append(r)
    for (_, s1, _), (_, s2, _) in zip(got, got[1:]):
        if s2 > s1 and not _close(s1, s2):
            return "hits out of score order"
    if got and n_qual > len(got):
        rest = qualifies.copy()
        rest[rows] = False
        best_rest = float(score[rest].max())
        last = float(got[-1][1])
        if best_rest > last and not _close(best_rest, last):
            return f"missed a doc scoring {best_rest} > {last}"
    return ""


def check_phrase(got, counts, id_of_row, k: int) -> str:
    """'' when ``got`` [(doc_id, n)] is the top-k by (n desc, doc_id asc)
    of the reference phrase counts."""
    nz = np.flatnonzero(counts)
    ids = id_of_row[nz]
    order = np.lexsort((ids, -counts[nz]))[:k]
    want = [(int(ids[i]), int(counts[nz][i])) for i in order]
    got = [(int(d), int(c)) for d, c in got]
    return "" if got == want else f"phrase hits {got[:3]} vs {want[:3]}"
