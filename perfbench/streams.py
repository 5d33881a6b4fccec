"""Seeded op streams and their reference checks.

Every op is built from words that analyze to one known term, so each op
is cheap to check against the exhaustive reference. The op mix is fixed
per block of ten slots, the term counts cycle, and words, phrases and
prefixes are dealt from shuffled decks: words from the whole vocabulary,
phrases and prefixes from fixed pools of POOL entries. Only the order and
the pairing of words come from the seed, so the work in a stream of N ops
varies little between seeds; in particular the heaviest ops (phrases of
two common words), which set the tail latency, are the same ones in every
stream of whole decks.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.dataset as pads

from oracle import Oracle, check_phrase, check_ranked

K = 10
WARM_MIX = ["or"] * 6 + ["and", "ql", "phrase", "prefix"]
SEARCH_MIX = ["or"] * 8 + ["and"] * 2
LANGS = ["py", "go", "java", "rs", "js", "md"]
# phrases and prefixes per pool: one deck per 1,000 ops of WARM_MIX, so a
# run deals several whole decks and the seed-chosen part of the last one
# is a small share of the run
POOL = 100


def _middles(o: Oracle, size: int) -> np.ndarray:
    """Token positions at the middle of ``size`` evenly spaced documents.
    A token appended to a document (the update workload's fresh token)
    moves its middle by at most one and no other document's."""
    starts = np.searchsorted(o.seq_doc, np.arange(o.n_docs + 1))
    docs = np.arange(size) * o.n_docs // size
    return (starts[docs] + starts[docs + 1]) // 2


def phrase_pool(o: Oracle, size: int) -> "list[str]":
    """``size`` two-word phrases, each the first pair of adjacent tokens
    of one document, both with a word, at or after a document's middle:
    common phrases appear as often as they occur, but the pool does not
    depend on the seed."""
    out: list[str] = []
    n = len(o.seq) - 1
    for i in _middles(o, size):
        while True:
            a, b = o.terms[o.seq[i]], o.terms[o.seq[i + 1]]
            if (o.seq_doc[i] == o.seq_doc[i + 1] and a in o.word_of
                    and b in o.word_of):
                out.append(f"{o.word_of[a]} {o.word_of[b]}")
                break
            i = (i + 1) % n
    return out


def prefix_pool(o: Oracle, size: int) -> "list[str]":
    """Two-letter prefixes of the middle tokens of ``size`` evenly spaced
    documents: prefixes of common terms appear as often as they occur."""
    return [o.terms[o.seq[i]][:2] for i in _middles(o, size)]


class Stream:
    def __init__(self, oracle: Oracle, seed: int, mix: "list[str]"):
        self.rng = np.random.default_rng(seed)
        self.mix = mix
        self.terms = sorted(oracle.word_of)
        self.words = [oracle.word_of[t] for t in self.terms]
        self.oracle = oracle
        self._count = Counter()  # ops made so far, per kind
        self._pools = {"word": self.words,
                       "phrase": phrase_pool(oracle, POOL),
                       "prefix": prefix_pool(oracle, POOL)}
        self._decks: dict[str, list[str]] = {}

    def _deal(self, kind: str) -> str:
        """The next entry of a shuffled deck of the pool of ``kind``, so
        every seed uses each entry equally often; only the pairing and
        order change."""
        deck = self._decks.setdefault(kind, [])
        if not deck:
            pool = self._pools[kind]
            deck.extend(pool[i] for i in self.rng.permutation(len(pool)))
        return deck.pop()

    def _word(self) -> str:
        return self._deal("word")

    def _ql(self, form: int) -> str:
        w = self._word
        lang = LANGS[self.rng.integers(len(LANGS))]
        return [
            lambda: f"{w()} AND {w()}",
            lambda: f"{w()} AND {w()} OR {w()}",
            lambda: f"lang:{lang} AND {w()}",
            lambda: f"lang:{lang} AND {w()} OR {w()} AND {w()}",
        ][form]()

    def block(self) -> "list[tuple[str, str]]":
        kinds = list(self.mix)
        self.rng.shuffle(kinds)
        ops = []
        for kind in kinds:
            # term counts and query forms cycle per kind, so a stream's
            # composition does not depend on the seed
            i = self._count[kind]
            self._count[kind] += 1
            if kind == "or":
                n = 1 + i % 4
                ops.append((kind, " ".join(self._word() for _ in range(n))))
            elif kind == "and":
                n = 2 + i % 2
                ops.append((kind, " ".join(self._word() for _ in range(n))))
            elif kind == "ql":
                ops.append((kind, self._ql(i % 4)))
            else:
                ops.append((kind, self._deal(kind)))
        return ops

    def take(self, n: int) -> "list[tuple[str, str]]":
        ops: list[tuple[str, str]] = []
        while len(ops) < n:
            ops.extend(self.block())
        return ops[:n]


def run_op(searcher, kind: str, arg: str):
    from rse_spark.query.qlang import search_ql

    if kind == "or":
        return searcher.search(arg, k=K, mode="or")
    if kind == "and":
        return searcher.search(arg, k=K, mode="and")
    if kind == "ql":
        return search_ql(searcher, arg, k=K)
    if kind == "phrase":
        return searcher.phrase_search_positions(arg, k=K)
    expansion = searcher.expand_prefix(arg)
    return expansion, searcher.search_terms(expansion, k=K)


class IdMap:
    """The index's doc ids against reference rows, via (repo, path)."""

    def __init__(self, index_root: str, oracle: Oracle):
        tbl = pads.dataset(
            os.path.join(index_root, "enriched"), format="parquet",
            partitioning="hive",
        ).to_table(columns=["doc_id", "repo", "path"])
        row_of_key = {k: i for i, k in enumerate(oracle.keys)}
        self.row_of: dict[int, int] = {}
        self.id_of_row = np.full(oracle.n_docs, -1, dtype=np.int64)
        for d, r, p in zip(tbl["doc_id"].to_pylist(),
                           tbl["repo"].to_pylist(),
                           tbl["path"].to_pylist()):
            row = row_of_key[(r, p)]
            self.row_of[int(d)] = row
            self.id_of_row[row] = int(d)
        if len(self.row_of) != oracle.n_docs or (self.id_of_row < 0).any():
            raise ValueError(
                f"index holds {len(self.row_of)} docs, corpus "
                f"{oracle.n_docs}"
            )


def _ql_expected(o: Oracle, q: str, tokenize):
    """Qualifying mask and scoring terms of one generated ql query."""
    qual = np.zeros(o.n_docs, dtype=bool)
    terms: set[str] = set()
    for clause in q.split(" OR "):
        hit = np.ones(o.n_docs, dtype=bool)
        for atom in clause.split(" AND "):
            if atom.startswith("lang:"):
                hit &= o.langs == atom[5:]
            else:
                ts = tokenize(atom)
                terms.update(ts)
                for t in ts:
                    hit &= o.presence(t)
        qual |= hit
    return qual, {t: 1.0 for t in terms}


def check_op(o: Oracle, ids: IdMap, kind: str, arg: str, got,
             tokenize) -> str:
    """'' when ``got`` is the reference answer for the op."""
    if kind in ("or", "and"):
        qtf = {t: float(c) for t, c in Counter(tokenize(arg)).items()}
        score, matched = o.scores(qtf)
        need = len(qtf) if kind == "and" else 1
        return check_ranked(got, score, matched, matched >= need,
                            ids.row_of, K)
    if kind == "ql":
        qual, qtf = _ql_expected(o, arg, tokenize)
        score, matched = o.scores(qtf)
        return check_ranked(got, score, matched, qual & (matched > 0),
                            ids.row_of, K)
    if kind == "phrase":
        return check_phrase(got, o.phrase_counts(tokenize(arg)),
                            ids.id_of_row, K)
    expansion, hits = got
    want = sorted(t for t in o.terms if t.startswith(arg))[:64]
    if list(expansion) != want:
        return f"prefix {arg!r} expanded to {expansion[:5]}, want {want[:5]}"
    score, matched = o.scores({t: 1.0 for t in want})
    return check_ranked(hits, score, matched, matched > 0, ids.row_of, K)
