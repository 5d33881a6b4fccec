"""Mini query language over the serving tier: OR of AND-clauses with
phrases and prefixes.

GSE's API accepted a bag of words and OR'd them (reference
crawler/src/api/main.go:121-159). A usable engine needs the next tier
— without inventing a full boolean algebra, this is the flat grammar
Lucene's SimpleQueryParser popularized, nesting-free by design:

    error AND handler OR panic        ->  (error ∧ handler) ∨ panic
    "merge sort" AND stable           ->  adjacency ∧ term
    "merge sort"~2 AND stable         ->  in-order slop<=2 ∧ term
    "merge jo*" AND fast              ->  phrase-prefix ∧ term
    pars* AND config                  ->  (any pars… term) ∧ config
    /ha.h(es)?/ AND table             ->  (any regex-matched term) ∧ term
    tabel~1 AND join                  ->  (any term ≤1 edit away) ∧ term
    error AND -deprecated             ->  error ∧ ¬deprecated
    lang:python AND "binary search"   ->  metadata filter ∧ phrase
    path:src/* AND config            ->  metadata prefix ∧ term
    config AND dlen:100..200          ->  term ∧ numeric length band
    title^2 OR body                   ->  boosted term ∨ term
    spark join                        ->  spark ∨ join   (GSE default)

Boost atoms (``atom^N``, Lucene query-syntax boosts): any positive
scoring atom may carry a trailing ``^N`` (N a positive number, e.g.
``merge^2`` ``pars*^1.5`` ``"merge sort"~2^3`` ``tabel~1^2``); the
atom's analyzed/expanded terms contribute to BM25 with their weight
multiplied by N. Qualification (the presence algebra) is unchanged —
boosts only re-rank. A term mentioned by several atoms takes the
maximum boost (atoms dedup to one scoring occurrence, so max keeps
the strongest intent). Boosts on negative atoms or metadata filters
are parse errors: neither contributes scoring terms, so a boost
there is dead syntax, not a no-op worth accepting.

Metadata atoms (``lang:``, ``repo:``, ``path:``, ``commit:``,
``source:``) FILTER a clause by the per-doc metadata table — the
single most common restriction a real code-search user applies. They
contribute a presence doc-id set to the clause intersection and no
scoring terms; a value ending in ``*`` is a prefix match
(``path:src/*``). A clause of only filters is rejected (unbounded:
"every python doc" is a table scan, not a ranked query).

Range atoms (``dlen:lo..hi``, either bound optional) filter on
NUMERIC metadata — doc length today — with the comparison pushed to
the metadata parquet read (``meta_range_docs``); same
filters-restrict-qualification-never-scoring contract, same
filter-only rejection. The declarative/oracled twin is
``harness.q_range_bm25``.

Semantics: the query is a disjunction of clauses; ``AND`` chains the
adjacent atoms into one clause; bare atoms are their own clause.
Atoms: ``"…"`` quoted phrase (exact whitespace adjacency, verified
against the content store), ``tok*`` dictionary-expanded prefix,
anything else a term (analyzed). A document QUALIFIES if any clause
holds; qualifying docs are ranked by BM25 over every scoring term the
query mentions (phrase/prefix atoms contribute their analyzed /
expanded terms), so ranking stays consistent with the plain search
paths.

Evaluation is driver-side numpy over the same decoded postings the
exact search path uses — presence sets per atom, set algebra per
clause, one BM25 scoring pass restricted to qualifying docs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from rse_spark.query.engine import query_terms
from rse_spark.query.kernel import _intersect_sorted

# fixed field set: anything else containing ':' stays a term atom
# (std::vector must not parse as a metadata filter)
META_FIELDS = ("lang", "repo", "path", "commit", "source")
_META_RE = re.compile(
    r"^(" + "|".join(META_FIELDS) + r"):(.+)$"
)
# numeric range atoms: dlen:lo..hi (either bound may be open, not
# both) — 'dlen' aliases the enriched table's doc_len column
RANGE_FIELDS = {"dlen": "doc_len", "doc_len": "doc_len"}
_RANGE_RE = re.compile(
    r"^(" + "|".join(RANGE_FIELDS) + r"):(\d*)\.\.(\d*)$"
)
# term~ / term~N — the body must be ~-free so 'a~b~' stays a term
_FUZZY_RE = re.compile(r"^([^~\s]+)~(\d*)$")
# atom^N boost suffix — N must be a positive number; the base must be
# non-empty so '^2' alone stays a term. After a quoted span the base
# MAY be empty ('"…"^2' has suffix '^2').
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_QUOTE_BOOST_RE = re.compile(r"^(.*)\^(\d+(?:\.\d+)?)$")


@dataclass
class Clause:
    terms: list[str] = field(default_factory=list)
    prefixes: list[str] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)
    # per-phrase slop, aligned with ``phrases``: 0 = exact adjacency;
    # N >= 1 allows up to N tokens between successive words
    # (Lucene SimpleQueryParser's ``"…"~N``)
    slops: list[int] = field(default_factory=list)
    # negated atoms (``-tok`` / ``-tok*`` / ``-"…"``): docs containing
    # them are EXCLUDED from this clause's hits (SimpleQueryParser's
    # NOT, clause-scoped). A clause with only negative atoms is a
    # parse error — "everything except X" over a corpus is not a
    # bounded query.
    neg_terms: list[str] = field(default_factory=list)
    neg_prefixes: list[str] = field(default_factory=list)
    neg_phrases: list[str] = field(default_factory=list)
    neg_slops: list[int] = field(default_factory=list)
    # ``/pattern/`` atoms (Lucene RegexpQuery syntax): dictionary-
    # expanded like prefixes — full-term match, capped expansion
    regexes: list[str] = field(default_factory=list)
    neg_regexes: list[str] = field(default_factory=list)
    # ``term~`` / ``term~N`` atoms (Lucene FuzzyQuery syntax, N<=2):
    # (term, max_edits) pairs, dictionary-expanded like prefixes
    fuzzies: list[tuple[str, int]] = field(default_factory=list)
    neg_fuzzies: list[tuple[str, int]] = field(default_factory=list)
    # metadata filters ((field, value) pairs; value may end in '*' for
    # prefix match) — presence sets only, never scoring terms
    metas: list[tuple[str, str]] = field(default_factory=list)
    neg_metas: list[tuple[str, str]] = field(default_factory=list)
    # numeric range filters ((physical_field, lo, hi), open ends None)
    # — presence sets only, like metas
    ranges: list[tuple[str, "int | None", "int | None"]] = field(
        default_factory=list)
    neg_ranges: list[tuple[str, "int | None", "int | None"]] = field(
        default_factory=list)
    # quoted phrases whose LAST word ends with ``*`` (``"merge jo*"``
    # — ES match_phrase_prefix / Lucene complex-phrase trailing
    # wildcard): resolved on the positional sidecar via
    # phrase_prefix_search. Stored with the ``*`` stripped.
    phrase_prefixes: list[str] = field(default_factory=list)
    neg_phrase_prefixes: list[str] = field(default_factory=list)
    # per-atom score boosts (``atom^N``), aligned with their positive
    # atom lists; 1.0 = unboosted. Negative atoms can't carry boosts
    # (parse error — they contribute no scoring terms).
    term_boosts: list[float] = field(default_factory=list)
    prefix_boosts: list[float] = field(default_factory=list)
    phrase_boosts: list[float] = field(default_factory=list)
    regex_boosts: list[float] = field(default_factory=list)
    fuzzy_boosts: list[float] = field(default_factory=list)
    phrase_prefix_boosts: list[float] = field(default_factory=list)

    def atoms(self) -> int:
        return (
            len(self.terms) + len(self.prefixes) + len(self.phrases)
            + len(self.neg_terms) + len(self.neg_prefixes)
            + len(self.neg_phrases) + len(self.metas)
            + len(self.neg_metas) + len(self.regexes)
            + len(self.neg_regexes) + len(self.fuzzies)
            + len(self.neg_fuzzies) + len(self.ranges)
            + len(self.neg_ranges) + len(self.phrase_prefixes)
            + len(self.neg_phrase_prefixes)
        )

    def positive_atoms(self) -> int:
        """Scoring atoms — metadata filters deliberately excluded: a
        clause of only filters is unbounded (and unrankable)."""
        return (
            len(self.terms) + len(self.prefixes) + len(self.phrases)
            + len(self.regexes) + len(self.fuzzies)
            + len(self.phrase_prefixes)
        )


def _tokenize(q: str) -> list[str]:
    """Split on whitespace, keeping double-quoted spans as one token
    (quotes retained for classification)."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        if q[i].isspace():
            i += 1
            continue
        if q[i] == '"' or (
            q[i] == "-" and i + 1 < n and q[i + 1] == '"'
        ):
            j = q.find('"', i + (2 if q[i] == "-" else 1))
            j = n if j < 0 else j
            # keep a non-space suffix (the ~N slop marker) attached
            k = j + 1
            while k < n and not q[k].isspace():
                k += 1
            out.append(q[i:k])
            i = k
        else:
            j = i
            while j < n and not q[j].isspace():
                j += 1
            out.append(q[i:j])
            i = j
    return out


def parse_ql(q: str) -> list[Clause]:
    """Parse into OR-of-AND clauses. ``AND`` merges the next atom into
    the current clause; ``OR`` (and plain adjacency) separates
    clauses. Raises ValueError on an empty/operator-only query."""
    clauses: list[Clause] = []
    cur: Clause | None = None
    pending_and = False
    for tok in _tokenize(q):
        if tok == "AND":
            pending_and = True
            continue
        if tok == "OR":
            pending_and = False
            continue
        if not (pending_and and cur is not None):
            cur = Clause()
            clauses.append(cur)
        pending_and = False
        neg = tok.startswith("-") and len(tok) > 1
        if neg:
            tok = tok[1:]
        boost = 1.0
        if not tok.startswith('"') \
                and (m := _BOOST_RE.match(tok)) is not None:
            boost = float(m.group(2))
            tok = m.group(1)
        if boost != 1.0:
            if boost <= 0:
                raise ValueError(
                    f"boost must be positive: {tok}^{boost:g}"
                )
            if neg:
                raise ValueError(
                    f"boost on a negative atom -{tok}^{boost:g} has "
                    f"no effect (negations contribute no scoring "
                    f"terms)"
                )
        if tok.startswith('"'):
            body, slop = tok[1:], 0
            close = body.find('"')
            if close >= 0:
                suffix = body[close + 1:]
                body = body[:close]
                # suffix grammar after a quoted span: optional ~N
                # slop, then optional ^B boost ('"merge sort"~2^3')
                if (m := _QUOTE_BOOST_RE.match(suffix)) is not None:
                    boost = float(m.group(2))
                    suffix = m.group(1)
                    if boost <= 0:
                        raise ValueError(
                            f'boost must be positive: "{body}"^{boost:g}'
                        )
                    if neg:
                        raise ValueError(
                            f'boost on a negative atom -"{body}" has '
                            f"no effect (negations contribute no "
                            f"scoring terms)"
                        )
                if suffix.startswith("~"):
                    try:
                        slop = max(0, int(suffix[1:]))
                    except ValueError:
                        raise ValueError(
                            f"bad phrase slop {suffix!r}"
                        ) from None
                elif suffix:
                    # '"merge sort"stable' — ~N is the only meaningful
                    # suffix; anything else was previously discarded
                    # silently (round-5 ADVICE #3). Error, don't drop.
                    raise ValueError(
                        f"unrecognized suffix {suffix!r} after quoted "
                        f"phrase (only '~N' slop and '^B' boost are "
                        f"allowed)"
                    )
            phrase = body.strip()
            if phrase.endswith("*"):
                # '"merge jo*"' — phrase-prefix atom (ES
                # match_phrase_prefix): the last word is a prefix.
                # Slop on a prefix tail has no defined semantics.
                pp = phrase[:-1].rstrip()
                if not pp or pp.endswith("*"):
                    raise ValueError(
                        f'bad phrase-prefix atom "{phrase}"'
                    )
                if slop:
                    raise ValueError(
                        "phrase-prefix atoms cannot carry slop"
                    )
                if neg:
                    cur.neg_phrase_prefixes.append(pp)
                else:
                    cur.phrase_prefixes.append(pp)
                    cur.phrase_prefix_boosts.append(boost)
            elif phrase:
                if neg:
                    cur.neg_phrases.append(phrase)
                    cur.neg_slops.append(slop)
                else:
                    cur.phrases.append(phrase)
                    cur.slops.append(slop)
                    cur.phrase_boosts.append(boost)
        elif (m := _RANGE_RE.match(tok)) is not None:
            if boost != 1.0:
                raise ValueError(
                    f"boost on a range filter {tok}^{boost:g} has "
                    f"no effect (filters contribute no scoring terms)"
                )
            lo = int(m.group(2)) if m.group(2) else None
            hi = int(m.group(3)) if m.group(3) else None
            if lo is None and hi is None:
                raise ValueError(
                    f"range atom {tok!r} needs at least one bound"
                )
            if lo is not None and hi is not None and lo > hi:
                raise ValueError(
                    f"range atom {tok!r}: empty range (lo > hi)"
                )
            (cur.neg_ranges if neg else cur.ranges).append(
                (RANGE_FIELDS[m.group(1)], lo, hi)
            )
        elif (m := _META_RE.match(tok)) is not None:
            if boost != 1.0:
                raise ValueError(
                    f"boost on a metadata filter {tok}^{boost:g} has "
                    f"no effect (filters contribute no scoring terms)"
                )
            (cur.neg_metas if neg else cur.metas).append(
                (m.group(1), m.group(2))
            )
        elif tok.startswith("/") and tok.endswith("/") and len(tok) > 2:
            # /pattern/ — Lucene RegexpQuery syntax, validated at
            # parse time so the HTTP surface 400s bad patterns before
            # any index work
            pattern = tok[1:-1]
            try:
                re.compile(pattern)
            except re.error as e:
                raise ValueError(
                    f"bad regex atom /{pattern}/: {e}"
                ) from None
            if neg:
                cur.neg_regexes.append(pattern)
            else:
                cur.regexes.append(pattern)
                cur.regex_boosts.append(boost)
        elif ("?" in tok or "*" in tok[:-1]) and "~" not in tok:
            # mid-string wildcard — Lucene WildcardQuery (te?t,
            # fil*er, *sort): translated once to a portable regex and
            # carried on the SAME regex machinery (expansion, caps,
            # negation, boosts). Trailing-only '*' stays the cheaper
            # prefix atom below; '~' atoms stay fuzzy.
            if set(tok) <= {"*", "?"}:
                raise ValueError(
                    f"unbounded wildcard atom {tok!r} (matches "
                    f"everything)"
                )
            from rse_spark.query.textmatch import wildcard_to_regex

            pattern = wildcard_to_regex(tok)
            if neg:
                cur.neg_regexes.append(pattern)
            else:
                cur.regexes.append(pattern)
                cur.regex_boosts.append(boost)
        elif tok.endswith("*") and len(tok) > 1:
            if neg:
                cur.neg_prefixes.append(tok[:-1])
            else:
                cur.prefixes.append(tok[:-1])
                cur.prefix_boosts.append(boost)
        elif (m := _FUZZY_RE.match(tok)) is not None:
            # term~ / term~N — Lucene FuzzyQuery syntax; bare ~ means
            # the Lucene default of 2 edits. Distances above 2 are a
            # parse error (HTTP 400), same ceiling as Lucene.
            edits = int(m.group(2)) if m.group(2) else 2
            if edits > 2:
                raise ValueError(
                    f"fuzzy atom {tok!r}: max supported distance is 2"
                )
            if neg:
                cur.neg_fuzzies.append((m.group(1), edits))
            else:
                cur.fuzzies.append((m.group(1), edits))
                cur.fuzzy_boosts.append(boost)
        else:
            if neg:
                cur.neg_terms.append(tok)
            else:
                cur.terms.append(tok)
                cur.term_boosts.append(boost)
    clauses = [c for c in clauses if c.atoms()]
    if not clauses:
        raise ValueError("empty query")
    for c in clauses:
        if c.positive_atoms() == 0:
            raise ValueError(
                "clause has only negative/filter atoms (every clause "
                "needs a positive term, prefix, or phrase — metadata "
                "filters and negations only restrict)"
            )
    return clauses


def match_ql(searcher, q: str,
             corpus_path: str | None = None,
             content_col: str = "text", id_col: str = "doc_id",
             key_col: str | None = None,
             max_prefix_terms: int = 64,
             max_atoms: int = 16):
    """Presence evaluation for a mini-language query: returns
    ``(qualified, boosts)`` — the sorted doc-id array of every
    document satisfying the clause algebra, plus a dict mapping each
    analyzed scoring term to its boost multiplier (1.0 when unboosted;
    a term mentioned by several atoms takes the maximum). The shared
    core of
    ``search_ql`` (which scores the set) and ``search_ql_facets``
    (which additionally aggregates metadata over the FULL set, not
    just the returned page).

    Evaluation is doc-id arrays only (DirectSearcher.term_docs:
    posting decode, no BM25 work), memoized per analyzed term across
    atoms. Every atom's presence set is sorted and unique where it is
    made, so a clause's conjunction is a chain of sorted-list merges
    (``kernel._intersect_sorted``); unions and negation use
    np.unique / np.setdiff1d. Per-query
    work is bounded: ``max_atoms`` caps the atom count (the HTTP
    surface maps the ValueError to a 400), ``max_prefix_terms`` caps
    each prefix/regex expansion.

    Raises ValueError for an empty query, a query with more than
    ``max_atoms`` atoms, or a phrase atom when no ``corpus_path``
    content store is available (adjacency cannot be verified from the
    tf-only postings)."""
    import os

    import numpy as np

    clauses = parse_ql(q)
    n_atoms = sum(c.atoms() for c in clauses)
    if n_atoms > max_atoms:
        raise ValueError(
            f"query has {n_atoms} atoms (max {max_atoms})"
        )
    has_pos = os.path.isdir(os.path.join(searcher.root, "positions"))
    if any(c.phrases or c.neg_phrases for c in clauses) \
            and corpus_path is None and not has_pos:
        raise ValueError(
            "phrase atoms need a content store or a positional sidecar"
        )
    if any(s > 0 for c in clauses for s in (*c.slops, *c.neg_slops)) \
            and not has_pos:
        raise ValueError(
            'sloppy phrases ("…"~N) need a positional sidecar'
        )
    if any(c.phrase_prefixes or c.neg_phrase_prefixes
           for c in clauses) and not has_pos:
        raise ValueError(
            'phrase-prefix atoms ("… wo*") need a positional sidecar'
        )

    empty = np.empty(0, dtype=np.int64)
    docs_cache: dict[str, np.ndarray] = {}

    def tdocs(term: str) -> np.ndarray:
        """Presence array of one ANALYZED term, memoized across
        atoms (a prefix atom and a term atom sharing vocabulary decode
        each list once)."""
        arr = docs_cache.get(term)
        if arr is None:
            arr = docs_cache[term] = searcher.term_docs(term)
        return arr

    def token_docs(tok: str) -> np.ndarray:
        """Docs containing the ANALYZED form(s) of one query token —
        conjunction over its subtokens (camelCase splits, etc.)."""
        subs = sorted(query_terms(tok, searcher.analyzer))
        if not subs:
            return empty
        acc = tdocs(subs[0])
        for s in subs[1:]:
            if not len(acc):
                break
            acc = _intersect_sorted(acc, tdocs(s))
        return acc

    def prefix_docs(p: str) -> tuple[np.ndarray, list[str]]:
        terms = searcher.expand_prefix(p, max_terms=max_prefix_terms)
        arrs = [tdocs(t) for t in terms]
        arrs = [a for a in arrs if len(a)]
        if not arrs:
            return empty, terms
        return np.unique(np.concatenate(arrs)), terms

    def regex_docs(p: str) -> tuple[np.ndarray, list[str]]:
        """Dictionary-expanded regex atom — same shape as a prefix
        atom: the expansion's presence union plus its terms for
        scoring (capped by the same rewrite limit)."""
        terms = searcher.expand_regex(p, max_terms=max_prefix_terms)
        arrs = [tdocs(t) for t in terms]
        arrs = [a for a in arrs if len(a)]
        if not arrs:
            return empty, terms
        return np.unique(np.concatenate(arrs)), terms

    def fuzzy_docs(t: str, edits: int) -> tuple[np.ndarray, list[str]]:
        """Dictionary-expanded fuzzy atom — same shape as a prefix
        atom; expansion is capped closest-first (distance, term)."""
        terms = searcher.expand_fuzzy(
            t, max_edits=edits, max_terms=max_prefix_terms
        )
        arrs = [tdocs(x) for x in terms]
        arrs = [a for a in arrs if len(a)]
        if not arrs:
            return empty, terms
        return np.unique(np.concatenate(arrs)), terms

    def phrase_docs(ph: str, slop: int) -> np.ndarray:
        """Docs containing the phrase, sorted (the phrase surfaces
        return hits in count order)."""
        if slop > 0:
            # slop semantics: up to ``slop`` extra tokens between
            # successive words -> max chain gap slop + 1
            return np.asarray(
                searcher.phrase_chain_docs(ph, max_gap=slop + 1),
                dtype=np.int64,
            )
        if corpus_path is not None:
            ph_hits = searcher.phrase_search(
                ph, corpus_path, k=searcher.n_docs,
                content_col=content_col, id_col=id_col,
                key_col=key_col,
            )
        else:  # positional sidecar (checked above)
            ph_hits = searcher.phrase_search_positions(
                ph, k=searcher.n_docs
            )
        return np.sort(np.fromiter(
            (d for d, _n in ph_hits), dtype=np.int64, count=len(ph_hits),
        ))

    def phrase_prefix_docs(ph: str) -> tuple[np.ndarray, list[str]]:
        """Phrase-prefix atom presence + its scoring terms (analyzed
        head words plus the capped last-word expansion — the same
        terms every other expanded atom feeds the scorer)."""
        hits = searcher.phrase_prefix_search(ph, k=searcher.n_docs)
        words = ph.split()
        sterms = list(
            query_terms(" ".join(words[:-1]), searcher.analyzer)
        ) + searcher.expand_prefix(words[-1].lower(), max_prefix_terms)
        return (
            np.sort(np.fromiter(
                (d for d, _n in hits), dtype=np.int64, count=len(hits),
            )),
            sorted(set(sterms)),
        )

    meta_cache: dict[tuple[str, str], np.ndarray] = {}

    def meta_set(f: str, v: str) -> np.ndarray:
        arr = meta_cache.get((f, v))
        if arr is None:
            arr = meta_cache[(f, v)] = np.asarray(
                searcher.meta_docs(f, v), dtype=np.int64
            )
        return arr

    def range_set(f: str, lo, hi) -> np.ndarray:
        key = (f, f"{lo}..{hi}")
        arr = meta_cache.get(key)
        if arr is None:
            arr = meta_cache[key] = np.asarray(
                searcher.meta_range_docs(f, lo, hi), dtype=np.int64
            )
        return arr

    boosts: dict[str, float] = {}

    def add_scoring(terms: list[str], b: float) -> None:
        for t in terms:
            if b > boosts.get(t, 0.0):
                boosts[t] = b

    qualified_parts: list[np.ndarray] = []
    for c in clauses:
        clause_sets: list[np.ndarray] = []
        for t, b in zip(c.terms, c.term_boosts):
            add_scoring(query_terms(t, searcher.analyzer), b)
            clause_sets.append(token_docs(t))
        for p, b in zip(c.prefixes, c.prefix_boosts):
            docs, terms = prefix_docs(p)
            add_scoring(terms, b)
            clause_sets.append(docs)
        for p, b in zip(c.regexes, c.regex_boosts):
            docs, terms = regex_docs(p)
            add_scoring(terms, b)
            clause_sets.append(docs)
        for (t, edits), b in zip(c.fuzzies, c.fuzzy_boosts):
            docs, terms = fuzzy_docs(t, edits)
            add_scoring(terms, b)
            clause_sets.append(docs)
        for ph, slop, b in zip(c.phrases, c.slops, c.phrase_boosts):
            add_scoring(query_terms(ph, searcher.analyzer), b)
            clause_sets.append(phrase_docs(ph, slop))
        for ph, b in zip(c.phrase_prefixes, c.phrase_prefix_boosts):
            docs, sterms = phrase_prefix_docs(ph)
            add_scoring(sterms, b)
            clause_sets.append(docs)
        for f, v in c.metas:
            # filter-only: presence set in the intersection, no
            # scoring contribution
            clause_sets.append(meta_set(f, v))
        for f, lo, hi in c.ranges:
            clause_sets.append(range_set(f, lo, hi))
        if not clause_sets:
            continue
        # smallest set first: intersections shrink fastest
        clause_sets.sort(key=len)
        hit = clause_sets[0]
        for s in clause_sets[1:]:
            if not len(hit):
                break
            hit = _intersect_sorted(hit, s)
        # clause-scoped negation: docs matching ANY negative atom are
        # excluded from this clause's hits (they never enter scoring —
        # the negatives contribute no scoring terms)
        if len(hit) and (
            c.neg_terms or c.neg_prefixes or c.neg_phrases
            or c.neg_metas or c.neg_regexes or c.neg_fuzzies
            or c.neg_ranges or c.neg_phrase_prefixes
        ):
            neg_parts = [token_docs(t) for t in c.neg_terms]
            neg_parts += [
                phrase_prefix_docs(ph)[0]
                for ph in c.neg_phrase_prefixes
            ]
            neg_parts += [prefix_docs(p)[0] for p in c.neg_prefixes]
            neg_parts += [regex_docs(p)[0] for p in c.neg_regexes]
            neg_parts += [
                fuzzy_docs(t, e)[0] for t, e in c.neg_fuzzies
            ]
            neg_parts += [
                phrase_docs(ph, slop)
                for ph, slop in zip(c.neg_phrases, c.neg_slops)
            ]
            neg_parts += [meta_set(f, v) for f, v in c.neg_metas]
            neg_parts += [
                range_set(f, lo, hi) for f, lo, hi in c.neg_ranges
            ]
            neg_parts = [a for a in neg_parts if len(a)]
            if neg_parts:
                hit = np.setdiff1d(
                    hit, np.unique(np.concatenate(neg_parts)),
                    assume_unique=True,
                )
        if len(hit):
            qualified_parts.append(hit)
    if not qualified_parts:
        qualified = empty
    else:
        qualified = (
            np.unique(np.concatenate(qualified_parts))
            if len(qualified_parts) > 1
            else qualified_parts[0]
        )
    return qualified, boosts


def search_ql(searcher, q: str, k: int = 10,
              corpus_path: str | None = None,
              content_col: str = "text", id_col: str = "doc_id",
              key_col: str | None = None,
              max_prefix_terms: int = 64,
              max_atoms: int = 16,
              fvf: str | None = None):
    """Top-k for a mini-language query over a DirectSearcher.
    Returns [(doc_id, score, n_terms_matched)] like search():
    presence evaluation via ``match_ql``, then ONE scoring pass
    restricted to the qualifying docs (``search_terms(within=...)``).
    Every qualifying doc matches at least one scoring term (its
    clause's own terms), so nothing is dropped by the OR. ``atom^N``
    boosts multiply the contribution of that atom's terms; ``fvf``
    rides the scoring pass unchanged (function_score shaping applies
    AFTER clause qualification, before top-k — same contract as plain
    search)."""
    qualified, boosts = match_ql(
        searcher, q, corpus_path=corpus_path, content_col=content_col,
        id_col=id_col, key_col=key_col,
        max_prefix_terms=max_prefix_terms, max_atoms=max_atoms,
    )
    if not len(qualified):
        return []
    return searcher.search_terms(
        sorted(boosts), k=k, mode="or", within=qualified,
        boosts=boosts, fvf=fvf,
    )


def search_ql_facets(searcher, q: str, facet_fields: list[str],
                     k: int = 10, top: int = 10,
                     corpus_path: str | None = None,
                     content_col: str = "text", id_col: str = "doc_id",
                     key_col: str | None = None,
                     max_prefix_terms: int = 64,
                     max_atoms: int = 16):
    """``search_ql`` plus faceted navigation: returns ``(hits,
    facets)`` where ``facets`` maps each requested metadata field to
    its top value counts over the FULL qualifying set (not the
    returned page) — the search-UI drill-down panel, served replica-
    side. One presence evaluation feeds both the scoring pass and the
    facet aggregation (``DirectSearcher.facet_counts``: a column-
    pruned metadata scan, no Spark job, no content read)."""
    qualified, boosts = match_ql(
        searcher, q, corpus_path=corpus_path, content_col=content_col,
        id_col=id_col, key_col=key_col,
        max_prefix_terms=max_prefix_terms, max_atoms=max_atoms,
    )
    facets = searcher.facet_counts(qualified, facet_fields, top=top)
    if not len(qualified):
        return [], facets
    hits = searcher.search_terms(
        sorted(boosts), k=k, mode="or", within=qualified,
        boosts=boosts,
    )
    return hits, facets


def search_ql_hist(searcher, q: str, field: str, interval: int,
                   k: int = 10,
                   corpus_path: str | None = None,
                   content_col: str = "text", id_col: str = "doc_id",
                   key_col: str | None = None,
                   max_prefix_terms: int = 64,
                   max_atoms: int = 16):
    """``search_ql`` plus an ES ``histogram`` aggregation: returns
    ``(hits, buckets)`` where ``buckets`` is the fixed-width numeric
    bucketing of ``field`` over the FULL qualifying set (not the
    returned page) — sorted ``[(bucket_key, n_docs), ...]``. One
    presence evaluation feeds both the scoring pass and the bucket
    aggregation (``DirectSearcher.histogram``: a column-pruned
    metadata scan, no Spark job)."""
    qualified, boosts = match_ql(
        searcher, q, corpus_path=corpus_path, content_col=content_col,
        id_col=id_col, key_col=key_col,
        max_prefix_terms=max_prefix_terms, max_atoms=max_atoms,
    )
    buckets = searcher.histogram(qualified, field, interval)
    if not len(qualified):
        return [], buckets
    hits = searcher.search_terms(
        sorted(boosts), k=k, mode="or", within=qualified,
        boosts=boosts,
    )
    return hits, buckets


def search_ql_collapse(searcher, q: str, collapse: str, k: int = 10,
                       per_group: int = 1,
                       corpus_path: str | None = None,
                       content_col: str = "text", id_col: str = "doc_id",
                       key_col: str | None = None,
                       max_prefix_terms: int = 64,
                       max_atoms: int = 16):
    """``search_ql`` with result collapsing (Solr/Elasticsearch
    ``collapse``, Lucene grouping): at most ``per_group`` hits per
    distinct value of metadata field ``collapse``, ranked by the
    group's best hit — the "one result per repo" diversity view every
    code-search UI ships. Returns ``[(doc_id, score, n_terms_matched,
    group_value)]``.

    Evaluation: one presence pass (``match_ql``), one scoring pass
    over the full qualifying set (collapsing needs the global ranking,
    not a page), one column-pruned metadata scan for the group values
    (``DirectSearcher.field_values`` — same cost shape the facet path
    already pays), then a greedy walk of the ranked list keeping the
    first ``per_group`` hits per group. Docs missing from the metadata
    table collapse into one ``None`` group rather than being dropped.
    The declarative twin is ``harness.q_collapse_bm25`` (window
    ``row_number`` per group over the scored set)."""
    if per_group < 1:
        raise ValueError(f"per_group must be >= 1 (got {per_group})")
    qualified, boosts = match_ql(
        searcher, q, corpus_path=corpus_path, content_col=content_col,
        id_col=id_col, key_col=key_col,
        max_prefix_terms=max_prefix_terms, max_atoms=max_atoms,
    )
    if not len(qualified):
        return []
    # full ranking over the qualifying set: the scoring pass already
    # touches every qualifying doc, k only truncates — collapsing
    # truncates AFTER grouping instead
    hits = searcher.search_terms(
        sorted(boosts), k=len(qualified), mode="or", within=qualified,
        boosts=boosts,
    )
    vals = searcher.field_values([d for d, _s, _m in hits], collapse)
    out = []
    seen: dict = {}
    for d, sc, m in hits:  # sorted (-score, doc_id)
        g = vals.get(d)
        c = seen.get(g, 0)
        if c < per_group:
            seen[g] = c + 1
            out.append((d, sc, m, g))
            if len(out) == k:
                break
    return out
