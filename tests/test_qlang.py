"""Mini query language (query/qlang.py): parser, clause semantics over
a planted corpus, parity with the plain search paths, HTTP surface."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pandas as pd
import pytest

from rse_spark.query.qlang import parse_ql, search_ql
from rse_spark.query.serve import DirectSearcher

ROWS = [
    (0, "alpha beta gamma"),
    (1, "alpha delta"),
    (2, "beta delta"),
    (3, "epsilon zeta eta"),
    (4, "alphabet soup"),
    (5, "beta alpha order"),
]


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """(index_root, corpus_path, to_src): tiny controlled corpus."""
    from pyspark.sql import functions as F  # noqa: F401

    from rse_spark.streaming.stream_index import append_batch

    base = tmp_path_factory.mktemp("qlang")
    corpus_path = str(base / "corpus.parquet")
    pd.DataFrame(ROWS, columns=["doc_id", "text"]).to_parquet(corpus_path)
    root = str(base / "idx")
    docs = spark.read.parquet(corpus_path)
    append_batch(spark, docs, root, analyzer="simple", content_col="text",
                 batch_id=0)
    to_src = {
        int(r["doc_id"]): int(r["src_doc_id"])
        for r in spark.read.parquet(f"{root}/enriched")
        .select("doc_id", "src_doc_id").collect()
    }
    return root, corpus_path, to_src


def test_parse_ql():
    cs = parse_ql('error AND handler OR panic')
    assert [(c.terms, c.prefixes, c.phrases) for c in cs] == [
        (["error", "handler"], [], []),
        (["panic"], [], []),
    ]
    cs = parse_ql('"merge sort" AND stable')
    assert cs[0].phrases == ["merge sort"] and cs[0].terms == ["stable"]
    cs = parse_ql('pars* config')
    assert cs[0].prefixes == ["pars"] and cs[1].terms == ["config"]
    # default adjacency is OR (GSE semantics)
    assert len(parse_ql("spark join")) == 2
    for bad in ("", "   ", "AND OR", '""'):
        with pytest.raises(ValueError):
            parse_ql(bad)
    # only ~N is a legal suffix after a quoted phrase; anything else
    # used to be silently discarded (round-5 ADVICE #3)
    assert parse_ql('"merge sort"~2')[0].slops == [2]
    with pytest.raises(ValueError, match="unrecognized suffix"):
        parse_ql('"merge sort"stable')
    with pytest.raises(ValueError, match="bad phrase slop"):
        parse_ql('"merge sort"~x')


def _src_ids(hits, to_src):
    return {to_src[d] for d, _s, _m in hits}


def test_clause_semantics(planted):
    root, corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    # conjunction
    assert _src_ids(search_ql(s, "alpha AND beta", **kw), to_src) == {0, 5}
    # disjunction of clauses
    assert _src_ids(
        search_ql(s, "alpha AND beta OR epsilon", **kw), to_src
    ) == {0, 3, 5}
    # phrase atom: adjacency, not co-occurrence
    assert _src_ids(search_ql(s, '"alpha beta"', **kw), to_src) == {0}
    assert _src_ids(
        search_ql(s, '"beta alpha" OR epsilon', **kw), to_src
    ) == {3, 5}
    # prefix atom
    assert _src_ids(search_ql(s, "alphabet*", **kw), to_src) == {4}
    assert _src_ids(search_ql(s, "alph*", **kw), to_src) == {0, 1, 4, 5}
    # phrase AND term
    assert _src_ids(
        search_ql(s, '"alpha beta" AND gamma', **kw), to_src
    ) == {0}
    # nothing qualifies
    assert search_ql(s, "alpha AND epsilon", **kw) == []


def test_ranking_matches_plain_search(planted):
    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    plain = [(d, round(sc, 9)) for d, sc, _m in s.search("alpha beta", k=10)]
    ql = [(d, round(sc, 9))
          for d, sc, _m in search_ql(s, "alpha beta", k=10)]
    assert ql == plain


def test_negation(planted):
    """Clause-scoped NOT: -term / -prefix* / -"phrase" exclude their
    docs from the clause; purely negative clauses are parse errors."""
    root, corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    cs = parse_ql("error AND -deprecated")
    assert cs[0].terms == ["error"] and cs[0].neg_terms == ["deprecated"]
    cs = parse_ql('x AND -"a b"~2')
    assert cs[0].neg_phrases == ["a b"] and cs[0].neg_slops == [2]
    for bad in ("-alpha", "-alpha AND -beta", 'alpha OR -beta'):
        with pytest.raises(ValueError, match="negative"):
            parse_ql(bad)

    assert _src_ids(search_ql(s, "alpha AND -beta", **kw), to_src) == {1}
    assert _src_ids(
        search_ql(s, "alpha AND -delt*", **kw), to_src
    ) == {0, 5}
    assert _src_ids(
        search_ql(s, 'alpha AND -"beta alpha"', **kw), to_src
    ) == {0, 1}
    assert _src_ids(
        search_ql(s, "alpha AND -beta OR epsilon", **kw), to_src
    ) == {1, 3}
    # negation of an absent atom excludes nothing
    assert _src_ids(
        search_ql(s, "alpha AND -nonexistent", **kw), to_src
    ) == {0, 1, 5}


def test_atom_cap_bounds_work(planted):
    """Per-query work is bounded: more than max_atoms atoms is a
    ValueError (HTTP maps it to a 400), not unbounded evaluation."""
    root, corpus_path, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="atoms"):
        search_ql(s, "a b c d e", max_atoms=4)
    # at the cap it still runs
    assert isinstance(
        search_ql(s, "alpha beta", max_atoms=2), list
    )


def test_phrase_without_content_store_raises(planted):
    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="content store"):
        search_ql(s, '"alpha beta"')


def test_http_ql(planted):
    from rse_spark.query.http import SearchServer

    root, corpus_path, to_src = planted
    srv = SearchServer(
        root, analyzer="simple",
        corpus_path=corpus_path, key_col="src_doc_id",
    ).start()
    try:
        url = (srv.address
               + "/search?ql=%22alpha+beta%22+OR+epsilon&k=10&snippets=1")
        with urllib.request.urlopen(url, timeout=30) as resp:
            body = json.load(resp)
        got = {to_src[r["doc_id"]] for r in body["results"]}
        assert got == {0, 3}
        assert all("snippet" in r for r in body["results"])
        # two selectors -> 400
        try:
            urllib.request.urlopen(
                srv.address + "/search?ql=a&q=b", timeout=10
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # operator-only -> 400 (parse error surfaced)
        try:
            urllib.request.urlopen(
                srv.address + "/search?ql=AND", timeout=10
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# Metadata filter atoms (lang: / repo: / path: …) — round-5 VERDICT
# item 5: presence doc-id sets from docs_meta intersected into the
# clause algebra.
# ---------------------------------------------------------------------------

META_ROWS = [
    (0, "alpha beta", "python", "src/core/a.py"),
    (1, "alpha gamma", "go", "src/net/b.go"),
    (2, "alpha beta", "python", "lib/x.py"),
    (3, "beta delta", "go", "src/core/c.go"),
]


@pytest.fixture(scope="module")
def planted_meta(spark, tmp_path_factory):
    from rse_spark.streaming.stream_index import append_batch

    base = tmp_path_factory.mktemp("qlang_meta")
    corpus_path = str(base / "corpus.parquet")
    pd.DataFrame(
        META_ROWS, columns=["doc_id", "text", "lang", "path"]
    ).to_parquet(corpus_path)
    root = str(base / "idx")
    append_batch(spark, spark.read.parquet(corpus_path), root,
                 analyzer="simple", content_col="text", batch_id=0)
    to_src = {
        int(r["doc_id"]): int(r["src_doc_id"])
        for r in spark.read.parquet(f"{root}/enriched")
        .select("doc_id", "src_doc_id").collect()
    }
    return root, corpus_path, to_src


def test_metadata_atom_parsing():
    cs = parse_ql("lang:python AND alpha")
    assert cs[0].metas == [("lang", "python")]
    assert cs[0].terms == ["alpha"]
    cs = parse_ql("alpha AND -lang:go AND path:src/*")
    assert cs[0].neg_metas == [("lang", "go")]
    assert cs[0].metas == [("path", "src/*")]
    # unknown prefixes with ':' stay terms — std::vector is code
    assert parse_ql("std::vector")[0].terms == ["std::vector"]
    # a clause of only filters is unbounded -> parse error
    with pytest.raises(ValueError, match="negative/filter"):
        parse_ql("lang:python")
    with pytest.raises(ValueError, match="negative/filter"):
        parse_ql("lang:python AND path:src/*")


def test_metadata_atom_semantics(planted_meta):
    root, corpus_path, to_src = planted_meta
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")
    assert _src_ids(
        search_ql(s, "lang:python AND alpha", **kw), to_src
    ) == {0, 2}
    assert _src_ids(
        search_ql(s, "path:src/* AND alpha", **kw), to_src
    ) == {0, 1}
    assert _src_ids(
        search_ql(s, "alpha AND -lang:go", **kw), to_src
    ) == {0, 2}
    assert _src_ids(
        search_ql(s, "lang:go AND alpha OR lang:python AND beta", **kw),
        to_src,
    ) == {0, 1, 2}
    # filters never change scores: restricted results carry the same
    # scores as the unrestricted query on the shared docs
    unres = {d: sc for d, sc, _m in search_ql(s, "alpha", **kw)}
    for d, sc, _m in search_ql(s, "lang:python AND alpha", **kw):
        assert sc == unres[d]
    # a field the metadata table doesn't carry errors loudly
    with pytest.raises(ValueError, match="unknown metadata field"):
        search_ql(s, "repo:x AND alpha", **kw)


def test_metadata_atom_http(planted_meta):
    root, corpus_path, _to_src = planted_meta
    from rse_spark.query.http import SearchServer

    srv = SearchServer(root, analyzer="simple",
                       corpus_path=corpus_path,
                       key_col="src_doc_id").start()
    try:
        with urllib.request.urlopen(
            srv.address + "/search?ql=lang%3Apython+AND+alpha&k=5",
            timeout=30,
        ) as r:
            body = json.load(r)
        assert body["n_results"] == 2
        # unknown field -> 400, not a 500
        try:
            urllib.request.urlopen(
                srv.address + "/search?ql=repo%3Ax+AND+alpha&k=5",
                timeout=30,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# Regex atoms (/pattern/) — dictionary-expanded like prefixes, Lucene
# RegexpQuery semantics (full-term match).
# ---------------------------------------------------------------------------


def test_regex_atom_parsing():
    cs = parse_ql("/alp.a/ AND beta")
    assert cs[0].regexes == ["alp.a"] and cs[0].terms == ["beta"]
    cs = parse_ql("alpha AND -/bet./")
    assert cs[0].neg_regexes == ["bet."] and cs[0].terms == ["alpha"]
    # a bad pattern fails at parse time (HTTP maps it to a 400)
    with pytest.raises(ValueError, match="bad regex"):
        parse_ql("/al(pha/")
    # bare or empty slashes are ordinary terms, not regex atoms
    assert parse_ql("a/b")[0].terms == ["a/b"]
    # purely-negative clauses stay parse errors with regexes too
    with pytest.raises(ValueError, match="negative/filter"):
        parse_ql("-/alp.a/")


def test_regex_atom_semantics(planted):
    root, corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    # full-term match: /alp.a/ hits alpha, NOT alphabet
    assert _src_ids(search_ql(s, "/alp.a/", **kw), to_src) == {0, 1, 5}
    # optional group widens to alphabet
    assert _src_ids(
        search_ql(s, "/alpha(bet)?/", **kw), to_src
    ) == {0, 1, 4, 5}
    # conjunction with a term
    assert _src_ids(
        search_ql(s, "/alp.a/ AND beta", **kw), to_src
    ) == {0, 5}
    # negative regex: beta docs minus alpha docs
    assert _src_ids(
        search_ql(s, "beta AND -/alp.a/", **kw), to_src
    ) == {2}
    # scores match the plain search on the expanded term
    plain = [(d, round(sc, 9)) for d, sc, _m in s.search("alpha", k=10)]
    rx = [(d, round(sc, 9))
          for d, sc, _m in search_ql(s, "/alp.a/", **kw)]
    assert rx == plain
    # no vocabulary match -> no results (not an error)
    assert search_ql(s, "/zzz+/ OR omega", **kw) == []


def test_expand_regex_direct(planted):
    from rse_spark.query.serve import _regex_literal_prefix

    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    assert s.expand_regex("alp.a(bet)?") == ["alpha", "alphabet"]
    # deterministic cap, sorted order
    assert s.expand_regex("alp.a(bet)?", max_terms=1) == ["alpha"]
    # substring search must be spelled explicitly
    assert s.expand_regex(".*lph.*") == ["alpha", "alphabet"]

    # the lazy (huge-vocab) dictionary gives identical expansions
    lazy = DirectSearcher(root, analyzer="simple", max_vocab_in_memory=1)
    assert lazy.expand_regex("alp.a(bet)?", max_terms=64) == [
        "alpha", "alphabet"
    ]
    assert lazy.expand_regex(".*lph.*", max_terms=64) == [
        "alpha", "alphabet"
    ]

    # literal-prefix extraction is conservative around quantifiers
    assert _regex_literal_prefix("alpha") == "alpha"
    assert _regex_literal_prefix("ab+c") == "ab"
    assert _regex_literal_prefix("ab*c") == "a"
    assert _regex_literal_prefix("ab?c") == "a"
    assert _regex_literal_prefix("ab{0,2}c") == "a"
    assert _regex_literal_prefix(".x") == ""
    assert _regex_literal_prefix("(ha|jo)") == ""
    assert _regex_literal_prefix(r"ha\.h") == "ha"


# ---------------------------------------------------------------------------
# Faceted navigation over the full qualifying set (search_ql_facets /
# DirectSearcher.facet_counts / HTTP ?facets=).
# ---------------------------------------------------------------------------


def test_facet_counts_semantics(planted_meta):
    from rse_spark.query.qlang import search_ql_facets

    root, corpus_path, to_src = planted_meta
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    hits, facets = search_ql_facets(s, "alpha", ["lang"], k=10, **kw)
    assert _src_ids(hits, to_src) == {0, 1, 2}
    assert facets == {"lang": [("python", 2), ("go", 1)]}

    # facets aggregate the FULL qualifying set, not the returned page
    page, facets1 = search_ql_facets(s, "alpha", ["lang"], k=1, **kw)
    assert len(page) == 1
    assert facets1 == {"lang": [("python", 2), ("go", 1)]}

    # multiple fields in one pass
    _hits, both = search_ql_facets(s, "beta", ["lang", "path"],
                                   k=10, **kw)
    assert both["lang"] == [("go", 1), ("python", 2)] or \
        both["lang"] == [("python", 2), ("go", 1)]
    assert sorted(n for _v, n in both["path"]) == [1, 1, 1]

    # deterministic ordering: count desc, then value asc
    assert both["lang"] == [("python", 2), ("go", 1)]

    # empty qualifying set -> empty hits AND empty facet lists
    hits0, facets0 = search_ql_facets(s, "alpha AND delta", ["lang"],
                                      k=10, **kw)
    assert hits0 == [] and facets0 == {"lang": []}

    # unknown field errors loudly (HTTP maps to 400)
    with pytest.raises(ValueError, match="unknown facet field"):
        search_ql_facets(s, "alpha", ["repo"], k=10, **kw)

    # facets compose with metadata filter atoms
    _h, f2 = search_ql_facets(s, "path:src/* AND alpha", ["lang"],
                              k=10, **kw)
    assert f2 == {"lang": [("go", 1), ("python", 1)]}


def test_facet_http(planted_meta):
    from rse_spark.query.http import SearchServer

    root, corpus_path, _to_src = planted_meta
    srv = SearchServer(root, analyzer="simple",
                       corpus_path=corpus_path,
                       key_col="src_doc_id").start()
    try:
        with urllib.request.urlopen(
            srv.address + "/search?ql=alpha&facets=lang,path&k=1",
            timeout=30,
        ) as r:
            body = json.load(r)
        assert len(body["results"]) == 1
        fac = body["facets"]
        assert fac["lang"] == [
            {"value": "python", "n_docs": 2},
            {"value": "go", "n_docs": 1},
        ]
        assert len(fac["path"]) == 3
        # unknown facet field -> 400
        try:
            urllib.request.urlopen(
                srv.address + "/search?ql=alpha&facets=repo", timeout=10
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# Fuzzy atoms (term~ / term~N) — Levenshtein dictionary expansion,
# Lucene FuzzyQuery semantics (classic distance, ceiling 2).
# ---------------------------------------------------------------------------


def test_fuzzy_atom_parsing():
    cs = parse_ql("beta~1 AND alpha")
    assert cs[0].fuzzies == [("beta", 1)] and cs[0].terms == ["alpha"]
    # bare ~ = Lucene default of 2 edits
    assert parse_ql("beta~")[0].fuzzies == [("beta", 2)]
    assert parse_ql("beta~0")[0].fuzzies == [("beta", 0)]
    cs = parse_ql("alpha AND -beta~1")
    assert cs[0].neg_fuzzies == [("beta", 1)]
    with pytest.raises(ValueError, match="max supported distance"):
        parse_ql("beta~3")
    # a ~ that isn't the fuzzy syntax stays a literal term
    assert parse_ql("a~b")[0].terms == ["a~b"]
    with pytest.raises(ValueError, match="negative/filter"):
        parse_ql("-beta~1")


def test_fuzzy_atom_semantics(planted):
    root, corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    # alha~1 -> alpha (one insertion)
    assert _src_ids(search_ql(s, "alha~1", **kw), to_src) == {0, 1, 5}
    # beta~1 -> beta, eta, zeta
    assert _src_ids(search_ql(s, "beta~1", **kw), to_src) == {0, 2, 3, 5}
    # exact-only at distance 0
    assert _src_ids(search_ql(s, "beta~0", **kw), to_src) == {0, 2, 5}
    # negation: alpha docs minus beta~1 docs
    assert _src_ids(
        search_ql(s, "alpha AND -beta~1", **kw), to_src
    ) == {1}
    # scores match the plain multi-term search on the expansion
    plain = [(d, round(sc, 9))
             for d, sc, _m in s.search_terms(["beta", "eta", "zeta"],
                                             k=10, mode="or")]
    fz = [(d, round(sc, 9)) for d, sc, _m in search_ql(s, "beta~1", **kw)]
    assert fz == plain


def test_expand_fuzzy_direct(planted):
    from rse_spark.query.serve import _bounded_levenshtein

    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    assert s.expand_fuzzy("beta", max_edits=1) == ["beta", "eta", "zeta"]
    # closest-first cap: distance 0/1 survive before farther terms
    assert s.expand_fuzzy("beta", max_edits=1, max_terms=2) == [
        "beta", "eta"
    ]
    assert s.expand_fuzzy("beta", max_edits=0) == ["beta"]
    assert s.expand_fuzzy("omega", max_edits=0) == []
    with pytest.raises(ValueError, match="out of range"):
        s.expand_fuzzy("beta", max_edits=3)

    # huge-vocab (lazy) dictionary gives identical expansions
    lazy = DirectSearcher(root, analyzer="simple", max_vocab_in_memory=1)
    assert lazy.expand_fuzzy("beta", max_edits=1) == [
        "beta", "eta", "zeta"
    ]
    assert lazy.expand_fuzzy("beta", max_edits=0) == ["beta"]

    # the banded DP agrees with the textbook definition
    assert _bounded_levenshtein("abc", "abc", 2) == 0
    assert _bounded_levenshtein("ab", "ba", 2) == 2  # classic, no swap
    assert _bounded_levenshtein("a", "", 1) == 1
    assert _bounded_levenshtein("kitten", "sitting", 2) is None
    assert _bounded_levenshtein("kitten", "sitten", 2) == 1
    assert _bounded_levenshtein("short", "muchlongerterm", 2) is None


def test_expand_fuzzy_declarative_parity(planted, spark):
    """The JVM-side expansion (textmatch.expand_fuzzy) and the serving
    tier agree term-for-term on the same vocabulary."""
    from rse_spark.query.textmatch import expand_fuzzy

    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    vocab = spark.read.parquet(f"{root}/term_stats").select("term")
    for q, d in [("beta", 1), ("alha", 1), ("alpha", 2), ("zzz", 2)]:
        assert expand_fuzzy(vocab, q, max_edits=d) == \
            s.expand_fuzzy(q, max_edits=d)
    with pytest.raises(ValueError, match="out of range"):
        expand_fuzzy(vocab, "beta", max_edits=3)


# ---------------------------------------------------------------------------
# Boost atoms (atom^N) — Lucene query-syntax boosts: scoring-only,
# qualification unchanged.
# ---------------------------------------------------------------------------


def test_boost_atom_parsing():
    cs = parse_ql("merge^2 AND sort")
    assert cs[0].terms == ["merge", "sort"]
    assert cs[0].term_boosts == [2.0, 1.0]
    assert parse_ql("pars*^1.5")[0].prefix_boosts == [1.5]
    assert parse_ql('"merge sort"^3')[0].phrase_boosts == [3.0]
    # slop then boost after a quoted span
    cs = parse_ql('"merge sort"~2^3')
    assert cs[0].slops == [2] and cs[0].phrase_boosts == [3.0]
    cs = parse_ql("tabel~1^2")
    assert cs[0].fuzzies == [("tabel", 1)]
    assert cs[0].fuzzy_boosts == [2.0]
    assert parse_ql("/ha.h/^2")[0].regex_boosts == [2.0]
    # a regex whose pattern itself contains '^' is not a boost
    assert parse_ql("/a^2x/")[0].regexes == ["a^2x"]
    with pytest.raises(ValueError, match="negative atom"):
        parse_ql("alpha AND -beta^2")
    with pytest.raises(ValueError, match="metadata filter"):
        parse_ql("alpha AND lang:python^2")
    with pytest.raises(ValueError, match="positive"):
        parse_ql("alpha^0")
    # '^2' alone has an empty base: stays a term atom
    assert parse_ql("^2")[0].terms == ["^2"]


def test_boost_atom_semantics(planted):
    root, corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    # qualification is unchanged by a boost
    assert _src_ids(search_ql(s, "alpha^2", **kw), to_src) == \
        _src_ids(search_ql(s, "alpha", **kw), to_src)
    # a single boosted term scales every score by exactly the boost
    plain = search_ql(s, "alpha", **kw)
    boosted = search_ql(s, "alpha^2.5", **kw)
    assert [(d, m) for d, _s, m in boosted] == \
        [(d, m) for d, _s, m in plain]
    for (d1, s1, _m1), (d2, s2, _m2) in zip(plain, boosted):
        assert s2 == pytest.approx(2.5 * s1)
    # boosting re-ranks a two-term query: doc 1 (alpha delta) vs
    # doc 2 (beta delta) — boosting beta must rank 2 above 1
    hits = search_ql(s, "alpha OR beta^9", **kw)
    order = [to_src[d] for d, _s, _m in hits]
    assert order.index(2) < order.index(1)
    hits = search_ql(s, "alpha^9 OR beta", **kw)
    order = [to_src[d] for d, _s, _m in hits]
    assert order.index(1) < order.index(2)
    # max-merge when the same term appears boosted and unboosted
    merged = search_ql(s, "alpha OR alpha^2.5", **kw)
    for (d1, s1, _), (d2, s2, _) in zip(plain, merged):
        assert d1 == d2 and s2 == pytest.approx(2.5 * s1)
    # boosted expanded atoms (fuzzy) scale like their plain expansion
    plain = search_ql(s, "beta~1", **kw)
    boosted = search_ql(s, "beta~1^2", **kw)
    for (d1, s1, _), (d2, s2, _) in zip(plain, boosted):
        assert d1 == d2 and s2 == pytest.approx(2.0 * s1)


# ---------------------------------------------------------------------------
# Result collapsing (collapse=field) — Solr/ES collapse semantics: at
# most per_group hits per field value, groups ranked by best hit.
# ---------------------------------------------------------------------------


def test_search_ql_collapse(planted_meta):
    from rse_spark.query.qlang import search_ql_collapse

    root, corpus_path, to_src = planted_meta
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    # "alpha" matches src docs 0,1,2 (python, go, python); collapsing
    # by lang keeps the best python and the best go doc only
    hits = search_ql_collapse(s, "alpha", "lang", **kw)
    assert len(hits) == 2
    assert {g for _d, _s, _m, g in hits} == {"python", "go"}
    # each group's representative is its best-scored doc: the full
    # ranking's first doc of that lang
    full = search_ql(s, "alpha", **kw)
    best = {}
    langs = s.field_values([d for d, _s, _m in full], "lang")
    for d, sc, _m in full:
        best.setdefault(langs[d], (d, sc))
    for d, sc, _m, g in hits:
        assert best[g] == (d, sc)
    # groups are ranked by their best hit's score
    scores = [h[1] for h in hits]
    assert scores == sorted(scores, reverse=True)

    # per_group=2 keeps both python docs
    hits2 = search_ql_collapse(s, "alpha", "lang", per_group=2, **kw)
    assert sum(1 for h in hits2 if h[3] == "python") == 2
    # k truncates after collapsing
    assert len(search_ql_collapse(s, "alpha", "lang", k=1, **kw)) == 1

    # collapsing composes with the clause algebra
    hits3 = search_ql_collapse(s, "alpha AND -lang:go", "lang", **kw)
    assert {g for *_rest, g in hits3} == {"python"}

    with pytest.raises(ValueError, match="unknown field"):
        search_ql_collapse(s, "alpha", "nope", **kw)
    with pytest.raises(ValueError, match="per_group"):
        search_ql_collapse(s, "alpha", "lang", per_group=0, **kw)
    assert search_ql_collapse(s, "zzz", "lang", **kw) == []


def test_field_values(planted_meta):
    root, _corpus, to_src = planted_meta
    s = DirectSearcher(root, analyzer="simple")
    inv = {v: k for k, v in to_src.items()}
    ids = [inv[0], inv[3]]
    vals = s.field_values(ids, "lang")
    assert vals == {inv[0]: "python", inv[3]: "go"}
    assert s.field_values([], "lang") == {}
    # absent ids are simply missing from the map
    assert 10_000 not in s.field_values([10_000], "lang")
    with pytest.raises(ValueError, match="unknown field"):
        s.field_values(ids, "nope")


def test_collapse_http(planted_meta):
    root, corpus_path, _to_src = planted_meta
    from rse_spark.query.http import SearchServer

    srv = SearchServer(root, analyzer="simple",
                       corpus_path=corpus_path,
                       key_col="src_doc_id").start()
    try:
        base = srv.address
        with urllib.request.urlopen(
            f"{base}/search?ql=alpha&collapse=lang", timeout=30
        ) as r:
            page = json.loads(r.read())
        assert page["n_results"] == 2
        assert {x["group"] for x in page["results"]} == {"python", "go"}
        # collapse + facets together is a 400
        try:
            urllib.request.urlopen(
                f"{base}/search?ql=alpha&collapse=lang&facets=lang"
            )
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # bad per_group is a 400
        try:
            urllib.request.urlopen(
                f"{base}/search?ql=alpha&collapse=lang&per_group=x"
            )
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_range_atom_parsing():
    cs = parse_ql("alpha AND dlen:2..3")
    assert cs[0].ranges == [("doc_len", 2, 3)]
    assert parse_ql("alpha AND dlen:3..")[0].ranges == [("doc_len", 3, None)]
    assert parse_ql("alpha AND dlen:..2")[0].ranges == [("doc_len", None, 2)]
    assert parse_ql("alpha AND -dlen:3..")[0].neg_ranges == [
        ("doc_len", 3, None)
    ]
    with pytest.raises(ValueError, match="at least one bound"):
        parse_ql("alpha AND dlen:..")
    with pytest.raises(ValueError, match="empty range"):
        parse_ql("alpha AND dlen:5..2")
    with pytest.raises(ValueError, match="only negative/filter"):
        parse_ql("dlen:2..3")
    with pytest.raises(ValueError, match="boost on a range"):
        parse_ql("alpha AND dlen:1..2^2")
    # anything not in the range-field set stays a term atom
    assert parse_ql("alpha AND size:2..3")[0].ranges == []


def test_range_atom_semantics(planted):
    """dlen:lo..hi restricts qualification by doc length without
    touching scores; negation excludes the band."""
    root, _corpus_path, to_src = planted
    s = DirectSearcher(root, analyzer="simple")

    # alpha docs: src 0 (len 3), 1 (len 2), 5 (len 3)
    hits = search_ql(s, "alpha AND dlen:3..")
    assert sorted(to_src[d] for d, _s, _m in hits) == [0, 5]
    hits = search_ql(s, "alpha AND -dlen:3..")
    assert [to_src[d] for d, _s, _m in hits] == [1]
    assert search_ql(s, "alpha AND dlen:9..") == []

    # the filter never changes a surviving doc's score
    base = {d: sc for d, sc, _m in search_ql(s, "alpha", k=10)}
    for d, sc, _m in search_ql(s, "alpha AND dlen:3..", k=10):
        assert abs(sc - base[d]) < 1e-12

    with pytest.raises(ValueError, match="not numeric"):
        s.meta_range_docs("content_sha256", 1, 2)
    with pytest.raises(ValueError, match="unknown metadata field"):
        s.meta_range_docs("nope", 1, 2)


def test_range_atom_http(planted):
    root, _corpus_path, _to_src = planted
    from rse_spark.query.http import SearchServer

    srv = SearchServer(root, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?ql=alpha+AND+dlen:3..&k=10", timeout=10
        ) as resp:
            body = json.load(resp)
        hits = search_ql(srv.searcher, "alpha AND dlen:3..", k=10)
        assert [r["doc_id"] for r in body["results"]] == [
            d for d, _s, _m in hits
        ]
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"{srv.address}/search?ql=alpha+AND+dlen:..", timeout=10
            )
        assert ei.value.code == 400
    finally:
        srv.stop()


def test_wildcard_atom_parses_to_regex():
    from rse_spark.query.qlang import parse_ql

    cl = parse_ql("te?t AND fil*er")[0]
    assert cl.regexes == ["te.t", "fil.*er"]
    assert cl.terms == []
    # trailing-only * stays the cheaper prefix atom
    cl2 = parse_ql("pars*")[0]
    assert cl2.prefixes == ["pars"] and cl2.regexes == []
    # negation + boost ride the regex machinery
    cl3 = parse_ql("sort AND -te?t")[0]
    assert cl3.neg_regexes == ["te.t"]
    cl4 = parse_ql("w?rd^2")[0]
    assert cl4.regexes == ["w.rd"] and cl4.regex_boosts == [2.0]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unbounded"):
        parse_ql("sort AND *?")


def test_phrase_prefix_atom_parse():
    import pytest as _pytest

    from rse_spark.query.qlang import parse_ql

    cl = parse_ql('"merge jo*" AND fast')[0]
    assert cl.phrase_prefixes == ["merge jo"]
    assert cl.phrases == [] and cl.terms == ["fast"]
    cl2 = parse_ql('sort AND -"merge jo*"')[0]
    assert cl2.neg_phrase_prefixes == ["merge jo"]
    cl3 = parse_ql('"merge jo*"^2')[0]
    assert cl3.phrase_prefix_boosts == [2.0]
    with _pytest.raises(ValueError, match="slop"):
        parse_ql('"merge jo*"~2')
    with _pytest.raises(ValueError, match="phrase-prefix"):
        parse_ql('"*"')


@pytest.fixture(scope="module")
def planted_pos(spark, tmp_path_factory):
    """Same planted corpus, index CREATED with stored positions (the
    sidecar the phrase-prefix atom needs)."""
    from rse_spark.streaming.stream_index import append_batch

    base = tmp_path_factory.mktemp("qlang_pos")
    corpus_path = str(base / "corpus.parquet")
    pd.DataFrame(ROWS, columns=["doc_id", "text"]).to_parquet(corpus_path)
    root = str(base / "idx")
    docs = spark.read.parquet(corpus_path)
    append_batch(spark, docs, root, analyzer="simple",
                 content_col="text", batch_id=0, with_positions=True)
    to_src = {
        int(r["doc_id"]): int(r["src_doc_id"])
        for r in spark.read.parquet(f"{root}/enriched")
        .select("doc_id", "src_doc_id").collect()
    }
    return root, corpus_path, to_src


def test_phrase_prefix_atom_semantics(planted_pos):
    """'"alpha be*"' qualifies exact-adjacency docs whose next token
    starts with the prefix; ranking stays BM25 over head + expansion
    terms; negation and sidecar requirement hold."""
    root, corpus_path, to_src = planted_pos
    s = DirectSearcher(root, analyzer="simple")
    kw = dict(corpus_path=corpus_path, key_col="src_doc_id")

    assert _src_ids(
        search_ql(s, '"alpha be*"', **kw), to_src
    ) == {0}
    # one-word phrase-prefix degenerates to prefix presence
    assert _src_ids(search_ql(s, '"alph*"', **kw), to_src) \
        == _src_ids(search_ql(s, "alph*", **kw), to_src)
    # clause-scoped negation
    assert _src_ids(
        search_ql(s, 'alpha AND -"alpha be*"', **kw), to_src
    ) == {1, 5}
    # no expansion -> empty, not error
    assert search_ql(s, '"alpha zzz*"', **kw) == []


def test_phrase_atom_and_terms_sorted_hits(spark, tmp_path_factory):
    """A phrase atom ANDed with term atoms: the phrase surfaces return
    hits in count order (here the reverse of doc order), match_ql
    sorts them once, and the clause's sorted-list merges — including
    the binary-search branch, a 1-doc term set against 20 phrase
    hits — qualify exactly the right docs, through the positional
    sidecar and through the content store alike."""
    import numpy as np

    from rse_spark.query.qlang import match_ql
    from rse_spark.streaming.stream_index import append_batch

    rows = [
        (i, " ".join(["xq yq"] * (i + 1))
         + (" zq" if i in (3, 11) else "") + (" wq" if i == 3 else ""))
        for i in range(20)
    ] + [(20, "zq alone")]
    base = tmp_path_factory.mktemp("qlang_phrase_and")
    corpus_path = str(base / "corpus.parquet")
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(corpus_path)
    root = str(base / "idx")
    append_batch(spark, spark.read.parquet(corpus_path), root,
                 analyzer="simple", content_col="text", batch_id=0,
                 with_positions=True)
    to_src = {
        int(r["doc_id"]): int(r["src_doc_id"])
        for r in spark.read.parquet(f"{root}/enriched")
        .select("doc_id", "src_doc_id").collect()
    }
    s = DirectSearcher(root, analyzer="simple")
    ph = [d for d, _n in s.phrase_search_positions("xq yq", k=100)]
    assert len(ph) == 20 and ph != sorted(ph)
    for kw in ({}, dict(corpus_path=corpus_path, key_col="src_doc_id")):
        for q, want in (('"xq yq"', set(range(20))),
                        ('"xq yq" AND zq', {3, 11}),
                        ('"xq yq" AND wq', {3}),
                        ('"xq yq" AND zq AND wq', {3}),
                        ('"xq yq" AND -zq AND xq', set(range(20)) - {3, 11}),
                        ('"xq yq" AND wq OR zq', {3, 11, 20})):
            qualified, _boosts = match_ql(s, q, **kw)
            assert (np.diff(qualified) > 0).all(), q
            assert {to_src[int(d)] for d in qualified} == want, (q, kw)
            assert _src_ids(search_ql(s, q, k=50, **kw), to_src) == want


def test_phrase_prefix_atom_needs_sidecar(planted):
    root, corpus_path, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="sidecar"):
        search_ql(s, '"alpha be*"', corpus_path=corpus_path,
                  key_col="src_doc_id")


def test_search_ql_fvf(planted):
    """fvf rides the ql scoring pass: same qualified set, scores
    reshaped by ln(1+dl) BEFORE top-k — equals manually reshaping a
    full unshaped ql page."""
    import math

    from rse_spark.index.codec import decode_postings

    root, _corpus, _to_src = planted
    s = DirectSearcher(root, analyzer="simple")
    q = "alpha OR beta"
    plain = search_ql(s, q, k=s.n_docs)
    assert plain
    dl = {}
    for t in ("alpha", "beta"):
        info = s.term_dict.get(t)
        if not info:
            continue
        for row in s._bucket_rows(info[1], t):
            ids, _tfs, dls = decode_postings(bytes(row["payload"]))
            dl.update(zip(ids.tolist(), dls.tolist()))
    expect = sorted(
        ((d, sc * math.log1p(dl[d]), m) for d, sc, m in plain),
        key=lambda r: (-r[1], r[0]),
    )[:10]
    shaped = search_ql(s, q, k=10, fvf="ln1p_dlen")
    assert [r[0] for r in shaped] == [r[0] for r in expect]
    for (d1, s1, m1), (d2, s2, m2) in zip(shaped, expect):
        assert abs(s1 - s2) < 1e-9 and m1 == m2
    # docs of different lengths qualify, so the factor is non-constant
    assert len({dl[d] for d, _s, _m in plain}) > 1
