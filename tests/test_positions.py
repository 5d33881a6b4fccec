"""Positional sidecar index (index/positions.py) + the positional
phrase paths: codec round-trip, build, serving equivalence with the
content-verify path, and the declarative positional join."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rse_spark.index.positions import (
    build_positions,
    decode_position_list,
    encode_position_list,
)
from rse_spark.query.serve import DirectSearcher

DOCS = "/root/testdata/sf0.001/documents.parquet"


def test_position_codec_round_trip():
    rng = np.random.default_rng(11)
    for _ in range(25):
        n = int(rng.integers(1, 40))
        doc_ids = np.sort(
            rng.choice(100_000, size=n, replace=False)
        ).astype(np.int64)
        lens = rng.integers(1, 12, size=n).astype(np.int64)
        flat = np.concatenate([
            np.sort(rng.choice(5_000, size=int(k), replace=False))
            for k in lens
        ]).astype(np.int64)
        dp, pp = encode_position_list(doc_ids, lens, flat)
        d2, l2, f2 = decode_position_list(dp, pp)
        assert (d2 == doc_ids).all()
        assert (l2 == lens).all()
        assert (f2 == flat).all()
    # empty list
    dp, pp = encode_position_list(
        np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
    )
    d2, l2, f2 = decode_position_list(dp, pp)
    assert len(d2) == 0 and len(f2) == 0


def test_position_codec_rejects_bad_input():
    with pytest.raises(ValueError):
        encode_position_list(
            np.array([5, 3]), np.array([1, 1]), np.array([0, 0])
        )
    with pytest.raises(ValueError):
        encode_position_list(
            np.array([1]), np.array([2]), np.array([3])  # len mismatch
        )


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """Pre-keyed build (index ids == corpus ids) + positional sidecar."""
    from rse_spark.index.storage import build_resumable

    root = str(tmp_path_factory.mktemp("pos_idx"))
    corpus = spark.read.parquet(DOCS)
    build_resumable(
        spark, corpus, root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4,
    )
    build_positions(
        spark, corpus, root, analyzer="simple", content_col="text",
    )
    return root


def test_positions_manifest_unit(spark, pos_index):
    from rse_spark.index.storage import IndexStorage

    done = IndexStorage(pos_index).completed_units()
    assert "positions" in done
    assert done["positions"]["analyzer"] == "simple"


def test_phrase_positions_equivalence(spark, pos_index):
    """Positional phrase == content-verify phrase on every probe (the
    simple analyzer's token positions ARE whitespace positions)."""
    s = DirectSearcher(pos_index, analyzer="simple")
    for phrase in ("value table part", "the data", "merge join",
                   "table scan", "data data", "zz absent phrase"):
        via_pos = s.phrase_search_positions(phrase, k=50)
        via_content = s.phrase_search(phrase, DOCS, k=50,
                                      content_col="text")
        assert via_pos == via_content, phrase
    # probes must actually match something at this scale
    assert len(s.phrase_search_positions("the data", k=50)) >= 10


def test_phrase_positions_counts_multi_occurrence(spark, tmp_path):
    from rse_spark.index.storage import build_resumable

    root = str(tmp_path / "idx")
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "a b a b a b",          # "a b" x3
            "a a a a",              # "a a" x3 (overlapping)
            "b a b",                # "a b" x1
            "c d e",
        ],
    })
    corpus = spark.createDataFrame(pdf)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("a b") == [(0, 3), (2, 1)]
    assert s.phrase_search_positions("a a") == [(1, 3)]
    assert s.phrase_search_positions("a b a") == [(0, 2)]
    assert s.phrase_search_positions("c d e") == [(3, 1)]
    assert s.phrase_search_positions("b c") == []
    # an index without the sidecar raises
    root2 = str(tmp_path / "idx_nopos")
    build_resumable(spark, corpus, root2, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    s3 = DirectSearcher(root2, analyzer="simple")
    with pytest.raises(ValueError, match="sidecar"):
        s3.phrase_search_positions("a b")


def test_phrase_positions_stream_grown(spark, tmp_path):
    """src_doc_id bridge: positions built over a stream-grown index
    whose ids differ from the corpus ids."""
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path / "idx")
    docs = spark.read.parquet(DOCS)
    for i, (lo, hi) in enumerate([(0, 100), (100, 200)]):
        append_batch(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
        )
    build_positions(spark, docs.filter(F.col("doc_id") < 200), root,
                    analyzer="simple", content_col="text")
    s = DirectSearcher(root, analyzer="simple")
    via_pos = s.phrase_search_positions("the data", k=50)
    via_content = s.phrase_search("the data", DOCS, k=50,
                                  content_col="text",
                                  key_col="src_doc_id")
    assert via_pos == via_content
    assert via_pos  # non-empty on this corpus


def test_http_positions_surface(spark, pos_index):
    """?pos=1 forces the sidecar; a server with NO content store can
    still answer ?phrase= (and ?ql= phrase atoms) through it."""
    import json
    import urllib.error
    import urllib.request

    from rse_spark.query.http import SearchServer

    srv = SearchServer(pos_index, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?phrase=the+data&k=5", timeout=30
        ) as r:
            body = json.load(r)
        assert body["algo"] == "positions"
        assert body["n_results"] == 5
        # ql phrase atom without a content store
        with urllib.request.urlopen(
            srv.address + '/search?ql=%22the+data%22&k=5', timeout=30
        ) as r:
            assert json.load(r)["n_results"] == 5
    finally:
        srv.stop()
    # content-store server: default content_verify, ?pos=1 overrides
    srv = SearchServer(
        pos_index, analyzer="simple", corpus_path=DOCS,
    ).start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?phrase=the+data&k=5", timeout=30
        ) as r:
            a = json.load(r)
        assert a["algo"] == "content_verify"
        with urllib.request.urlopen(
            f"{srv.address}/search?phrase=the+data&k=5&pos=1",
            timeout=30,
        ) as r:
            b = json.load(r)
        assert b["algo"] == "positions"
        assert a["results"] == b["results"]
    finally:
        srv.stop()


def test_near_search_counts(spark, tmp_path):
    """Ordered proximity over the sidecar: planted pair counts."""
    from rse_spark.index.storage import build_resumable

    root = str(tmp_path / "idx")
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "a x x b",        # gap 3
            "a b x a x b",    # pairs: (0,1),(0,5),(3,5) gaps 1,5,2
            "b x a",          # wrong order only
            "a x x x x x b",  # gap 6
        ],
    })
    corpus = spark.createDataFrame(pdf)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    s = DirectSearcher(root, analyzer="simple")
    assert s.near_search_positions("a", "b", 3) == [(1, 2), (0, 1)]
    assert s.near_search_positions("a", "b", 5) == [(1, 3), (0, 1)]
    assert s.near_search_positions("a", "b", 6) == [(1, 3), (0, 1), (3, 1)]
    assert s.near_search_positions("b", "a", 2) == [(1, 1), (2, 1)]
    assert s.near_search_positions("a", "zzz", 3) == []
    with pytest.raises(ValueError, match="max_dist"):
        s.near_search_positions("a", "b", 0)
    with pytest.raises(ValueError, match="one token"):
        s.near_search_positions("a b", "c", 3)


def test_position_key_cache(spark, pos_index):
    """Decoded key arrays are memoized (LRU, byte-budgeted) and
    invalidated by the generation check."""
    from rse_spark.index.storage import IndexStorage

    s = DirectSearcher(pos_index, analyzer="simple")
    r1 = s.phrase_search_positions("the data", k=5)
    assert len(s._pos_slots) >= 2  # 'the' and 'data' cached
    assert s.phrase_search_positions("the data", k=5) == r1  # hit path
    # eviction under a tiny budget keeps at least the newest entry
    s.max_pos_bytes = 1
    s.near_search_positions("merge", "join", 5, k=5)
    assert len(s._pos_slots) == 1
    # a writer commit clears the cache via the generation check
    s.max_pos_bytes = 256 << 20
    s.phrase_search_positions("the data", k=5)
    assert len(s._pos_slots) >= 1
    IndexStorage(pos_index).bump_generation()
    s.search("the", k=1)  # any query path runs the generation check
    assert len(s._pos_slots) == 0


def test_near_search_matches_declarative(spark, pos_index):
    from rse_spark.query.textmatch import proximity_match

    s = DirectSearcher(pos_index, analyzer="simple")
    via_serve = s.near_search_positions("merge", "join", 5,
                                        k=10_000)
    docs = spark.read.parquet(DOCS)
    via_spark = sorted(
        ((r["doc_id"], r["n_pairs"])
         for r in proximity_match(docs, "merge", "join", 5,
                                  content_col="text").collect()),
        key=lambda r: (-r[1], r[0]),
    )
    assert via_serve == via_spark
    assert via_serve  # non-empty at this scale


def test_http_near(spark, pos_index):
    import json
    import urllib.request

    from rse_spark.query.http import SearchServer

    srv = SearchServer(pos_index, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?near=merge,join&dist=5&k=3",
            timeout=30,
        ) as r:
            body = json.load(r)
        assert body["n_results"] == 3
        assert all(r["n_pairs"] >= 1 for r in body["results"])
        import urllib.error
        try:
            urllib.request.urlopen(
                f"{srv.address}/search?near=only_one", timeout=10
            )
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_phrase_slop_chain_and_qlang(spark, tmp_path):
    """``"…"~N`` slop atoms: in-order match with up to N extra tokens
    between successive words, resolved on the positional sidecar."""
    import numpy as np

    from rse_spark.index.storage import build_resumable
    from rse_spark.query.qlang import parse_ql, search_ql

    cs = parse_ql('"a b"~2 AND c')
    assert cs[0].phrases == ["a b"] and cs[0].slops == [2]
    assert cs[0].terms == ["c"]
    assert parse_ql('"a b"')[0].slops == [0]
    with pytest.raises(ValueError, match="slop"):
        parse_ql('"a b"~x')

    root = str(tmp_path / "idx")
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "a b z",
            "a x b z",
            "a x x b z",
            "b a z",
        ],
    })
    corpus = spark.createDataFrame(pdf)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_chain_docs("a b", max_gap=1).tolist() == [0]
    assert s.phrase_chain_docs("a b", max_gap=2).tolist() == [0, 1]
    assert s.phrase_chain_docs("a b", max_gap=3).tolist() == [0, 1, 2]
    with pytest.raises(ValueError, match="max_gap"):
        s.phrase_chain_docs("a b", max_gap=0)

    def docs(hits):
        return sorted(d for d, _s, _m in hits)

    assert docs(search_ql(s, '"a b"')) == [0]
    assert docs(search_ql(s, '"a b"~1')) == [0, 1]
    assert docs(search_ql(s, '"a b"~2')) == [0, 1, 2]
    assert docs(search_ql(s, '"a b"~2 AND z')) == [0, 1, 2]
    # 3-word chain: each successive gap bounded independently
    pdf2 = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["p q r", "p x q x r"],
    })
    root2 = str(tmp_path / "idx2")
    c2 = spark.createDataFrame(pdf2)
    build_resumable(spark, c2, root2, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, c2, root2, analyzer="simple",
                    content_col="text")
    s2 = DirectSearcher(root2, analyzer="simple")
    assert s2.phrase_chain_docs("p q r", max_gap=1).tolist() == [0]
    assert s2.phrase_chain_docs("p q r", max_gap=2).tolist() == [0, 1]


def test_phrase_slop_requires_sidecar(spark, tmp_path):
    from rse_spark.index.storage import build_resumable
    from rse_spark.query.qlang import search_ql

    root = str(tmp_path / "idx")
    corpus_path = str(tmp_path / "c.parquet")
    pd.DataFrame({"doc_id": [0], "text": ["a x b"]}).to_parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="positional sidecar"):
        search_ql(s, '"a b"~1', corpus_path=corpus_path)


def test_positions_mutation_lifecycle(spark, tmp_path):
    """The sidecar stays truthful under index mutation: appends make
    it fail LOUDLY until incrementally extended; group-rewriting
    writers (compaction, delete) drop it outright."""
    import os

    from rse_spark.index.compact import compact_groups
    from rse_spark.index.storage import IndexStorage
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path / "idx")
    docs = spark.read.parquet(DOCS)
    for i, (lo, hi) in enumerate([(0, 80), (80, 150)]):
        append_batch(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
        )
    sub = docs.filter(F.col("doc_id") < 150)
    n = build_positions(spark, sub, root, analyzer="simple",
                        content_col="text")
    assert n >= 2
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("the data", k=5)

    # 1. append WITHOUT maintenance -> coverage check must fail loudly
    append_batch(
        spark,
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 220)),
        root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, batch_id=2,
        maintain_positions=False,
    )
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="incomplete"):
        s.phrase_search_positions("the data", k=5)

    # 2. incremental extension builds ONLY the missing groups
    pos_root = os.path.join(root, "positions")
    old_dir = sorted(
        p for p in os.listdir(pos_root) if p.startswith("seg_group=")
    )[0]
    mtime0 = os.path.getmtime(os.path.join(pos_root, old_dir))
    full = docs.filter(F.col("doc_id") < 220)
    built = build_positions(spark, full, root, analyzer="simple",
                            content_col="text", only_missing=True)
    assert built >= 1
    assert os.path.getmtime(os.path.join(pos_root, old_dir)) == mtime0
    # nothing more to do -> 0
    assert build_positions(spark, full, root, analyzer="simple",
                           content_col="text", only_missing=True) == 0
    s = DirectSearcher(root, analyzer="simple")
    via_pos = s.phrase_search_positions("the data", k=50)
    via_content = s.phrase_search("the data", DOCS, k=50,
                                  content_col="text",
                                  key_col="src_doc_id")
    assert via_pos == via_content and via_pos

    # 2b. default append AUTO-maintains the sidecar: next batch is
    # immediately queryable, work ~ the batch (idempotent on replay)
    append_batch(
        spark,
        docs.filter((F.col("doc_id") >= 220) & (F.col("doc_id") < 300)),
        root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, batch_id=3,
    )
    full = docs.filter(F.col("doc_id") < 300)
    s = DirectSearcher(root, analyzer="simple")
    via_pos = s.phrase_search_positions("the data", k=50)
    assert via_pos == s.phrase_search("the data", DOCS, k=50,
                                      content_col="text",
                                      key_col="src_doc_id")

    # 3. compaction renumbers ids -> sidecar dropped, path raises
    assert compact_groups(spark, root, min_fill=0.5)["merged"] >= 2
    assert not os.path.isdir(pos_root)
    assert "positions" not in IndexStorage(root).completed_units()
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="sidecar"):
        s.phrase_search_positions("the data", k=5)

    # 4. full rebuild after compaction -> green again
    assert build_positions(spark, full, root, analyzer="simple",
                           content_col="text") >= 1
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("the data", k=50) == \
        s.phrase_search("the data", DOCS, k=50, content_col="text",
                        key_col="src_doc_id")


def test_positions_dropped_on_delete(spark, tmp_path):
    from rse_spark.index.storage import IndexStorage, build_resumable
    from rse_spark.index.upsert import delete_docs

    root = str(tmp_path / "idx")
    corpus = spark.read.parquet(DOCS)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("the data", k=5)
    dead = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2]}))
    assert delete_docs(spark, root, dead) == 3
    assert "positions" not in IndexStorage(root).completed_units()
    s = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match="sidecar"):
        s.phrase_search_positions("the data", k=5)


def test_declarative_positional_join_matches_scan(spark):
    """textmatch.phrase_match_positions == textmatch.phrase_match."""
    from rse_spark.query.textmatch import (
        phrase_match,
        phrase_match_positions,
    )

    docs = spark.read.parquet(DOCS)
    for phrase in ("value table part", "merge join", "data data"):
        a = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_match_positions(
                docs, phrase, content_col="text"
            ).collect()
        )
        b = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_match(docs, phrase,
                                  content_col="text").collect()
        )
        assert a == b, phrase


def test_analyzer_mismatch_raises(spark, pos_index):
    """Sidecar built with analyzer='simple' queried through a 'code'
    searcher must ERROR, not silently return wrong/empty phrases —
    the two analyzers tokenize differently, so the defaults diverging
    (build_positions: 'simple'; DirectSearcher: 'code') was a silent
    wrong-answer trap (round-5 ADVICE #1)."""
    s = DirectSearcher(pos_index, analyzer="code")
    with pytest.raises(ValueError, match="analyzer"):
        s.phrase_search_positions("the data", k=5)
    with pytest.raises(ValueError, match="analyzer"):
        s.near_search_positions("merge", "join", 5, k=5)


def test_positions_coverage_memo(pos_index, tmp_path):
    """The coverage check runs once per index generation: a passed
    check holds until a manifest commit, a failed one is never kept,
    and an index without a GENERATION file is checked every query."""
    import shutil

    from rse_spark.index.storage import IndexStorage

    root = str(tmp_path / "idx")
    shutil.copytree(pos_index, root)
    group = sorted(
        p for p in os.listdir(os.path.join(root, "positions"))
        if p.startswith("seg_group=")
    )[0]
    gdir = os.path.join(root, "positions", group)
    parked = str(tmp_path / "parked")

    s = DirectSearcher(root, analyzer="simple")
    want = s.phrase_search_positions("the data", k=5)
    shutil.move(gdir, parked)  # no commit: the memo still holds
    assert s.phrase_search_positions("the data", k=5) == want
    IndexStorage(root).bump_generation()
    with pytest.raises(ValueError, match="incomplete"):
        s.phrase_search_positions("the data", k=5)
    shutil.move(parked, gdir)  # the failure was not memoized
    assert s.phrase_search_positions("the data", k=5) == want

    os.remove(os.path.join(root, "manifest", "GENERATION"))
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("the data", k=5) == want
    shutil.move(gdir, parked)
    with pytest.raises(ValueError, match="incomplete"):
        s.phrase_search_positions("the data", k=5)
    shutil.move(parked, gdir)


def test_corrupt_position_keys_raise(pos_index):
    """A sidecar that repeats an occurrence would make the merge
    intersection double-count; the slot list is rejected on load."""
    s = DirectSearcher(pos_index, analyzer="simple")
    read = s._position_payloads

    def doubled(term):
        rows = read(term)
        return rows + rows  # every occurrence listed twice

    s._position_payloads = doubled
    with pytest.raises(ValueError, match="repeats an occurrence"):
        s.phrase_search_positions("the data", k=5)
    assert not s._pos_slots  # nothing corrupt was cached


# ---------------------------------------------------------------------------
# Single-scan (folded) sidecar: positions emitted by the build's own
# tokenizer pass, stored in enriched, sidecar derived corpus-free
# (round-5 VERDICT items 1 + 2).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pos_index_folded(spark, tmp_path_factory):
    from rse_spark.index.storage import build_resumable

    root = str(tmp_path_factory.mktemp("pos_idx_folded"))
    corpus = spark.read.parquet(DOCS)
    build_resumable(
        spark, corpus, root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, with_positions=True,
    )
    return root


def test_folded_build_sidecar_from_enriched(spark, pos_index_folded):
    from rse_spark.index.storage import IndexStorage

    store = IndexStorage(pos_index_folded)
    done = store.completed_units()
    assert done["positions"]["source"] == "enriched"
    assert done["positions"]["analyzer"] == "simple"
    assert done["docs"]["layout"]["positions_in_enriched"] is True
    # the virtual docs_meta projection must not leak the position arrays
    assert "tf_positions" not in store.docs_meta(spark).columns


def test_folded_matches_corpus_scan_sidecar(spark, pos_index,
                                            pos_index_folded):
    """The from-enriched sidecar answers identically to the corpus-scan
    sidecar on the same corpus + analyzer (both indexes are pre-keyed,
    so doc ids line up exactly)."""
    s1 = DirectSearcher(pos_index, analyzer="simple")
    s2 = DirectSearcher(pos_index_folded, analyzer="simple")
    for phrase in ("the data", "merge join", "data data",
                   "zz absent phrase"):
        assert s1.phrase_search_positions(phrase, k=50) == \
            s2.phrase_search_positions(phrase, k=50), phrase
    assert s1.near_search_positions("merge", "join", 4, k=50) == \
        s2.near_search_positions("merge", "join", 4, k=50)


def test_positions_corpus_required_without_stored(spark, pos_index):
    """An index whose enriched table has no tf_positions cannot build a
    sidecar corpus-free."""
    with pytest.raises(ValueError, match="corpus required"):
        build_positions(spark, None, pos_index)


def test_enriched_analyzer_mismatch_raises(spark, pos_index_folded):
    with pytest.raises(ValueError, match="cannot derive"):
        build_positions(spark, None, pos_index_folded, analyzer="code")


def test_compact_rebuilds_positions_group_scoped(spark, tmp_path):
    import os

    from rse_spark.index.compact import compact_groups
    from rse_spark.index.storage import IndexStorage
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path / "idx")
    docs = spark.read.parquet(DOCS)
    ranges = [(0, 256), (256, 300), (300, 350), (350, 500)]
    for i, (lo, hi) in enumerate(ranges):
        append_batch(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
            with_positions=True,
        )
    s = DirectSearcher(root, analyzer="simple")
    before = s.phrase_search_positions("the data", k=100)
    assert before

    def _mtimes(g):
        d = os.path.join(root, "positions", f"seg_group={g}")
        return {
            f: os.path.getmtime(os.path.join(r, f))
            for r, _dirs, files in os.walk(d) for f in files
        }

    g0_before = _mtimes(0)
    g3_before = _mtimes(3)
    assert g0_before and g3_before
    res = compact_groups(spark, root, min_fill=0.5)
    # the 44- and 50-doc groups are sparse; 256 (full) and 150 are not
    assert res["merged"] == 2
    # sidecar survived group-scoped: phrase serving works immediately,
    # and the untouched group's position files were not rewritten
    after = s.phrase_search_positions("the data", k=100)

    def scores(hits):
        return sorted(n for _d, n in hits)

    assert scores(after) == scores(before)  # ids renumber, counts don't
    assert _mtimes(0) == g0_before
    assert _mtimes(3) == g3_before
    done = IndexStorage(root).completed_units()
    assert "positions" in done  # never dropped


def test_delete_docs_refreshes_positions_groups(spark, tmp_path):
    from rse_spark.index.storage import IndexStorage, build_resumable
    from rse_spark.index.upsert import delete_docs

    root = str(tmp_path / "idx")
    corpus = spark.read.parquet(DOCS)
    build_resumable(
        spark, corpus, root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, with_positions=True,
    )
    s = DirectSearcher(root, analyzer="simple")
    before = s.phrase_search_positions("the data", k=100)
    assert len(before) >= 3
    dead = int(before[0][0])
    n = delete_docs(
        spark, root,
        spark.createDataFrame([(dead,)], "doc_id long"),
    )
    assert n == 1
    after = s.phrase_search_positions("the data", k=100)
    assert {d for d, _n in after} == {d for d, _n in before} - {dead}
    assert "positions" in IndexStorage(root).completed_units()


def test_keyless_batch_maintains_folded_sidecar(spark, tmp_path):
    """Keyless batches used to force a sidecar drop (no id bridge to
    the corpus); the from-enriched path needs no bridge at all."""
    from rse_spark.index.storage import IndexStorage
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path / "idx")
    docs = spark.read.parquet(DOCS)
    for i, (lo, hi) in enumerate([(0, 60), (60, 150)]):
        append_batch(
            spark,
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("text"),  # keyless: content only
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
            with_positions=True,
        )
    assert "positions" in IndexStorage(root).completed_units()
    s = DirectSearcher(root, analyzer="simple")
    assert s.phrase_search_positions("the data", k=10)


def test_positions_doc_ids_beyond_2_31(spark, tmp_path):
    """Positional queries must survive doc ids past 2^31 (the old
    fixed 32/32 bit split of packed keys silently required
    doc_id < 2^31 — round-5 VERDICT item 3). Simulated as a
    stream-grown index whose id space has already consumed 2^31+ ids:
    the next batch claims a group above that, so every indexed doc id
    exceeds 2^31."""
    from rse_spark.index.storage import IndexStorage
    from rse_spark.streaming.stream_index import append_batch

    root = str(tmp_path / "idx")
    store = IndexStorage(root)
    docs_per_group = 64 * 4
    fake_g = (2 ** 31) // docs_per_group + 7
    store.mark_done(
        f"group={fake_g:06d}", seg_group=fake_g,
        doc_lo=fake_g * docs_per_group,
        doc_hi=(fake_g + 1) * docs_per_group,
        rows=0, n_postings=0, sha="",
        source_snapshot="synthetic-id-space-placeholder", wall_ms=0,
    )
    docs = spark.read.parquet(DOCS).filter(F.col("doc_id") < 120)
    append_batch(
        spark, docs, root, analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, batch_id=0,
        with_positions=True,
    )
    done = store.completed_units()
    assert done["positions"]["pos_bits"] + (2 ** 31).bit_length() <= 63
    s = DirectSearcher(root, analyzer="simple")
    hits = s.phrase_search_positions("the data", k=20)
    assert hits and all(d > 2 ** 31 for d, _n in hits)
    near = s.near_search_positions("the", "data", 3, k=20)
    assert near and all(d > 2 ** 31 for d, _n in near)
    chain = s.phrase_chain_docs("the data", max_gap=2)
    assert len(chain) and (chain > 2 ** 31).all()
    # slop/gap values beyond the reserved slack are rejected loudly
    with pytest.raises(ValueError, match="max_gap"):
        s.phrase_chain_docs("the data", max_gap=10_000)
    with pytest.raises(ValueError, match="max_dist"):
        s.near_search_positions("the", "data", 10_000)


def test_phrase_batch_index_matches_declarative(spark, pos_index_folded):
    """Batch phrase resolution from the sidecar (one Spark job, scan
    pruned to the query terms) == the declarative content-scan batch ==
    the per-phrase serving path (round-5 VERDICT item 6)."""
    from rse_spark.index.positions import phrase_batch_index
    from rse_spark.query.textmatch import phrase_match_batch

    phrases = ["the data", "merge join", "data data"]
    via_idx = {
        (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_batch_index(
            spark, pos_index_folded, phrases
        ).collect()
    }
    via_docs = {
        (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_match_batch(
            spark.read.parquet(DOCS), phrases
        ).collect()
    }
    assert via_idx and via_idx == via_docs
    s = DirectSearcher(pos_index_folded, analyzer="simple")
    for pid, ph in enumerate(phrases):
        serve_hits = dict(s.phrase_search_positions(ph, k=100_000))
        assert serve_hits == {
            d: n for (p, d), n in via_idx.items() if p == pid
        }, ph


def test_near_unordered_counts(spark, tmp_path):
    """Unordered proximity (SpanNear inOrder=false): planted counts,
    symmetry, same-term double-count parity, and the serve ==
    declarative equivalence."""
    from rse_spark.index.storage import build_resumable
    from rse_spark.query.textmatch import proximity_match

    root = str(tmp_path / "idx")
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "a x x b",        # |gap| 3
            "a b x a x b",    # pairs within 3: (0,1),(3,1),(3,5)
            "b x a",          # reverse order, |gap| 2
            "a x a",          # same-term pair, |gap| 2
        ],
    })
    corpus = spark.createDataFrame(pdf)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    s = DirectSearcher(root, analyzer="simple")

    # ordered misses doc 2; unordered finds it
    assert s.near_search_positions("a", "b", 3) == [(1, 2), (0, 1)]
    got = s.near_search_positions("a", "b", 3, ordered=False)
    assert got == [(1, 3), (0, 1), (2, 1)]
    # symmetric in the operands
    assert s.near_search_positions("b", "a", 3, ordered=False) == got
    # same-term proximity: each unordered pair counted from both
    # sides (declarative join parity), self-pairs dropped
    assert s.near_search_positions("a", "a", 3, ordered=False) == [
        (1, 2), (3, 2),
    ]

    # serve == declarative on every planted doc
    for w1, w2 in (("a", "b"), ("a", "a")):
        via_spark = sorted(
            ((r["doc_id"], r["n_pairs"])
             for r in proximity_match(corpus, w1, w2, 3,
                                      content_col="text",
                                      ordered=False).collect()),
            key=lambda r: (-r[1], r[0]),
        )
        assert s.near_search_positions(
            w1, w2, 3, k=100, ordered=False
        ) == via_spark


def test_http_near_unordered(spark, pos_index):
    """?near=w1,w2&ordered=0 runs SpanNear inOrder=false and echoes
    the flag; default stays ordered."""
    import json
    import urllib.request

    from rse_spark.query.http import SearchServer

    srv = SearchServer(pos_index, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?near=join,merge&dist=4&ordered=0",
            timeout=30,
        ) as r:
            body = json.load(r)
        assert body["ordered"] is False
        hits = srv.searcher.near_search_positions(
            "join", "merge", 4, k=10, ordered=False
        )
        assert [(h["doc_id"], h["n_pairs"]) for h in body["results"]] \
            == [(d, n) for d, n in hits]
        with urllib.request.urlopen(
            f"{srv.address}/search?near=join,merge&dist=4", timeout=30
        ) as r:
            assert json.load(r)["ordered"] is True
    finally:
        srv.stop()


def test_search_rescored_semantics(spark, pos_index):
    """Rescoring (ES rescore / Lucene QueryRescorer) == brute-force
    reference built from the two INDEPENDENT primitives: plain BM25
    top-window + the content-verify phrase counter."""
    s = DirectSearcher(pos_index, analyzer="simple")
    q, phrase, window, w = "spark join filter", "the data", 50, 2.0
    base = s.search(q, k=window)
    counts = dict(
        s.phrase_search(phrase, DOCS, k=10**6, content_col="text")
    )
    expected = sorted(
        (
            (d, sc + w * counts.get(d, 0), m, counts.get(d, 0))
            for d, sc, m in base
        ),
        key=lambda r: (-r[1], r[0]),
    )[:10]
    got = s.search_rescored(q, phrase, k=10, window=window, weight=w)
    assert [(d, m, n) for d, _sc, m, n in got] == [
        (d, m, n) for d, _sc, m, n in expected
    ]
    for (_, sg, _, _), (_, se, _, _) in zip(got, expected):
        assert abs(sg - se) < 1e-9
    # the phrase actually re-ranks at this scale: some returned doc
    # carries an occurrence
    assert any(n > 0 for _, _, _, n in got)
    # weight=0 degenerates to plain BM25 (same docs, same scores)
    plain = s.search(q, k=10)
    zero = s.search_rescored(q, phrase, k=10, window=window, weight=0.0)
    assert [(d, sc, m) for d, sc, m, _n in zero] == plain


def test_search_rescored_validation(spark, pos_index):
    s = DirectSearcher(pos_index, analyzer="simple")
    with pytest.raises(ValueError, match="window"):
        s.search_rescored("spark", "the data", k=10, window=5)
    with pytest.raises(ValueError, match="weight"):
        s.search_rescored("spark", "the data", weight=-1.0)
    with pytest.raises(ValueError, match="indexable"):
        s.search_rescored("spark", "", k=5)


def test_http_rescore(spark, pos_index):
    """?q=&rescore= — window rescoring over HTTP mirrors the serving
    tier; bad parameters are 400s."""
    import json
    import urllib.error
    import urllib.request

    from rse_spark.query.http import SearchServer

    srv = SearchServer(pos_index, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?q=spark+join&rescore=the+data"
            f"&k=5&window=30&rescore_w=1.5",
            timeout=30,
        ) as r:
            body = json.load(r)
        direct = srv.searcher.search_rescored(
            "spark join", "the data", k=5, window=30, weight=1.5
        )
        assert [
            (h["doc_id"], h["n_terms_matched"], h["n_occurrences"])
            for h in body["results"]
        ] == [(d, m, n) for d, _sc, m, n in direct]
        assert body["window"] == 30 and body["rescore_w"] == 1.5
        for e in (
            "?q=spark&rescore=the+data&window=abc",
            "?q=spark&rescore=the+data&k=10&window=5",
        ):
            try:
                urllib.request.urlopen(
                    f"{srv.address}/search{e}", timeout=30
                )
                raise AssertionError("expected HTTP 400")
            except urllib.error.HTTPError as err:
                assert err.code == 400
    finally:
        srv.stop()


def test_span_first_search(spark, pos_index):
    """SpanFirstQuery == brute-force lead-window count over content."""
    import pyarrow.parquet as pq

    s = DirectSearcher(pos_index, analyzer="simple")
    tbl = pq.read_table(DOCS, columns=["doc_id", "text"])
    want: dict[int, int] = {}
    for d, txt in zip(tbl["doc_id"].to_pylist(),
                      tbl["text"].to_pylist()):
        n = sum(1 for t in txt.split()[:5] if t == "the")
        if n:
            want[int(d)] = n
    got = s.span_first_search("the", 5, k=10**6)
    assert dict(got) == want
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))
    # a word never in the lead window
    assert all(
        n <= 5 for _d, n in s.span_first_search("the", 5, k=10**6)
    )
    with pytest.raises(ValueError, match="end"):
        s.span_first_search("the", 0)
    with pytest.raises(ValueError, match="one word"):
        s.span_first_search("the data", 5)


def test_phrase_prefix_search(spark, pos_index):
    """match_phrase_prefix == brute-force adjacency with a prefix
    last word over content."""
    import pyarrow.parquet as pq

    s = DirectSearcher(pos_index, analyzer="simple")
    tbl = pq.read_table(DOCS, columns=["doc_id", "text"])
    want: dict[int, int] = {}
    for d, txt in zip(tbl["doc_id"].to_pylist(),
                      tbl["text"].to_pylist()):
        toks = txt.split()
        n = sum(
            1 for i in range(len(toks) - 1)
            if toks[i] == "the" and toks[i + 1].startswith("da")
        )
        if n:
            want[int(d)] = n
    got = s.phrase_prefix_search("the da", k=10**6)
    assert dict(got) == want and want, "probe must match docs"
    # single word degenerates to prefix presence counting
    got1 = s.phrase_prefix_search("da", k=10**6)
    want1: dict[int, int] = {}
    for d, txt in zip(tbl["doc_id"].to_pylist(),
                      tbl["text"].to_pylist()):
        n = sum(1 for t in txt.split() if t.startswith("da"))
        if n:
            want1[int(d)] = n
    assert dict(got1) == want1
    assert s.phrase_prefix_search("the zzznope") == []
    with pytest.raises(ValueError, match="empty"):
        s.phrase_prefix_search("   ")


def _by_count(rows):
    return sorted(
        ((int(r["doc_id"]), int(r["n_occurrences"])) for r in rows),
        key=lambda r: (-r[1], r[0]),
    )


def test_span_first_matches_declarative(spark, pos_index):
    from rse_spark import harness

    s = DirectSearcher(pos_index, analyzer="simple")
    want = _by_count(
        harness.q_span_first(spark, os.path.dirname(DOCS)).collect()
    )
    assert want, "probe must match docs"
    assert s.span_first_search(
        harness.SPAN_WORD, harness.SPAN_END, k=10**6
    ) == want
    assert s.span_first_search(
        harness.SPAN_WORD, harness.SPAN_END, k=5
    ) == want[:5]


def test_phrase_prefix_matches_declarative(spark, pos_index):
    from rse_spark import harness

    s = DirectSearcher(pos_index, analyzer="simple")
    want = _by_count(
        harness.q_phrase_prefix(spark, os.path.dirname(DOCS)).collect()
    )
    assert want, "probe must match docs"
    got = s.phrase_prefix_search(
        harness.PHRASE_PREFIX_Q, k=10**6,
        max_expansions=harness.PREFIX_MAX_TERMS,
    )
    assert got == want
    assert s.phrase_prefix_search(harness.PHRASE_PREFIX_Q, k=5) == want[:5]


def test_search_rescored_matches_declarative(spark, pos_index):
    from rse_spark import harness

    s = DirectSearcher(pos_index, analyzer="simple")
    want = harness.q_rescore_bm25(spark, os.path.dirname(DOCS)).collect()
    got = s.search_rescored(
        " ".join(harness.BM25_TERMS), harness.RESCORE_PHRASE, k=10,
        window=harness.RESCORE_WINDOW, weight=harness.RESCORE_W,
    )
    assert [(d, m, n) for d, _s, m, n in got] == [
        (int(r["doc_id"]), int(r["n_terms_matched"]),
         int(r["n_occurrences"]))
        for r in want
    ]
    for (_d, sc, _m, _n), r in zip(got, want):
        assert abs(sc - float(r["score"])) < 1e-5
    assert any(n > 0 for *_x, n in got), "the phrase must re-rank"


def test_http_span_first_and_phrase_prefix(spark, pos_index):
    import json
    import urllib.error
    import urllib.request

    from rse_spark.query.http import SearchServer

    srv = SearchServer(pos_index, analyzer="simple").start()
    try:
        with urllib.request.urlopen(
            f"{srv.address}/search?span_first=the&end=5&k=5",
            timeout=30,
        ) as r:
            body = json.load(r)
        direct = srv.searcher.span_first_search("the", 5, k=5)
        assert [
            (h["doc_id"], h["n_occurrences"]) for h in body["results"]
        ] == direct
        with urllib.request.urlopen(
            f"{srv.address}/search?phrase_prefix=the+da&k=5",
            timeout=30,
        ) as r:
            body2 = json.load(r)
        direct2 = srv.searcher.phrase_prefix_search("the da", k=5)
        assert [
            (h["doc_id"], h["n_occurrences"])
            for h in body2["results"]
        ] == direct2
        for bad in ("span_first=the&end=0", "span_first=the+data",
                    "span_first=the&phrase_prefix=x"):
            try:
                urllib.request.urlopen(
                    f"{srv.address}/search?{bad}", timeout=30
                )
                raise AssertionError("expected HTTP 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.stop()
