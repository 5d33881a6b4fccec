"""What a serving replica holds (query/serve.py): decoded term lists at
13 to 16 bytes per posting, with doc lengths read from one per-generation
table (``kernel._DocLens``) that every index writer keeps equal to the
postings' own, and byte budgets that charge those lists to the cache
entry whose rows carry them."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_compact import DOCS  # the sf0.001 test corpus

from rse_spark.index.codec import decode_postings
from rse_spark.query.serve import DirectSearcher


def _assert_lengths_match(s: DirectSearcher) -> None:
    """Every term's payload doc lengths equal the generation's table;
    every decoded list has int32 ids, tfs in the narrowest unsigned
    dtype that holds its largest tf, and is read-only."""
    s._check_generation()
    lens = s._doc_lens()
    n = 0
    for t, (_df, bucket) in s.term_dict.items():
        for row in s._bucket_rows(bucket, t):
            docs, _tfs, dls = decode_postings(row["payload"])
            assert np.array_equal(lens.of(docs), dls), t
            n += len(docs)
        pl = s._term_list(t)
        top = int(pl.tfs.max()) if len(pl.tfs) else 0
        narrow = np.uint8 if top < 1 << 8 else np.uint16
        assert (pl.docs.dtype, pl.tfs.dtype) == (np.int32, narrow), t
        for a in (pl.docs, pl.tfs, pl.impacts):
            assert not a.flags.writeable
    assert n


def test_doc_lengths_match_postings_across_writers(spark, tmp_path_factory):
    """Fresh batch build, stream-grown layout, a live replica across an
    upsert's generation bump, and the same replica after compaction
    (which re-ids docs): the table and the postings agree everywhere."""
    from rse_spark.index.compact import compact_groups
    from rse_spark.index.storage import build_resumable
    from rse_spark.index.upsert import upsert_docs
    from rse_spark.streaming.stream_index import append_batch

    docs = spark.read.parquet(DOCS)
    fresh = str(tmp_path_factory.mktemp("lens_fresh"))
    build_resumable(spark, docs.filter(F.col("doc_id") < 150), fresh,
                    analyzer="simple", content_col="text",
                    docs_per_segment=64, segments_per_group=2)
    _assert_lengths_match(DirectSearcher(fresh, analyzer="simple"))

    root = str(tmp_path_factory.mktemp("lens_stream"))
    for i, (lo, hi) in enumerate([(0, 80), (80, 150), (150, 210)]):
        append_batch(
            spark, docs.filter((F.col("doc_id") >= lo)
                               & (F.col("doc_id") < hi)),
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
        )
    live = DirectSearcher(root, analyzer="simple")
    _assert_lengths_match(live)
    old = live._doc_lens()

    # the upserted doc changes length: the live replica must read the
    # new generation's table, not its memoized one
    updates = docs.filter(F.col("doc_id") == 7).withColumn(
        "text", F.lit("zzzfresh join table join table join"))
    assert upsert_docs(spark, updates, root, key=("src_doc_id",),
                       analyzer="simple", content_col="text") == (1, 1)
    _assert_lengths_match(live)
    assert live._doc_lens() is not old
    new_id = int(live.term_docs("zzzfresh")[0])
    assert live._doc_lens().of(np.array([new_id])).tolist() == [6]

    assert compact_groups(spark, root, min_fill=0.5)["merged"] >= 2
    _assert_lengths_match(live)
    assert live.search("zzzfresh join", k=5) == \
        DirectSearcher(root, analyzer="simple").search("zzzfresh join", k=5)


def test_commit_between_rows_and_lengths_is_retried(spark, tmp_path):
    """A writer commits after a query read a term's rows and before the
    replica read the doc-length table, so the two come from different
    generations: the decode reloads and answers from the new generation
    instead of failing its length check, and the other generation's
    table is not memoized."""
    from rse_spark.index.upsert import upsert_docs
    from rse_spark.streaming.stream_index import append_batch
    from rse_spark.tokenizer import tokenize

    docs = spark.read.parquet(DOCS)
    root = str(tmp_path / "idx")
    append_batch(spark, docs.filter(F.col("doc_id") < 80), root,
                 analyzer="simple", content_col="text",
                 docs_per_segment=32, segments_per_group=2, batch_id=0)
    old_text = docs.filter(F.col("doc_id") == 7).first()["text"]
    word = tokenize(old_text, "simple")[0]
    s = DirectSearcher(root, analyzer="simple")
    orig = s._bucket_rows
    fired = []

    def commit_after_rows(bucket, term):
        rows = orig(bucket, term)
        if not fired:
            fired.append(term)
            s._bucket_rows = orig
            # doc 7 is re-id'd: the rows just read name its old id
            updates = docs.filter(F.col("doc_id") == 7).withColumn(
                "text", F.lit("zzzracer table"))
            assert upsert_docs(spark, updates, root, key=("src_doc_id",),
                               analyzer="simple",
                               content_col="text") == (1, 1)
            assert s._doc_lens() is not None and s._lens is None
        return rows

    s._bucket_rows = commit_after_rows
    got = s.search(word, k=10)
    assert fired == [word]
    # the query straddled the commit: its idf is the old generation's,
    # its postings the new one's, so one term ranks the new docs alike
    want = DirectSearcher(root, analyzer="simple").search(word, k=10)
    assert [d for d, _s, _n in got] == [d for d, _s, _n in want]
    assert s.search(word, k=10) == want
    _assert_lengths_match(s)


@pytest.mark.parametrize("reload", [False, True])
@pytest.mark.parametrize("surface", ["phrase", "near"])
def test_commit_inside_a_positional_query_is_retried(spark, tmp_path,
                                                     surface, reload):
    """A writer commits after a positional query read its first term's
    sidecar rows. The commit re-ids and lengthens a document, which
    shifts every later document's slots; with ``reload`` another thread
    also reloads the replica meanwhile. The query keeps one slot space,
    so the new rows do not fit it rather than pairing slots of two
    layouts: it reruns over the new generation and answers as a fresh
    replica does."""
    from rse_spark.index.upsert import upsert_docs
    from rse_spark.streaming.stream_index import append_batch

    docs = spark.read.parquet(DOCS)
    root = str(tmp_path / "idx")
    append_batch(spark, docs.filter(F.col("doc_id") < 80), root,
                 analyzer="simple", content_col="text",
                 docs_per_segment=32, segments_per_group=2, batch_id=0,
                 with_positions=True)

    def query(s):
        if surface == "phrase":
            return s.phrase_search_positions("sort group", k=10**6)
        return s.near_search_positions("sort", "group", 3, k=10**6)

    s = DirectSearcher(root, analyzer="simple")
    before = query(s)
    s._pos_slots.clear()
    s._pos_bitmaps.clear()
    s._pos_bytes = 0
    old_space = s._slot_space()
    orig = s._position_payloads
    fired = []

    def commit_after_rows(term):
        rows = orig(term)
        if not fired:
            fired.append(term)
            s._position_payloads = orig
            updates = docs.filter(F.col("doc_id") == 7).withColumn(
                "text", F.lit("sort group " * 6 + "window sort"))
            assert upsert_docs(spark, updates, root, key=("src_doc_id",),
                               analyzer="simple",
                               content_col="text") == (1, 1)
            if reload:
                s._check_generation()
        return rows

    s._position_payloads = commit_after_rows
    got = query(s)
    assert fired == ["group" if surface == "phrase" else "sort"]
    fresh = DirectSearcher(root, analyzer="simple")
    want = query(fresh)
    assert got == want and want != before
    assert s._slot_space() is not old_space
    assert np.array_equal(s._slot_space().start, fresh._slot_space().start)
    assert query(s) == want


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """A batch-built index with a positional sidecar, over 300 docs."""
    from rse_spark.index.positions import build_positions
    from rse_spark.index.storage import build_resumable

    root = str(tmp_path_factory.mktemp("budget_idx"))
    corpus = spark.read.parquet(DOCS).filter(F.col("doc_id") < 300)
    build_resumable(spark, corpus, root, analyzer="simple",
                    content_col="text", docs_per_segment=64,
                    segments_per_group=2)
    build_positions(spark, corpus, root, analyzer="simple",
                    content_col="text")
    return root


def test_docs_meta_disagreeing_with_postings_raises(pos_index, tmp_path):
    """A doc_len that disagrees with the postings' fails the first
    decode of any term in that doc, naming the term."""
    root = str(tmp_path / "idx")
    shutil.copytree(pos_index, root)
    s = DirectSearcher(root, analyzer="simple")
    assert not os.path.isdir(os.path.join(root, "docs_meta"))
    victim = None
    for f in sorted(glob.glob(os.path.join(root, "enriched", "*",
                                           "*.parquet"))):
        tbl = pq.read_table(f)
        if victim is None and tbl.num_rows:
            victim = tbl["doc_id"][0].as_py()
            term = tbl["tf_terms"][0].as_py()[0]
            i = tbl.schema.get_field_index("doc_len")
            bumped = pc.if_else(
                pc.equal(tbl["doc_id"], victim),
                pc.add(tbl["doc_len"], 1), tbl["doc_len"])
            pq.write_table(tbl.set_column(
                i, "doc_len", bumped.cast(tbl.schema.field(i).type)), f)
    assert victim is not None
    s2 = DirectSearcher(root, analyzer="simple")
    with pytest.raises(ValueError, match=f"'{term}'.*doc_len"):
        s2.search(term, k=5)
    assert s.search("the", k=3)  # a replica opened before: same check
    with pytest.raises(ValueError, match="doc_len"):
        s.search(term, k=5)


def _resident_ok(s: DirectSearcher, budget: int) -> None:
    """The resident buckets' charges are their tables plus the decoded
    lists on their rows, and fit the budget unless one bucket is left."""
    with s._meta_lock:
        assert set(b for b, _t in s._term_rows) <= set(s._bucket_tables)
        for b in s._bucket_tables:
            memos = sum(r.plist.nbytes for (rb, _t), r in
                        s._term_rows.items()
                        if rb == b and r.plist is not None)
            assert s._bucket_bytes[b] == s._table_bytes[b] + memos
        total = sum(s._bucket_bytes.values())
        assert total <= budget or len(s._bucket_tables) == 1
        assert s._pos_bytes <= s.max_pos_bytes \
            or len(s._pos_slots) == 1
        pos_bytes = s._pos_bytes
    assert s.held_bytes == total + pos_bytes


def _ops(s: DirectSearcher):
    """search, phrase and prefix ops (as a benchmark stream runs them)
    over the whole vocabulary."""
    vocab = sorted(s.term_dict)
    for i, t in enumerate(vocab):
        yield lambda t=t: s.search(t, k=5)
        if i % 7 == 0:
            ph = f"{t} {vocab[(i * 31) % len(vocab)]}"
            yield lambda ph=ph: s.phrase_search_positions(ph, k=5)
        if i % 5 == 0:
            yield lambda p=t[:2]: s.search_terms(s.expand_prefix(p), k=5)
            yield lambda p=t[:2]: s.phrase_prefix_search(p, k=5)


def _full_replica(root: str, **attrs) -> DirectSearcher:
    """An unbounded replica holding every term's decoded list."""
    full = DirectSearcher(root, analyzer="simple")
    for name, value in attrs.items():
        setattr(full, name, value)
    for t in full.term_dict:
        full._term_list(t)
    return full


def test_bucket_budget_counts_decoded_lists(pos_index):
    full = _full_replica(pos_index)
    working_set = sum(full._bucket_bytes.values())
    assert working_set > 2 * full.cached_bucket_bytes  # memos dominate
    budget = working_set // 3
    s = DirectSearcher(pos_index, analyzer="simple",
                       max_bucket_bytes=budget)
    s.max_pos_bytes = sum(
        full._term_slots(t, full._slot_space()).nbytes
        for t in full.term_dict) // 4
    first = sorted(s.term_dict)[0]
    first_list = s._term_list(first)
    first_bucket = s.term_dict[first][1]
    evicted = set()
    for op in _ops(s):
        before = set(s._bucket_tables)
        op()
        evicted |= before - set(s._bucket_tables)
        _resident_ok(s, budget)
    assert s.cached_bucket_bytes < budget
    # the first term's bucket was evicted with its rows: no cached row
    # holds its decoded list any more, and the next use decodes afresh
    assert first_bucket in evicted
    assert all(r.plist is not first_list for r in s._term_rows.values())
    again = s._term_list(first)
    assert again is not first_list
    assert np.array_equal(again.impacts, first_list.impacts)
    assert s.search(first, k=5) == full.search(first, k=5)


def test_concurrent_charges_stay_exact(pos_index):
    """Eight threads (more than the cores) decode and evict under one
    budget with a shortened switch interval: no charge is lost or
    counted twice."""
    import sys
    import threading

    full = _full_replica(pos_index)
    budget = sum(full._bucket_bytes.values()) // 3
    s = DirectSearcher(pos_index, analyzer="simple",
                       max_bucket_bytes=budget)
    vocab = sorted(s.term_dict)
    errors = []

    def work(i):
        try:
            for t in vocab[i::3] + vocab[::-1]:
                s.search(t, k=3)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    _resident_ok(s, budget)


def test_cold_rows_budget_counts_decoded_lists(pos_index):
    # every bucket takes the cold path
    full = _full_replica(pos_index, cold_pruned_min_bytes=0)
    working_set = sum(full._cold_rows_bytes.values())
    s = DirectSearcher(pos_index, analyzer="simple")
    s.cold_pruned_min_bytes = 0
    s.max_cold_rows_bytes = budget = working_set // 3
    evicted = 0
    for op in _ops(s):
        before = set(s._cold_rows)
        op()
        with s._meta_lock:
            assert not s._bucket_tables
            evicted += len(before - set(s._cold_rows))
            for key, rows in s._cold_rows.items():
                payload = 256 + sum(len(r["payload"]) + 160 for r in rows)
                memo = rows.plist.nbytes if rows.plist is not None else 0
                assert s._cold_rows_bytes[key] == payload + memo
            total = sum(s._cold_rows_bytes.values())
            assert total <= budget or len(s._cold_rows) == 1
            pos_bytes = s._pos_bytes
        assert s.held_bytes == total + pos_bytes
    assert evicted
    t = sorted(s.term_dict)[0]
    assert s.search(t, k=5) == full.search(t, k=5)


def test_doc_ids_past_2_31_keep_int64(spark, tmp_path):
    """A stream-grown index whose ids all exceed 2^31 keeps int64 doc
    ids in its decoded lists (a sparse-id table gathers their lengths),
    and ranks like the declarative Spark tier."""
    from rse_spark.index.storage import IndexStorage
    from rse_spark.query.engine import search
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
    append_batch(spark, docs, root, analyzer="simple", content_col="text",
                 docs_per_segment=64, segments_per_group=4, batch_id=0)
    s = DirectSearcher(root, analyzer="simple")
    pl = s._term_list("data")
    assert pl.docs.dtype == np.int64 and (pl.docs > 2 ** 31).all()
    assert not pl.docs.flags.writeable
    idx = store.load(spark)
    for q in ["the data", "merge join table", "spark"]:
        want = [
            (int(r["doc_id"]), float(r["score"]), int(r["n_terms_matched"]))
            for r in search(spark, idx.postings, q, n_docs=idx.n_docs,
                            avgdl=idx.avgdl, term_stats=idx.term_stats,
                            k=10, analyzer="simple").collect()
        ]
        got = s.search(q, k=10)
        assert [d for d, _s, _n in got] == [d for d, _s, _n in want], q
        assert np.allclose([x for _d, x, _n in got],
                           [x for _d, x, _n in want], rtol=1e-12), q
        explained = s.explain(q, got[0][0])
        assert explained["score"] == got[0][1]
        assert all(t["doc_len"] > 0 for t in explained["terms"]
                   if t["matched"])
