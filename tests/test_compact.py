"""Segment-group compaction (index/compact.py): merge-policy semantics,
score invariance, crash resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rse_spark.index.compact import compact_groups, plan_compaction
from rse_spark.index.storage import IndexStorage
from rse_spark.query.engine import search
from rse_spark.streaming.stream_index import append_batch

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _sparse_index(spark, root, slices):
    """Stream several tiny batches -> one under-filled group each."""
    docs = spark.read.parquet(DOCS)
    for i, (lo, hi) in enumerate(slices):
        append_batch(
            spark, docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            root, analyzer="simple", content_col="text",
            docs_per_segment=64, segments_per_group=4, batch_id=i,
        )
    return IndexStorage(root)


def _result_shas(spark, st, queries):
    """Query results keyed by CONTENT (sha) — doc ids are allowed to
    move across a compaction, scores and documents are not."""
    idx = st.load(spark)
    sha = {
        int(r["doc_id"]): r["content_sha256"]
        for r in idx.doc_stats.collect()
    }
    out = {}
    for q in queries:
        hits = search(
            spark, idx.postings, q, n_docs=idx.n_docs, avgdl=idx.avgdl,
            term_stats=idx.term_stats, k=10, analyzer="simple",
        ).collect()
        out[q] = sorted(
            (sha[int(r["doc_id"])], round(float(r["score"]), 9),
             int(r["n_terms_matched"]))
            for r in hits
        )
    return out


QUERIES = ["spark join", "query the table fast", "data group row"]


def test_compact_merges_sparse_groups(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compact_idx"))
    # 4 batches of 80/70/60/90 docs, docs_per_group=256 -> 4 sparse groups
    st = _sparse_index(
        spark, root, [(0, 80), (80, 150), (150, 210), (210, 300)]
    )
    before_units = {
        u for u in st.completed_units() if u.startswith("group=")
    }
    assert len(before_units) == 4
    before = _result_shas(spark, st, QUERIES)
    idx0 = st.load(spark)
    ts_before = sorted(
        (r["term"], int(r["df"]), int(r["cf"]), int(r["bucket"]))
        for r in idx0.term_stats.collect()
    )

    plan = plan_compaction(spark, root, min_fill=0.5)
    assert plan["would_merge"] == 4 and plan["into"] == 2

    summary = compact_groups(spark, root, min_fill=0.5)
    assert summary["merged"] == 4 and summary["into"] == 2
    assert summary["n_docs_moved"] == 300

    after_units = {
        u for u in st.completed_units() if u.startswith("group=")
    }
    assert len(after_units) == 2 and after_units.isdisjoint(before_units)
    # source partitions physically gone
    gone = [
        p for p in os.listdir(os.path.join(root, "postings"))
        if p.startswith("seg_group=")
    ]
    assert len(gone) == 2
    # same documents, same stats, rank-identical scores by content
    idx1 = st.load(spark)
    assert idx1.n_docs == 300
    assert abs(idx1.avgdl - idx0.avgdl) < 1e-9
    ts_after = sorted(
        (r["term"], int(r["df"]), int(r["cf"]), int(r["bucket"]))
        for r in idx1.term_stats.collect()
    )
    assert ts_after == ts_before  # df/cf invariant, no recompute needed
    assert _result_shas(spark, st, QUERIES) == before
    # dense re-id: new ids fill the claimed contiguous range
    new_ids = sorted(
        int(r["doc_id"]) for r in idx1.doc_stats.collect()
    )
    assert new_ids == list(range(new_ids[0], new_ids[0] + 300))


def test_compact_noop_on_full_groups(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compact_full"))
    st = _sparse_index(spark, root, [(0, 256), (256, 500)])
    # group 0 full (256 = docs_per_group), group 1 sparse but alone
    summary = compact_groups(spark, root, min_fill=0.5)
    assert summary["merged"] == 0
    assert len(
        [u for u in st.completed_units() if u.startswith("group=")]
    ) == 2


def test_compact_resume_after_crash(spark, tmp_path_factory):
    """Crash between the write phase and the swap leaves docs
    transiently duplicated; re-invoking compact_groups finishes the
    swap and the result equals a single-run compaction."""
    root = str(tmp_path_factory.mktemp("compact_crash"))
    st = _sparse_index(
        spark, root, [(0, 80), (80, 150), (150, 210), (210, 300)]
    )
    before = _result_shas(spark, st, QUERIES)
    with pytest.raises(RuntimeError, match="injected failure"):
        compact_groups(spark, root, min_fill=0.5, fail_after_write=True)
    # the claim is parked uncommitted
    claims = [
        rec for u, rec in st.completed_units().items()
        if u.startswith("compact=")
    ]
    assert len(claims) == 1 and not claims[0]["committed"]

    summary = compact_groups(spark, root, min_fill=0.5)
    assert summary["resumed"] is True
    assert summary["merged"] == 4 and summary["n_docs_moved"] == 300
    idx = st.load(spark)
    assert idx.n_docs == 300
    assert idx.doc_stats.select("content_sha256").distinct().count() == \
        idx.doc_stats.count()
    assert _result_shas(spark, st, QUERIES) == before
    done = st.completed_units()
    assert [r for u, r in done.items() if u.startswith("compact=")][0][
        "committed"
    ]


def test_compact_after_upsert(spark, tmp_path_factory):
    """An upsert commits a compact= record for its delete; it is a
    finished delete, not a crashed claim, so a later compaction plans
    and runs normally — also on an index whose delete record predates
    the ``committed`` flag."""
    import json

    from rse_spark.index.integrity import check_index
    from rse_spark.index.upsert import upsert_docs

    root = str(tmp_path_factory.mktemp("compact_upsert"))
    st = _sparse_index(
        spark, root, [(0, 80), (80, 150), (150, 210), (210, 300)]
    )
    updates = spark.read.parquet(DOCS).filter(
        F.col("doc_id") == 7
    ).withColumn("text", F.lit("zzzfresh join table"))
    assert upsert_docs(
        spark, updates, root, key=("src_doc_id",),
        analyzer="simple", content_col="text",
    ) == (1, 1)
    deletes = [
        u for u, rec in st.completed_units().items()
        if u.startswith("compact=") and rec.get("reason") == "delete"
    ]
    assert len(deletes) == 1
    # rewrite the record as older writers left it (no ``committed``)
    path = os.path.join(root, "manifest", f"{deletes[0]}.json")
    with open(path) as f:
        rec = json.load(f)
    assert rec.pop("committed") is True
    with open(path, "w") as f:
        json.dump(rec, f)

    queries = QUERIES + ["zzzfresh"]
    before = _result_shas(spark, st, queries)
    summary = compact_groups(spark, root, min_fill=0.5)
    assert summary["merged"] >= 2 and summary["n_docs_moved"] == 300
    assert summary["resumed"] is False
    report = check_index(spark, root)
    assert report["ok"], report
    assert st.load(spark).n_docs == 300
    assert _result_shas(spark, st, queries) == before


def test_compact_cli(spark, tmp_path_factory, capsys):
    import json

    from rse_spark.cli import main

    root = str(tmp_path_factory.mktemp("compact_cli"))
    _sparse_index(spark, root, [(0, 80), (80, 150)])
    rc = main(["compact", "--root", root, "--dry-run"])
    assert rc == 0
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan["would_merge"] == 2 and plan["into"] == 1
    rc = main(["compact", "--root", root])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["merged"] == 2 and out["into"] == 1


def test_stream_auto_compact(spark, tmp_path_factory):
    """auto_compact_every folds sparse stream batches into full groups
    as the stream runs; queries keep answering identically."""
    import time as _time

    from rse_spark.streaming.stream_index import start_stream

    src = str(tmp_path_factory.mktemp("autocompact_src"))
    root = str(tmp_path_factory.mktemp("autocompact_idx"))
    ckpt = str(tmp_path_factory.mktemp("autocompact_ckpt"))
    docs = spark.read.parquet(DOCS)
    # 4 files -> 4 micro-batches of ~75 docs each (docs_per_group=256)
    for i, (lo, hi) in enumerate([(0, 80), (80, 150), (150, 210), (210, 300)]):
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1).write.parquet(f"{src}/b{i}")
        )
        _time.sleep(1.1)  # file-source orders batches by mtime
    q = start_stream(
        spark, f"{src}/b*", root, ckpt, docs.schema,
        analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4,
        auto_compact_every=2, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    st = IndexStorage(root)
    idx = st.load(spark)
    assert idx.n_docs == 300
    # REGRESSION (micro-batch session clone): every batch's partitions
    # must survive — with the default static overwrite leaking into
    # foreachBatch, each batch silently wiped the previous ones and
    # only corpus_stats kept claiming 300 docs
    assert idx.doc_stats.count() == 300
    units = [u for u in st.completed_units() if u.startswith("group=")]
    # without compaction 4+ sparse groups; the merge policy folded them
    assert len(units) <= 3
    assert any(
        u.startswith("compact=") and rec.get("committed")
        for u, rec in st.completed_units().items()
    )
    hits = _result_shas(spark, st, QUERIES)
    assert all(len(v) > 0 for v in hits.values())


def test_append_after_compact_continues_above(spark, tmp_path_factory):
    """Streaming appends after a compaction claim ranges above the
    merged groups — ids never collide."""
    root = str(tmp_path_factory.mktemp("compact_append"))
    st = _sparse_index(spark, root, [(0, 80), (80, 150)])
    compact_groups(spark, root, min_fill=0.5)
    docs = spark.read.parquet(DOCS)
    n = append_batch(
        spark, docs.filter(F.col("doc_id") >= 400), root,
        analyzer="simple", content_col="text",
        docs_per_segment=64, segments_per_group=4, batch_id=99,
    )
    assert n == 100
    idx = st.load(spark)
    assert idx.n_docs == 250
    ids = [int(r["doc_id"]) for r in idx.doc_stats.collect()]
    assert len(ids) == len(set(ids)) == 250
