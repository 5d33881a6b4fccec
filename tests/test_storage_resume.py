"""Checkpointed build: kill after N units, resume, identical final index
(SURVEY.md §5.4); lineage manifest recorded per unit."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rse_spark.fixtures import gen_code_corpus
from rse_spark.index.storage import IndexStorage, build_resumable


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(gen_code_corpus(0.0002)).persist()


def _postings_fingerprint(spark, root):
    idx = IndexStorage(root).load(spark)
    return (
        idx.postings.select(
            "term", "segment_id", "df_seg", F.sha2(F.hex("payload"), 256).alias("h")
        )
        .orderBy("term", "segment_id")
        .toPandas()
    )


def test_kill_resume_identical(spark, corpus, tmp_path_factory):
    clean_root = str(tmp_path_factory.mktemp("idx_clean"))
    resumed_root = str(tmp_path_factory.mktemp("idx_resumed"))

    build_resumable(
        spark, corpus, clean_root, docs_per_segment=16, segments_per_group=2,
        groups_per_job=1,
    )

    # killed run: crash after 2 committed groups
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(
            spark, corpus, resumed_root,
            docs_per_segment=16, segments_per_group=2, fail_after_units=2,
            groups_per_job=1,
        )
    done_before = set(IndexStorage(resumed_root).completed_units())
    assert "docs" in done_before
    assert sum(1 for u in done_before if u.startswith("group=")) == 2

    # resume: completes, does NOT recompute committed units
    store = build_resumable(
        spark, corpus, resumed_root, docs_per_segment=16, segments_per_group=2,
        groups_per_job=1,
    )
    manifest = store.manifest()
    units = [r["unit"] for r in manifest]
    assert "docs" in units
    n_groups = sum(1 for u in units if u.startswith("group="))
    assert n_groups >= 3

    a = _postings_fingerprint(spark, clean_root)
    b = _postings_fingerprint(spark, resumed_root)
    pd.testing.assert_frame_equal(a, b)

    # lineage fields present
    for rec in manifest:
        assert rec["status"] == "done"
        assert "wall_ms" in rec
        if rec["unit"].startswith("group="):
            assert {"sha", "rows", "n_postings", "doc_lo", "doc_hi"} <= set(rec)


def test_loaded_index_queryable(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_q"))
    build_resumable(spark, corpus, root, docs_per_segment=16)
    idx = IndexStorage(root).load(spark)

    from rse_spark.query.engine import search

    hits = search(
        spark, idx.postings, "parse index", n_docs=idx.n_docs,
        avgdl=idx.avgdl, term_stats=idx.term_stats, k=5,
    ).collect()
    assert 0 < len(hits) <= 5

    # matches the in-memory build path end-to-end
    from rse_spark.index.build import build_index
    from rse_spark.query.engine import search_bundle

    bundle = build_index(spark, corpus, docs_per_segment=16)
    hits2 = search_bundle(spark, bundle, "parse index", k=5).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in hits] == [
        (r.doc_id, round(r.score, 9)) for r in hits2
    ]


def test_load_sizes_postings_partitions(spark, corpus, tmp_path_factory):
    """load() derives the postings partition count from on-disk bytes:
    a tiny many-file index collapses to one scan task instead of being
    spread across defaultParallelism, and the rows are unchanged."""
    root = str(tmp_path_factory.mktemp("idx_sz"))
    build_resumable(spark, corpus, root, docs_per_segment=16)
    store = IndexStorage(root)
    idx = store.load(spark)

    n_bytes_parts = store._size_partitions(spark, "postings")
    assert n_bytes_parts == 1  # well under one maxPartitionBytes
    assert idx.postings.rdd.getNumPartitions() == 1

    raw = spark.read.parquet(f"{root}/postings")
    a = sorted(map(tuple, idx.postings.select("term", "segment_id").collect()))
    b = sorted(map(tuple, raw.select("term", "segment_id").collect()))
    assert a == b


def test_parse_byte_string():
    from rse_spark.index.storage import parse_byte_string

    assert parse_byte_string("64m") == 64 << 20
    assert parse_byte_string("1g") == 1 << 30
    assert parse_byte_string("1G") == 1 << 30
    assert parse_byte_string("134217728") == 134217728
    assert parse_byte_string("134217728b") == 134217728
    assert parse_byte_string(" 512kb ") == 512 << 10
    for bad in ("", "m", "1.5g", "64 m", "64q", "-1", "lots"):
        with pytest.raises(ValueError, match="byte size"):
            parse_byte_string(bad)


def test_size_partitions_conf_and_temporary(spark, corpus,
                                            tmp_path_factory):
    """maxPartitionBytes is read with its suffix, an unparseable value
    raises instead of falling back, and the leftovers of an unfinished
    write (``_temporary``) do not count as index bytes."""
    import os
    import shutil
    from types import SimpleNamespace

    root = str(tmp_path_factory.mktemp("idx_sz_conf"))
    build_resumable(spark, corpus, root, docs_per_segment=16)
    store = IndexStorage(root)
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(f"{root}/postings")
        for f in fs if f.endswith(".parquet")
    )
    assert total > 2048
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1k")
        assert store._size_partitions(spark, "postings") == -(-total // 1024)
        # a half-written job's parquet under _temporary is not index data
        tmp = os.path.join(root, "postings", "_temporary", "0")
        os.makedirs(tmp)
        src = next(
            os.path.join(d, f)
            for d, _, fs in os.walk(f"{root}/postings")
            for f in fs if f.endswith(".parquet")
        )
        shutil.copy(src, os.path.join(tmp, "part-0.parquet"))
        assert store._size_partitions(spark, "postings") == -(-total // 1024)
    finally:
        spark.conf.set(key, old)
    # Spark rejects a bad value at conf.set; a conf handed over by
    # other means must fail the same way, not fall back to 128 MB
    bad = SimpleNamespace(conf=SimpleNamespace(get=lambda k: "1 gigabyte"))
    with pytest.raises(ValueError, match="byte size"):
        store._size_partitions(bad, "postings")


def test_build_with_doc_ids_past_2_31(spark, tmp_path):
    """A pre-keyed corpus whose ids start past 2^31 builds: stage B
    builds the seg_groups the enriched table holds (not 0..n_groups-1,
    which here hold no document), and the serving replica and the Spark
    tier rank its documents alike, phrases included."""
    import numpy as np
    from test_compact import DOCS  # the sf0.001 test corpus

    from rse_spark.query.engine import search
    from rse_spark.query.serve import DirectSearcher

    base = 2**31 + 7
    docs = spark.read.parquet(DOCS).filter(F.col("doc_id") < 80).withColumn(
        "doc_id", F.col("doc_id") + F.lit(base))
    root = str(tmp_path / "idx")
    store = build_resumable(spark, docs, root, analyzer="simple",
                            content_col="text", docs_per_segment=16,
                            segments_per_group=2, with_positions=True)
    groups = sorted(
        r["seg_group"] for r in store.manifest()
        if r["unit"].startswith("group="))
    assert groups == list(range(base // 32, (base + 79) // 32 + 1))
    idx = store.load(spark)
    assert idx.n_docs == 80
    s = DirectSearcher(root, analyzer="simple")
    for q in ["the data", "merge join table", "spark"]:
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in search(spark, idx.postings, q, n_docs=idx.n_docs,
                            avgdl=idx.avgdl, term_stats=idx.term_stats,
                            k=10, analyzer="simple").collect()
        ]
        got = s.search(q, k=10)
        assert want and [d for d, _s in want] == [d for d, _s, _n in got], q
        assert np.allclose([x for _d, x in want], [x for _d, x, _n in got],
                           rtol=1e-12), q
        assert all(d >= base for d, _s in want)
    assert s.phrase_search_positions("the data", k=5)
