"""Doc-level upsert/delete over the segmented index.

The reference's sink is ``INSERT ... ON CONFLICT (url) DO UPDATE``
(reference crawler/src/crawler/crawler/crawler.go:216-228) and it
re-crawls pages after a revisit delay (crawler.go:230-244) — i.e. a
changed document REPLACES its previous version. Round 1 only appended.

Spark-idiomatic replacement over immutable parquet segments:

* ``delete_docs``  — eager, partition-scoped compaction: rewrite ONLY
  the segment groups containing dead doc_ids (enriched, docs_meta and
  postings partitions for those groups), then refresh corpus/term
  stats. Every query path (exact, WAND, DirectSearcher) stays oblivious
  to deletes — no tombstone filter in the hot path.
* ``upsert_docs``  — resolve incoming keys against docs_meta, delete
  the matched old doc_ids, then index the new versions as fresh
  segment groups via the streaming increment (stream_index.append_batch).

Scale position: the unit of rewrite is the segment group — an update
batch touching U docs rewrites at most U groups (each a bounded doc_id
range), never the whole index; the key-resolution join and the
anti-join are hash joins on doc_id/key, and only the O(#groups)
affected-group list is collected to the driver. A real deployment
makes the delete lazy (tombstone + background compaction, Iceberg
DELETE FROM); the eager variant keeps this sandbox's storage layer
(plain parquet dirs + manifest) sufficient.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rse_spark.index.build import build_posting_lists, explode_tf
from rse_spark.index.storage import POSTINGS_ROW_GROUP_BYTES, IndexStorage


def _layout(store: IndexStorage, docs_per_segment, segments_per_group,
            n_buckets) -> tuple[int, int, int]:
    """Index layout params: explicit args win, else the manifest record."""
    rec = store.completed_units().get("docs", {}).get("layout", {})
    return (
        docs_per_segment or rec.get("docs_per_segment", 4096),
        segments_per_group or rec.get("segments_per_group", 4),
        n_buckets or rec.get("n_buckets", 16),
    )


def _swap_partitions(tmp: str, dst: str, part_dirs: list[str]) -> None:
    """Replace dst/<part>/ with tmp/<part>/ (absent in tmp = now empty)."""
    for part in part_dirs:
        old = os.path.join(dst, part)
        new = os.path.join(tmp, part)
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(new):
            shutil.move(new, old)


def _refresh_stats(spark: SparkSession, store: IndexStorage,
                   n_buckets: int) -> tuple[int, float]:
    """Recompute corpus_stats + term_stats from the persisted tables."""
    import pandas as pd

    from rse_spark.index.build import term_stats_from_postings

    meta = store.docs_meta(spark)
    row = meta.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("a")
    ).collect()[0]
    n_docs = int(row["n"])
    avgdl = float(row["a"]) if row["a"] is not None else 0.0
    spark.createDataFrame(
        pd.DataFrame({"n_docs": [n_docs], "avgdl": [avgdl]})
    ).write.mode("overwrite").parquet(store._p("corpus_stats"))
    term_stats_from_postings(
        spark.read.parquet(store._p("postings"))
    ).write.mode("overwrite").parquet(store._p("term_stats"))
    return n_docs, avgdl


def delete_docs(
    spark: SparkSession,
    root: str,
    dead: DataFrame,
    docs_per_segment: int | None = None,
    segments_per_group: int | None = None,
    n_buckets: int | None = None,
    refresh_stats: bool = True,
) -> int:
    """Remove documents (a ``doc_id`` DataFrame) from the index.

    Rewrites only the segment groups that contain dead ids; returns the
    number of docs removed."""
    store = IndexStorage(root)
    docs_per_segment, segments_per_group, n_buckets = _layout(
        store, docs_per_segment, segments_per_group, n_buckets
    )
    docs_per_group = docs_per_segment * segments_per_group
    dead = dead.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    dead = dead.withColumn(
        "seg_group", (F.col("doc_id") / F.lit(docs_per_group)).cast("long")
    ).persist()
    affected = sorted(
        int(r["seg_group"])
        for r in dead.select("seg_group").distinct().collect()
    )
    if not affected:
        dead.unpersist()
        return 0
    n_dead = dead.count()

    enriched = spark.read.parquet(store._p("enriched"))
    keep = enriched.filter(F.col("seg_group").isin(affected)).join(
        dead.select("doc_id"), "doc_id", "left_anti"
    )
    # physical docs_meta (jvm/flat or write_bundle indexes) must be
    # compacted alongside; a virtual one (array format) follows the
    # enriched rewrite automatically
    meta_physical = os.path.isdir(store._p("docs_meta"))
    if meta_physical:
        meta = spark.read.parquet(store._p("docs_meta"))
        keep_meta = meta.filter(F.col("seg_group").isin(affected)).join(
            dead.select("doc_id"), "doc_id", "left_anti"
        )

    # stage the rewritten partitions, then swap directories: dynamic
    # partition overwrite alone cannot EMPTY a partition whose docs all
    # died, so the swap (delete old dir, move staged dir in) is the
    # correctness-preserving primitive here. Iceberg's REPLACE does this
    # transactionally in production.
    tmp = store._p("_compact_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    keep.write.mode("overwrite").partitionBy("seg_group").parquet(
        os.path.join(tmp, "enriched")
    )
    if meta_physical:
        keep_meta.write.mode("overwrite").partitionBy("seg_group").parquet(
            os.path.join(tmp, "docs_meta")
        )
    postings = build_posting_lists(
        explode_tf(spark.read.parquet(os.path.join(tmp, "enriched"))),
        docs_per_segment, n_buckets,
    ).withColumn(
        "seg_group", F.floor(F.col("segment_id") / segments_per_group)
    )
    (
        postings.repartition("seg_group", "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES))
        .option("parquet.page.size.row.check.min", "32")
        .partitionBy("seg_group", "bucket")
        .parquet(os.path.join(tmp, "postings"))
    )
    part_dirs = [f"seg_group={g}" for g in affected]
    _swap_partitions(os.path.join(tmp, "enriched"), store._p("enriched"),
                     part_dirs)
    if meta_physical:
        _swap_partitions(os.path.join(tmp, "docs_meta"),
                         store._p("docs_meta"), part_dirs)
    _swap_partitions(os.path.join(tmp, "postings"), store._p("postings"),
                     part_dirs)
    shutil.rmtree(tmp, ignore_errors=True)
    dead.unpersist()
    # a positional sidecar still carries the deleted docs' positions
    if os.path.isdir(store._p("positions")):
        from rse_spark.index.positions import (
            build_positions,
            positions_in_enriched,
        )

        if positions_in_enriched(store):
            # group-scoped refresh: drop the touched groups' position
            # partitions and rebuild them from the post-swap enriched
            # rows (which no longer contain the dead docs). A group
            # whose docs ALL died has no postings partition anymore and
            # is correctly left absent. Work ~ affected groups.
            for g in affected:
                shutil.rmtree(
                    os.path.join(store._p("positions"), f"seg_group={g}"),
                    ignore_errors=True,
                )
            build_positions(spark, None, root, analyzer=None,
                            only_missing=True)
        else:
            # corpus-scan sidecar: drop it so the positional phrase
            # path fails loudly until rebuilt, instead of returning
            # dead docs
            shutil.rmtree(store._p("positions"), ignore_errors=True)
            store.remove_unit("positions")

    if refresh_stats:
        n_docs, avgdl = _refresh_stats(spark, store, n_buckets)
        rec = store.completed_units().get("docs")
        if rec:
            rec.update(n_docs=n_docs, avgdl=avgdl)
            store.mark_done("docs", **{k: v for k, v in rec.items()
                                       if k not in ("unit", "status")})
    # committed: the record is a finished delete, not a compaction
    # claim that compact_groups would have to resume
    store.mark_done(
        f"compact={int(time.time() * 1000)}",
        groups=affected, docs_removed=n_dead, reason="delete",
        committed=True,
    )
    return n_dead


def delete_by_query(
    spark: SparkSession,
    root: str,
    ql: str,
    analyzer: str = "code",
    dry_run: bool = False,
    corpus_path: "str | None" = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    key_col: "str | None" = None,
    **delete_kwargs,
) -> tuple[int, int]:
    """ES _delete_by_query: every document matching a mini-language
    boolean query (query/qlang syntax — terms, AND/OR, -negation,
    prefixes, metadata filters; phrases too when a content store or
    positional sidecar is present) is removed from the index.

    The match set is the FULL presence set (qlang.match_ql: posting
    decodes + doc-id set algebra on the serving replica — no scoring,
    no top-k, no Spark job), and the removal rewrites only the touched
    segment groups through ``delete_docs``'s staged-swap path, which
    also drops those groups' positional-sidecar partitions and bumps
    the index generation. Re-running the same query is idempotent:
    the second pass matches nothing.

    ``dry_run=True`` returns the match count without touching the
    index (ES's same flag). Returns ``(n_matched, n_deleted)``.

    Scale position: the matched-id array is bounded by the match set,
    not the corpus — fine for the operational deletes this surface
    exists for (purge a repo, a language, a bad crawl). A delete
    matching MOST of the corpus is cheaper as a declarative rebuild
    (filter enriched, rebuild postings), same as ES recommends
    reindex-into-new over a giant _delete_by_query.

    GSE never deletes (its sink only upserts, reference
    crawler/src/crawler/crawler/crawler.go:216-228); this is contract
    surface beyond the reference, matching ES DeleteByQueryRequest.
    """
    import pandas as pd

    from rse_spark.query.qlang import match_ql
    from rse_spark.query.serve import DirectSearcher

    searcher = DirectSearcher(root, analyzer=analyzer)
    qualified, _boosts = match_ql(
        searcher, ql, corpus_path=corpus_path,
        content_col=content_col, id_col=id_col, key_col=key_col,
    )
    n_matched = int(len(qualified))
    if dry_run or n_matched == 0:
        return n_matched, 0
    dead = spark.createDataFrame(
        pd.DataFrame({"doc_id": qualified})
    )
    n_deleted = delete_docs(spark, root, dead, **delete_kwargs)
    return n_matched, n_deleted


def upsert_docs(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    key: list[str] | tuple[str, ...] = ("repo", "path"),
    analyzer: str = "simple",
    content_col: str = "text",
    docs_per_segment: int | None = None,
    segments_per_group: int | None = None,
    n_buckets: int | None = None,
) -> tuple[int, int]:
    """ON CONFLICT (key) DO UPDATE for the index: replace any existing
    document sharing ``key`` with the incoming version; plain insert
    for keys never seen. Returns (docs_replaced, docs_indexed).

    ``key`` columns must exist in both ``updates`` and docs_meta (the
    builder keeps repo/path/commit/lang/source/src_doc_id; a
    documents-table index exposes its source ids as ``src_doc_id``,
    and a corpus indexed with its own ``doc_id`` keeps ``doc_id``)."""
    store = IndexStorage(root)
    docs_per_segment, segments_per_group, n_buckets = _layout(
        store, docs_per_segment, segments_per_group, n_buckets
    )
    keyl = list(key)
    meta = store.docs_meta(spark)
    missing = [c for c in keyl if c not in meta.columns]
    if missing:
        raise ValueError(
            f"upsert key {missing} not kept in docs_meta "
            f"(have {meta.columns})"
        )
    # a documents-table index stores incoming ids as src_doc_id
    # (stream_index.append_batch); accept updates that still carry them
    # as doc_id
    upd_keys = updates.select(*[
        F.col("doc_id").alias("src_doc_id")
        if k == "src_doc_id" and "src_doc_id" not in updates.columns
        else F.col(k)
        for k in keyl
    ]).distinct()
    dead = meta.join(upd_keys, keyl, "left_semi").select("doc_id")
    # delete first (stats refresh deferred: append_batch recomputes them
    # from the post-delete tables as its last step)
    n_dead = delete_docs(
        spark, root, dead,
        docs_per_segment=docs_per_segment,
        segments_per_group=segments_per_group,
        n_buckets=n_buckets,
        refresh_stats=False,
    )
    from rse_spark.streaming.stream_index import append_batch

    n_new = append_batch(
        spark, updates, root,
        analyzer=analyzer, content_col=content_col,
        docs_per_segment=docs_per_segment,
        segments_per_group=segments_per_group,
        n_buckets=n_buckets,
    )
    store.mark_done(
        f"upsert={int(time.time() * 1000)}",
        docs_replaced=n_dead, docs_indexed=n_new, key=keyl,
    )
    return n_dead, n_new
