"""Optional positional sidecar index: Lucene-style token positions.

The base index stores (doc_id, tf, doc_len) per term — enough for
BM25, not for phrase matching without re-reading content. The batch
path verifies phrases against the content store (query/textmatch.py);
at serving scale that per-query content fetch is the expensive step
(bounded, but IO against the corpus). The standard fulltext answer is
a POSITIONAL index: per (term, segment) the token positions of every
occurrence, delta+varint encoded — phrase adjacency then resolves
entirely inside the index (Lucene's .pos file; GSE stored only
``frequency``, reference crawler/src/postgres/init_db.sql:10-16, so
phrases were impossible there).

Layout: ``root/positions/seg_group=K/bucket=B/*.parquet`` mirroring
the postings partitioning, rows (term, segment_id, bucket,
doc_payload, pos_payload):

* ``doc_payload`` — varint pairs ``(doc_id_gap, n_positions)`` per
  doc (gap vs previous doc in the list, first absolute);
* ``pos_payload`` — varint position deltas, doc boundaries derived
  from the ``n_positions`` counts (first position of each doc
  absolute).

Two separate streams (instead of interleaving headers with
positions) keep BOTH decode directions fully numpy-vectorized — the
interleaved form cannot be parsed without a per-doc Python walk.

Positions are indices in the ANALYZED TOKEN STREAM (Lucene
semantics). For the ``simple`` analyzer (whitespace split, no token
dropped) this equals whitespace word position, so results match the
content-verify path exactly (equivalence-tested); for splitting
analyzers (``code``) adjacency means adjacent tokens after analysis,
which is what "phrase" means in every positional fulltext engine.

Scale shape: the build is one Arrow UDF scan emitting per-(doc, term)
position arrays (cardinality == tf rows, NOT raw tokens), one shuffle
to group (term, segment), vectorized encode in applyInPandas, writes
partition-pruned like postings. Work ~ corpus tokens; no driver data.
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rse_spark.index.build import DOC_KEY
from rse_spark.index.codec import varint_decode, varint_encode
from rse_spark.index.storage import POSTINGS_ROW_GROUP_BYTES, IndexStorage


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def encode_position_list(
    doc_ids: np.ndarray, lens: np.ndarray, flat_pos: np.ndarray
) -> tuple[bytes, bytes]:
    """Encode one (term, segment) position list.

    ``doc_ids`` sorted ascending; ``lens[i]`` = number of positions of
    doc i; ``flat_pos`` = all positions concatenated in doc order,
    ascending within each doc."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    flat_pos = np.ascontiguousarray(flat_pos, dtype=np.int64)
    n = len(doc_ids)
    if n == 0:
        return b"", b""
    if n > 1 and not (np.diff(doc_ids) > 0).all():
        raise ValueError("doc_ids must be strictly increasing")
    if lens.sum() != len(flat_pos) or (lens <= 0).any():
        raise ValueError("lens must be positive and sum to len(flat_pos)")

    header = np.empty(2 * n, dtype=np.uint64)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_ids[0]
    if n > 1:
        gaps[1:] = np.diff(doc_ids)
    header[0::2] = gaps.astype(np.uint64)
    header[1::2] = lens.astype(np.uint64)

    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    deltas = flat_pos.copy()
    deltas[1:] -= flat_pos[:-1]
    deltas[starts] = flat_pos[starts]  # absolute at each doc start
    if (deltas < 0).any():
        raise ValueError("positions must ascend within each doc")
    return (
        varint_encode(header).tobytes(),
        varint_encode(deltas.astype(np.uint64)).tobytes(),
    )


def decode_position_list(
    doc_payload: bytes, pos_payload: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids, lens, flat_abs_positions) — all vectorized
    (segmented cumsum for the per-doc absolute positions)."""
    if not doc_payload:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    header = varint_decode(np.frombuffer(doc_payload, dtype=np.uint8))
    doc_ids = np.cumsum(header[0::2].astype(np.int64))
    lens = header[1::2].astype(np.int64)
    deltas = varint_decode(
        np.frombuffer(pos_payload, dtype=np.uint8)
    ).astype(np.int64)
    cs = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    base = cs[starts] - deltas[starts]
    flat = cs - np.repeat(base, lens)
    return doc_ids, lens, flat


# ---------------------------------------------------------------------------
# build job
# ---------------------------------------------------------------------------

# the widest window the serving tier's NEAR and slop accept (and the
# headroom its token-slot space keeps for that window arithmetic);
# build_positions also reserves it above the longest document
_POS_SLACK = 4096

_POS_ROWS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("term", T.StringType()),
    T.StructField("positions", T.ArrayType(T.IntegerType())),
])

_POS_SEG_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("segment_id", T.LongType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("doc_payload", T.BinaryType()),
    T.StructField("pos_payload", T.BinaryType()),
])


def _attach_doc_ids(meta: DataFrame, corpus: DataFrame,
                    content_col: str) -> DataFrame:
    """(doc_id, content) by bridging the corpus to the stored doc
    metadata — same key detection as index/integrity.py:_sha_check."""
    if content_col != "content":
        corpus = corpus.withColumnRenamed(content_col, "content")
    if all(c in meta.columns for c in DOC_KEY) and all(
        c in corpus.columns for c in DOC_KEY
    ):
        key = list(DOC_KEY)
        src = corpus
    elif "src_doc_id" in meta.columns and "doc_id" in corpus.columns:
        key = ["src_doc_id"]
        src = corpus.withColumnRenamed("doc_id", "src_doc_id")
    elif "doc_id" in corpus.columns:
        key = ["doc_id"]
        return corpus.select("doc_id", "content").join(
            meta.select("doc_id"), "doc_id", "left_semi"
        )
    else:
        raise ValueError("no join key between index and corpus")
    return meta.select("doc_id", *key).join(
        src.select(*key, "content"), key, "inner"
    ).select("doc_id", "content")


def _group_dirs(path: str) -> set[int]:
    if not os.path.isdir(path):
        return set()
    return {
        int(p.split("=", 1)[1]) for p in os.listdir(path)
        if p.startswith("seg_group=")
    }


def build_positions(
    spark: SparkSession,
    corpus: DataFrame | None,
    root: str,
    analyzer: str | None = "simple",
    content_col: str = "content",
    n_buckets: int | None = None,
    only_missing: bool = False,
) -> int:
    """Build the positional sidecar for an ALREADY-BUILT index at
    ``root`` (doc ids, segment layout and term buckets are read from
    its manifest, so positions land exactly where the postings
    reader's bucket pruning expects them). Committed as manifest unit
    ``positions`` — bumps the index generation like any writer.
    Returns the number of segment groups (re)built.

    Two input paths, picked from the index layout:

    * **from-enriched** (indexes built with ``with_positions=True``,
      storage.build_resumable): the enriched table already stores each
      term's token positions (``tf_positions``), so this job is a
      column-pruned parquet read + shuffle-free arrays_zip explode —
      the corpus is NOT re-tokenized (round-5 VERDICT item 1: the old
      second full scan doubled the most expensive build phase at
      scale). ``corpus`` may be None. ``analyzer=None`` means "the
      index's analyzer" (recorded in the docs manifest unit).
    * **corpus-scan** (legacy / externally-tokenized layouts): one
      Arrow UDF pass over the corpus content, as before.

    ``only_missing=True`` is the STREAM-GROWN maintenance mode: only
    postings groups with no positions partition yet are (re)built
    (dynamic partition overwrite) — work ~ the appended batches, not
    the whole corpus. Group-rewriting writers (compact, delete/upsert)
    use the same mode after deleting the touched groups' position
    partitions, so sidecar maintenance stays proportional to the
    rewritten slice."""
    store = IndexStorage(root)
    done = store.completed_units()
    layout = done["docs"]["layout"]
    docs_per_segment = int(layout["docs_per_segment"])
    n_buckets = int(n_buckets or layout["n_buckets"])
    t0 = time.time()

    idx_analyzer = done["docs"].get("analyzer")
    use_enriched = bool(layout.get("positions_in_enriched"))
    if use_enriched:
        if (
            analyzer is not None
            and idx_analyzer is not None
            and analyzer != idx_analyzer
        ):
            raise ValueError(
                f"index stores positions tokenized with "
                f"{idx_analyzer!r}; cannot derive a {analyzer!r} "
                f"sidecar from them (re-tokenize with a corpus-scan "
                f"build on a layout without positions_in_enriched)"
            )
        analyzer = idx_analyzer or analyzer or "simple"
    elif corpus is None:
        raise ValueError(
            "corpus required: this index's enriched table does not "
            "store tf_positions (build with with_positions=True to "
            "enable corpus-free sidecar builds)"
        )
    elif analyzer is None:
        analyzer = idx_analyzer or "simple"

    segments_per_group = int(layout["segments_per_group"])
    docs_per_group = docs_per_segment * segments_per_group
    missing: set[int] | None = None
    if only_missing:
        missing = (
            _group_dirs(os.path.join(root, "postings"))
            - _group_dirs(os.path.join(root, "positions"))
        )
        if not missing:
            return 0

    # ---- bit split check ---------------------------------------------
    # The serving tier places each occurrence in the generation's token
    # slots (query/kernel.py _SlotSpace) and checks every position
    # against its doc's doc_len. ``pos_bits`` only validates the build:
    # position bits cover the longest document plus _POS_SLACK and the
    # rest go to doc ids, so an index whose (doc_id, position) pairs
    # cannot fit one int64 (doc_bits + pos_bits > 63) fails HERE,
    # loudly. The split is chosen from the actual id/length ranges and
    # recorded in the manifest; incremental maintenance keeps the
    # recorded split and checks only the NEW groups against it —
    # per-batch work stays proportional to the batch, not the index.
    bounds_meta = store.docs_meta(spark)
    prev = done.get("positions", {})
    if missing is not None and "seg_group" in bounds_meta.columns:
        bounds_meta = bounds_meta.filter(
            F.col("seg_group").isin([int(g) for g in missing])
        )
    bounds = bounds_meta.agg(
        F.max("doc_len").alias("dl"), F.max("doc_id").alias("di")
    ).collect()[0]
    max_dl = int(bounds["dl"] or 0)
    max_di = int(bounds["di"] or 0)
    if only_missing and "pos_bits" in prev:
        pos_bits = int(prev["pos_bits"])  # must match existing keys
    elif only_missing and prev:
        # legacy sidecar (pre-pos_bits manifest record): its existing
        # keys were packed with the fixed 32-bit split — deriving a
        # split from only the MISSING groups' bounds would mismatch
        # them and fail every positional query until a full rebuild
        # (round-6 advice)
        pos_bits = 32
    else:
        pos_bits = max((max_dl + _POS_SLACK).bit_length(), 26)
    if max_dl + _POS_SLACK >= (1 << pos_bits):
        raise ValueError(
            f"document of {max_dl} tokens exceeds the sidecar's "
            f"position space (2^{pos_bits} - {_POS_SLACK}); rebuild "
            f"the sidecar full (only_missing=False) to re-derive the "
            f"bit split"
        )
    if max_di.bit_length() + pos_bits > 63:
        raise ValueError(
            f"doc_id {max_di} needs {max_di.bit_length()} bits and "
            f"positions need {pos_bits}: packed int64 keys cannot "
            f"represent this index (compact the id space or shard "
            f"the sidecar)"
        )

    if use_enriched:
        e = spark.read.parquet(os.path.join(root, "enriched"))
        if missing is not None:
            e = e.filter(
                F.col("seg_group").isin([int(g) for g in missing])
            )
        rows = e.select(
            "doc_id",
            F.explode(
                F.arrays_zip("tf_terms", "tf_positions")
            ).alias("_z"),
        ).select(
            "doc_id",
            F.col("_z.tf_terms").alias("term"),
            F.col("_z.tf_positions").alias("positions"),
        )
    else:
        meta = store.docs_meta(spark)
        if "seg_group" not in meta.columns:  # write_bundle layouts
            meta = meta.withColumn(
                "seg_group",
                (F.col("doc_id") / F.lit(docs_per_group)).cast("long"),
            )
        if missing is not None:
            meta = meta.filter(
                F.col("seg_group").isin([int(g) for g in missing])
            )

        pairs = _attach_doc_ids(meta, corpus, content_col)

        def _positions(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            from rse_spark.tokenizer import tokenize

            for pdf in batches:
                ids, terms, poss = [], [], []
                for doc_id, text in zip(pdf["doc_id"], pdf["content"]):
                    by_term: dict[str, list[int]] = {}
                    for i, tok in enumerate(
                        tokenize(text or "", analyzer)
                    ):
                        by_term.setdefault(tok, []).append(i)
                    for t, p in by_term.items():
                        ids.append(doc_id)
                        terms.append(t)
                        poss.append(p)
                yield pd.DataFrame(
                    {"doc_id": ids, "term": terms, "positions": poss}
                )

        rows = pairs.mapInPandas(_positions, _POS_ROWS_SCHEMA)

    rows = rows.withColumn(
        "segment_id",
        (F.col("doc_id") / F.lit(docs_per_segment)).cast("long"),
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
    )

    def _encode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # thousands of lists per Python call (same pattern as
        # build.build_posting_lists): an applyInPandas per (term,
        # segment) group paid per-group pandas setup ~10^5 times —
        # the dominant cost of the sidecar encode stage (r7 bench:
        # stage wall ~5x the actual encode work).
        for pdf in batches:
            dps: list[bytes] = []
            pps: list[bytes] = []
            for doc_ids, pos_lists in zip(pdf["doc_ids"], pdf["pos_lists"]):
                lens = np.fromiter(
                    map(len, pos_lists), dtype=np.int64,
                    count=len(pos_lists),
                )
                flat = (
                    np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in pos_lists]
                    )
                    if len(pos_lists)
                    else np.empty(0, dtype=np.int64)
                )
                dp, pp = encode_position_list(
                    np.asarray(doc_ids, dtype=np.int64), lens, flat
                )
                dps.append(dp)
                pps.append(pp)
            yield pd.DataFrame({
                "term": pdf["term"].values,
                "segment_id": pdf["segment_id"].values,
                "bucket": pdf["bucket"].values,
                "doc_payload": dps,
                "pos_payload": pps,
            })

    pos_root = os.path.join(root, "positions")
    if only_missing:
        # append the absent groups only: dynamic partition overwrite
        # touches exactly the partitions this job writes
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
    else:
        # full (re)build: clear the directory first so group dirs from
        # a previous layout can't linger under dynamic-overwrite confs
        import shutil

        shutil.rmtree(pos_root, ignore_errors=True)
    lists = (
        rows.groupBy("term", "segment_id", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "positions"))
            ).alias("pl")
        )
        .select(
            "term",
            "segment_id",
            "bucket",
            F.col("pl.doc_id").alias("doc_ids"),
            F.col("pl.positions").alias("pos_lists"),
        )
    )
    (
        lists.mapInPandas(_encode_batches, _POS_SEG_SCHEMA)
        .withColumn(
            "seg_group",
            F.floor(F.col("segment_id") / F.lit(segments_per_group)),
        )
        .repartition("seg_group", "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES))
        .option("parquet.page.size.row.check.min", "32")
        .partitionBy("seg_group", "bucket")
        .parquet(pos_root)
    )
    if missing is not None:
        # a corpus that doesn't contain the missing groups' docs
        # produces an empty write — that is NOT success; stay loud so
        # the caller doesn't believe the sidecar is current
        still = missing - _group_dirs(pos_root)
        if still:
            raise ValueError(
                f"corpus did not cover positions for groups "
                f"{sorted(still)}"
            )
    built = len(missing) if missing is not None else len(
        _group_dirs(pos_root)
    )
    store.mark_done(
        "positions",
        analyzer=analyzer,
        wall_ms=int(1000 * (time.time() - t0)),
        groups_built=int(built),
        mode="incremental" if only_missing else "full",
        source="enriched" if use_enriched else "corpus_scan",
        pos_bits=int(pos_bits),
    )
    return int(built)


def phrase_batch_index(
    spark: SparkSession,
    root: str,
    phrases: list[str],
    analyzer: str | None = None,
) -> DataFrame:
    """(phrase_id, doc_id, n_occurrences) for a SET of phrases resolved
    from the positional sidecar in ONE Spark job — the cluster-serving
    shape for batch phrase workloads: no corpus access, scan pruned to
    the query terms' (bucket, term) rows, one job's fixed cost
    amortized over the whole set (round-5 VERDICT item 6; the
    single-phrase driver-side twin is DirectSearcher.
    phrase_search_positions, the content-scan twin
    query/textmatch.phrase_match_batch — all equivalence-tested).

    Plan shape: partition-pruned parquet scan of positions/ (bucket
    dirs of the query terms only, term filter pushed down), vectorized
    varint decode of just those lists in one Arrow pass, then the
    shared broadcast-join chain verification
    (textmatch.phrase_batch_counts). Work ~ the query terms' total
    occurrence counts — the positional-query bound."""
    from rse_spark.query.textmatch import phrase_batch_counts
    from rse_spark.tokenizer import tokenize

    store = IndexStorage(root)
    done = store.completed_units()
    if "positions" not in done or not has_positions(root):
        raise ValueError(
            "index has no positional sidecar "
            "(build it with index.positions.build_positions)"
        )
    analyzer = analyzer or done["positions"].get("analyzer", "simple")
    if analyzer != done["positions"].get("analyzer", analyzer):
        raise ValueError(
            f"sidecar was built with analyzer="
            f"{done['positions'].get('analyzer')!r}, not {analyzer!r}"
        )

    qrows = []
    terms: set[str] = set()
    for pid, ph in enumerate(phrases):
        toks = tokenize(ph, analyzer)
        if not toks:
            raise ValueError(f"phrase {pid} has no indexable terms")
        for off, t in enumerate(toks):
            qrows.append((pid, off, t, len(toks)))
        terms.update(toks)
    qdf = spark.createDataFrame(
        qrows, "phrase_id int, off int, tok string, plen int"
    )
    term_list = sorted(terms)
    # bucket set from the term dictionary (driver-side filtered parquet
    # read with pushdown — no Spark job; absent terms have no bucket
    # and contribute no rows)
    import pyarrow.parquet as pqt

    tdict = pqt.read_table(
        os.path.join(root, "term_stats"),
        columns=["bucket"],
        filters=[("term", "in", term_list)],
    )
    buckets = sorted(set(tdict["bucket"].to_pylist()))

    rows = (
        spark.read.parquet(os.path.join(root, "positions"))
        .filter(F.col("bucket").isin(buckets))       # partition prune
        .filter(F.col("term").isin(term_list))       # predicate prune
        .select("term", "doc_payload", "pos_payload")
    )

    _TOK_SCHEMA = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("tok", T.StringType()),
    ])

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs_parts, pos_parts, tok_parts = [], [], []
            for t, dp, pp in zip(
                pdf["term"], pdf["doc_payload"], pdf["pos_payload"]
            ):
                doc_ids, lens, flat = decode_position_list(
                    bytes(dp), bytes(pp)
                )
                docs_parts.append(np.repeat(doc_ids, lens))
                pos_parts.append(flat)
                tok_parts.append(np.full(len(flat), t, dtype=object))
            if not docs_parts:
                yield pd.DataFrame(
                    {"doc_id": [], "pos": [], "tok": []}
                ).astype({"doc_id": "int64", "pos": "int64"})
                continue
            yield pd.DataFrame({
                "doc_id": np.concatenate(docs_parts),
                "pos": np.concatenate(pos_parts),
                "tok": np.concatenate(tok_parts),
            })

    toks_df = rows.mapInPandas(_decode, _TOK_SCHEMA)
    return phrase_batch_counts(toks_df, qdf, "doc_id")


def has_positions(root: str) -> bool:
    return os.path.isdir(os.path.join(root, "positions"))


def positions_in_enriched(store: IndexStorage) -> bool:
    """Whether this index's enriched table stores per-term token
    positions (layouts built with ``with_positions=True``) — i.e.
    whether the sidecar can be (re)built corpus-free from enriched."""
    return bool(
        store.completed_units()
        .get("docs", {})
        .get("layout", {})
        .get("positions_in_enriched")
    )
