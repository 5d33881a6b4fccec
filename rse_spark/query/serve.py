"""Low-latency serving directly over the index segment files.

The distributed paths (engine.search / wand.wand_search) pay Spark's
fixed per-job cost (~1s in local mode) — irrelevant for batch scoring,
dominant for a single interactive query. GSE's API served each query
with 1 + 2N Postgres round-trips (reference crawler/src/api/main.go:63-83);
the equivalent low-latency surface here reads the SAME bucket-pruned
parquet segment files via pyarrow and runs block-max WAND driver-side
(numpy) — no Spark job at all. Both paths read one storage layout and
are equivalence-tested against each other.

Scale position: this is the SERVING tier (one process per replica,
each holding the term dictionary + lazily-read hot segments); the
Spark tier remains the build/batch-analytics engine. On a cluster the
segments live on shared storage and any number of stateless searchers
mount them.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from rse_spark.query.engine import idf as idf_fn
from rse_spark.query.engine import query_terms
from rse_spark.query.kernel import (
    _bits_test,
    _chain_counts,
    _chain_start,
    _chain_step,
    _DocLens,
    _grouped_topk,
    _intersect_sorted,
    _SlotSpace,
    _sorted_member,
    _topk,
)
from rse_spark.query.wand import _ListIter, intersect_and_lists, wand_topk_lists


def read_ids_pruned(path: str, ids, columns: list[str], id_col: str):
    """Read only the parquet ROW GROUPS whose ``id_col`` min/max
    statistics intersect the requested id set, then filter rows
    exactly. Returns (table, {"row_groups_total", "row_groups_read"}).

    This is the measured version of "the in-filter prunes": pruning
    only happens when the file is written sorted/clustered by id (see
    sources/corpus_io.write_content_store) — on an unsorted corpus
    every group's [min, max] spans the id space and nothing skips,
    which the returned counters make visible instead of silent
    (round-4 VERDICT item 5)."""
    import bisect

    import pyarrow as pa
    import pyarrow.compute as pc

    ids_sorted = sorted(set(ids))
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"),
                      recursive=True)
        )
    if not files:
        # a store with no parquet at all is a misconfiguration, not an
        # empty result — stay loud (the HTTP tier maps this to a 500)
        raise FileNotFoundError(f"no parquet files under {path!r}")
    tables = []
    total = read = 0
    files_with_id = 0
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            ci = names.index(id_col)
        except ValueError:
            continue
        files_with_id += 1
        keep = []
        for rg in range(md.num_row_groups):
            total += 1
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                keep.append(rg)  # no stats -> cannot prune safely
                continue
            p = bisect.bisect_left(ids_sorted, st.min)
            if p < len(ids_sorted) and ids_sorted[p] <= st.max:
                keep.append(rg)
        if keep:
            read += len(keep)
            tables.append(pf.read_row_groups(keep, columns=columns))
    if files_with_id == 0:
        # No physical file carries the id column (e.g. a hive-
        # partitioned store where the id is a PARTITION column only —
        # row-group statistics cannot prune on it). Fall back to a
        # dataset-level read, where pyarrow's dataset resolution
        # materializes partition columns and `filters` does partition
        # pruning instead; silent empties here were round-5 ADVICE #4.
        ds_tbl = pq.read_table(
            path, columns=columns,
            filters=[(id_col, "in", ids_sorted)],
        )
        return ds_tbl, {
            "row_groups_total": total, "row_groups_read": 0,
            "dataset_fallback": 1,
        }
    stats = {"row_groups_total": total, "row_groups_read": read}
    if not tables:
        empty = pa.table({c: [] for c in columns})
        return empty, stats
    tbl = pa.concat_tables(tables)
    mask = pc.is_in(
        tbl[id_col],
        value_set=pa.array(ids_sorted, type=tbl.schema.field(id_col).type),
    )
    return tbl.filter(mask), stats


class _LazyTermDict:
    """Dict-shaped view over the term_stats parquet for vocabularies
    too large to hold in replica memory (the documented ~10M-term
    ceiling of the driver-side dictionary, index/storage.py). Lookups
    are per-term filtered parquet reads (predicate pushdown on the
    ``term`` column) with a bounded memo; prefix expansion is a
    term-RANGE filtered read ([prefix, next-prefix)), which prunes row
    groups when term_stats is term-sorted and never materializes the
    whole vocabulary."""

    _MAX_MEMO = 100_000

    def __init__(self, path: str, n_terms: int):
        self._path = path
        self._n = n_terms
        self._memo: dict[str, tuple[int, int] | None] = {}

    def __len__(self) -> int:
        return self._n

    def __contains__(self, term: str) -> bool:
        return self.get(term) is not None

    def get(self, term: str, default=None):
        if term in self._memo:
            val = self._memo[term]
            return val if val is not None else default
        tbl = pq.read_table(
            self._path, columns=["term", "df", "bucket"],
            filters=[("term", "==", term)],
        )
        val = None
        if tbl.num_rows:
            val = (int(tbl["df"][0].as_py()), int(tbl["bucket"][0].as_py()))
        if len(self._memo) >= self._MAX_MEMO:
            self._memo.clear()
        self._memo[term] = val
        return val if val is not None else default

    def expand_prefix(self, prefix: str, max_terms: int) -> list[str]:
        if not prefix:
            return []
        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        tbl = pq.read_table(
            self._path, columns=["term"],
            filters=[("term", ">=", prefix), ("term", "<", hi)],
        )
        return sorted(set(tbl["term"].to_pylist()))[:max_terms]

    def expand_regex(self, pattern: str, max_terms: int) -> list[str]:
        """Vocabulary terms fully matching ``pattern`` — the huge-vocab
        twin of DirectSearcher.expand_regex. Any literal prefix of the
        pattern becomes a term-range parquet filter (row-group pruning,
        same trick as expand_prefix); only the surviving range's term
        column is streamed batch-wise through the compiled regex, so a
        prefixed pattern never reads the whole vocabulary and an
        unprefixed one reads exactly one pruned string column."""
        import re as _re

        rx = _re.compile(pattern)
        lit = _regex_literal_prefix(pattern)
        filters = None
        if lit:
            hi = lit[:-1] + chr(ord(lit[-1]) + 1)
            filters = [("term", ">=", lit), ("term", "<", hi)]
        tbl = pq.read_table(
            self._path, columns=["term"], filters=filters,
        )
        out = set()
        for chunk in tbl["term"].chunks:
            out.update(
                t for t in chunk.to_pylist() if rx.fullmatch(t)
            )
        return sorted(out)[:max_terms]

    def expand_fuzzy(self, term: str, max_edits: int,
                     max_terms: int) -> list[str]:
        """Huge-vocab fuzzy expansion: the term column is read with a
        parquet-level utf8 length band (only terms whose LENGTH is
        within ``max_edits`` of the query's can be within that edit
        distance) and the survivors run the banded DP. Candidate count
        is bounded by the vocabulary, never the corpus."""
        import pyarrow.compute as pc

        tbl = pq.read_table(self._path, columns=["term"])
        lo, hi = len(term) - max_edits, len(term) + max_edits
        mask = pc.and_(
            pc.greater_equal(pc.utf8_length(tbl["term"]), lo),
            pc.less_equal(pc.utf8_length(tbl["term"]), hi),
        )
        cands = set(pc.filter(tbl["term"], mask).to_pylist())
        scored = []
        for t in cands:
            d = _bounded_levenshtein(term, t, max_edits)
            if d is not None:
                scored.append((d, t))
        return [t for _d, t in sorted(scored)[:max_terms]]


def _bounded_levenshtein(a: str, b: str, max_d: int) -> int | None:
    """Classic (no-transposition) Levenshtein distance, or None when
    it exceeds ``max_d`` — banded DP (only the 2*max_d+1 diagonal is
    computed) with an early exit when a whole row's minimum leaves the
    band. Classic rather than Damerau so the three tiers agree: Spark
    ``F.levenshtein`` and DuckDB ``levenshtein`` are both classic.
    At real vocab scale a production engine compiles a Levenshtein
    automaton and intersects it with the sorted term dictionary
    (Lucene FuzzyQuery); the length band + early-exit DP keeps this
    one vocabulary-bounded, which is the scale contract here — work
    is O(|vocab| * max_d), never corpus-shaped."""
    if abs(len(a) - len(b)) > max_d:
        return None
    if a == b:
        return 0
    if len(a) > len(b):  # keep the band test tight
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j in range(1, len(b) + 1):
        bj = b[j - 1]
        cur = [j]
        row_min = j
        for i in range(1, len(a) + 1):
            cost = 0 if a[i - 1] == bj else 1
            v = min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + cost)
            cur.append(v)
            if v < row_min:
                row_min = v
        if row_min > max_d:
            return None
        prev = cur
    return prev[-1] if prev[-1] <= max_d else None


# characters that end the literal prefix of a regex (anything the
# engine could interpret); a leading literal run lets both dictionary
# flavors restrict the candidate range before running the automaton —
# the poor man's version of Lucene's term-automaton intersection
_REGEX_META = set(r"\.^$*+?()[]{}|")


class _NegKey:
    """Sort-key wrapper inverting one component's order so a
    descending field sort keeps the doc_id tie-break ASCENDING
    (list.sort(reverse=True) would flip both)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v


def _regex_literal_prefix(pattern: str) -> str:
    lit = []
    for i, ch in enumerate(pattern):
        if ch in _REGEX_META:
            # 'ab+' — the '+' quantifies the last literal char, which
            # therefore may appear 0+ times filtered... it appears 1+
            # times for '+', but 0 times for '*'/'?'/'{0,..}': drop the
            # char before any quantifier to stay conservative
            if ch in "*?{" and lit:
                lit.pop()
            break
        lit.append(ch)
    return "".join(lit)


_BLOCK_COLS = ("block_offsets", "block_last", "block_max_tf", "block_min_dl")


def _scan(files: "dict[int, list[str]]", columns: "list[str]") -> dict:
    """bucket -> its record batches, read by ONE Arrow dataset scan over
    the files of every bucket in ``files`` and kept as they arrive,
    never combined. Arrow's own IO and CPU pools read the files, so no
    pool of ours fans them out. A batch comes from one file, and the
    file's ``bucket=`` directory (a hive partition column) names its
    bucket."""
    out: dict[int, list] = {b: [] for b in files}
    paths = [f for fs in files.values() for f in fs]
    if not paths:
        return out
    tbl = pq.read_table(paths, columns=[*columns, "bucket"],
                        partitioning="hive")
    for batch in tbl.to_batches():
        if batch.num_rows:
            out[batch.column("bucket")[0].as_py()].append(
                batch.select(columns))
    return out


def _term_spans(batch) -> "list[tuple[str, int, int]]":
    """(term, start, stop) of each run of equal terms in a record batch
    of posting rows. The writer sorts postings by term before its
    partitioned write (index/storage.py), but the files do not keep
    that order, so a term may have several runs in one batch: each run
    is one span."""
    import numpy as np
    import pyarrow.compute as pc

    n = batch.num_rows
    term = batch.column("term")
    edges = (np.flatnonzero(pc.not_equal(
        term.slice(1), term.slice(0, n - 1)
    ).to_numpy(zero_copy_only=False)) + 1).tolist()
    starts = [0, *edges]
    names = term.take(starts).to_pylist()
    return list(zip(names, starts, [*edges, n]))


class _BatchRows:
    """The numpy views one record batch of posting rows is sliced into
    rows from, computed once per batch: ``segment_id``, the payload
    offsets into the batch's data buffer, and the offsets and values of
    the four ``block_*`` lists. Every view shares the batch's Arrow
    buffers; nothing is copied."""

    __slots__ = ("seg", "pay_off", "pay", "blocks")

    def __init__(self, batch):
        import numpy as np
        import pyarrow as pa

        pay = batch.column("payload")
        _valid, offsets, data = pay.buffers()
        width = np.int64 if pa.types.is_large_binary(pay.type) else np.int32
        self.seg = batch.column("segment_id").to_numpy()
        self.pay_off = np.frombuffer(offsets, dtype=width)[
            pay.offset: pay.offset + len(pay) + 1]
        self.pay = memoryview(data if data is not None else b"")
        self.blocks = [
            (col.offsets.to_numpy(), col.values.to_numpy())
            for col in map(batch.column, _BLOCK_COLS)
        ]

    def rows(self, term: str, start: int, stop: int) -> list[dict]:
        """Posting row dicts of rows ``[start, stop)``, all of ``term``:
        the payload a memoryview of the data buffer, the block lists
        numpy views."""
        segs = self.seg[start:stop].tolist()
        pay = self.pay_off[start: stop + 1].tolist()
        blocks = [
            (name, off[start: stop + 1].tolist(), vals)
            for name, (off, vals) in zip(_BLOCK_COLS, self.blocks)
        ]
        out = []
        for j, seg in enumerate(segs):
            row = {"term": term, "segment_id": seg,
                   "payload": self.pay[pay[j]: pay[j + 1]]}
            for name, off, vals in blocks:
                row[name] = vals[off[j]: off[j + 1]]
            out.append(row)
        return out


class _Bucket:
    """One resident bucket: its scan's record batches as they came
    (``nbytes``, their Arrow bytes, is what the bucket budget charges),
    each batch's views (:class:`_BatchRows`), and the span index
    ``term -> [(views, start, stop)]`` over all of them. The views live
    and die with the bucket's cache entry."""

    __slots__ = ("batches", "nbytes", "spans")

    def __init__(self, batches: list):
        self.batches = batches
        self.nbytes = sum(b.nbytes for b in batches)
        self.spans: dict[str, list] = {}
        for batch in batches:
            if not batch.num_rows:
                continue
            views = _BatchRows(batch)
            for term, start, stop in _term_spans(batch):
                self.spans.setdefault(term, []).append((views, start, stop))

    def rows(self, term: str) -> list[dict]:
        return [
            row
            for views, start, stop in self.spans.get(term, ())
            for row in views.rows(term, start, stop)
        ]


class _TermRows(list):
    """The posting rows (one per segment) of one (bucket, term), as the
    row caches hold them. ``plist`` memoizes the term's
    :class:`_TermList` on the cached object itself, so it is evicted
    and dropped on a generation change together with the rows — no
    cache of its own to clear."""

    __slots__ = ("plist",)

    def __init__(self, rows=()):
        super().__init__(rows)
        self.plist = None


class _TermList:
    """One term's postings across its segment rows, decoded once and
    concatenated in doc-id order, at 13 to 16 bytes per posting:
    ``docs`` (int32 while the last id is below 2^31, else int64),
    ``tfs`` (the narrowest of uint8, uint16 and int32 that holds the
    list's largest tf; a reader widens before it sums them) and
    ``impacts`` (float64), the idf-less BM25 impact at the ``avgdl``
    the list was built with. Doc lengths are not kept per posting: the
    generation's ``kernel._DocLens`` is their one source, and the
    payload's own lengths must equal it. Segments partition the doc-id
    space, so the rows are ordered by their first doc id and the
    concatenation must be strictly increasing; a term whose rows
    overlap raises. Every array is read-only: ``term_docs`` hands
    ``docs`` out as is."""

    __slots__ = ("docs", "tfs", "impacts")

    def __init__(self, term: str, rows, lens: _DocLens, avgdl: float):
        import numpy as np

        from rse_spark.index.codec import bm25_impact, decode_postings

        parts = [decode_postings(r["payload"]) for r in rows]
        parts = sorted(
            (p for p in parts if len(p[0])), key=lambda p: int(p[0][0])
        )
        if len(parts) == 1:
            docs, tfs, dls = parts[0]
        elif parts:
            docs, tfs, dls = (
                np.concatenate([p[i] for p in parts]) for i in range(3)
            )
        else:
            docs = tfs = dls = np.empty(0, dtype=np.int64)
        if len(docs) > 1 and not (docs[1:] > docs[:-1]).all():
            raise ValueError(
                f"posting rows of term {term!r} overlap: doc ids are "
                f"not strictly increasing across its segments"
            )
        if not np.array_equal(lens.of(docs), dls):
            raise ValueError(
                f"posting payload of {term!r} carries doc lengths that "
                f"disagree with the index's per-document doc_len — "
                f"rebuild the index"
            )
        self.impacts = bm25_impact(tfs, dls, avgdl)
        if len(docs) and docs[-1] < 1 << 31:
            docs = docs.astype(np.int32)
        top = int(tfs.max()) if len(tfs) else 0
        self.docs, self.tfs = docs, tfs.astype(
            np.uint8 if top < 1 << 8
            else np.uint16 if top < 1 << 16 else np.int32)
        for a in (self.docs, self.tfs, self.impacts):
            a.flags.writeable = False

    @property
    def nbytes(self) -> int:
        return self.docs.nbytes + self.tfs.nbytes + self.impacts.nbytes


class DirectSearcher:
    """Driver/process-local searcher over a persisted index root.

    A resident bucket is one Arrow scan's record batches, kept as they
    arrived, with the numpy views each batch's rows are sliced from
    (segment ids, payload offsets, the ``block_*`` lists' offsets and
    values) and a term span index, all computed once at load
    (:class:`_Bucket`). They belong to the bucket's cache entry, so
    eviction and a writer commit drop them with it."""

    def __init__(self, root: str, analyzer: str = "code",
                 max_bucket_bytes: int | None = None,
                 max_vocab_in_memory: int = 10_000_000,
                 seg_groups: "list | None" = None):
        """``max_bucket_bytes`` bounds the columnar bucket cache: each
        resident bucket is charged its batches' Arrow bytes plus the
        decoded term lists (``_TermList``) built from its rows, and when the
        total exceeds the budget, least-recently-queried buckets (with
        their term rows and decoded lists) are evicted and reload on
        the next miss; the bucket in use always stays. Term rows read
        cold are charged the same way against
        ``max_cold_rows_bytes``. ``cached_bucket_bytes`` reports the
        Arrow bytes alone, ``held_bytes`` everything the caches hold.
        ``None`` = unbounded (bench/replica default where the working
        set is known to fit).

        ``max_vocab_in_memory``: above this vocabulary size (read from
        parquet footers, no data scan) the driver-side dict is NOT
        built; term lookups fall back to per-term filtered parquet
        reads automatically (the documented fallback of
        index/storage.py:preload_terms, now applied instead of
        advised).

        ``seg_groups`` restricts posting READS to the given segment
        groups — this instance then scores only that doc partition
        while every statistic it ranks with (term_dict df, n_docs,
        avgdl) stays GLOBAL, which is exactly the distributed-search
        contract (ES/Solr: shards score locally with broadcast global
        stats, so shard-local ranks merge into the exact global
        ranking). The scatter-gather coordinator is
        ``query.shard.ShardedSearcher``. ``None`` = the whole index.

        ``root`` may be an index ALIAS (index/alias.py): it is
        resolved at open, and the alias file joins the per-query
        generation signature — a blue/green flip re-points a LIVE
        replica on its next query (all caches dropped), the same
        bounded-staleness contract as a writer commit."""
        from rse_spark.index.alias import resolve as _alias_resolve

        self._given_root = root
        self._alias_resolve = _alias_resolve
        root = _alias_resolve(root)
        self._alias_file = (
            os.path.join(self._given_root, "ALIAS")
            if root != self._given_root else None
        )
        self.root = root
        self.analyzer = analyzer
        self.max_bucket_bytes = max_bucket_bytes
        self.max_vocab_in_memory = max_vocab_in_memory
        self.seg_groups = (
            sorted(str(g) for g in seg_groups)
            if seg_groups is not None else None
        )
        self._load_meta()
        # index-generation awareness: writers bump manifest/GENERATION
        # on every commit (index/storage.py); each query stat()s that
        # one tiny file and, on change, reloads the dictionary/stats
        # and drops all cached buckets — so a long-lived replica never
        # serves stale doc ids across a concurrent compaction
        # (round-4 VERDICT item 3).
        self._gen_path = os.path.join(root, "manifest", "GENERATION")
        self._gen_sig = self._gen_stat()
        # bucket -> _Bucket (its record batches, their numpy views and
        # the term span index) and a per-term extracted-row cache.
        # Batches stay columnar (payload bytes remain Arrow buffers) so
        # replica memory per bucket is ~the on-disk bucket size, not
        # Python row dicts; row dicts exist only for terms queried.
        from collections import OrderedDict

        self._bucket_tables: OrderedDict[int, _Bucket] = OrderedDict()
        # bytes charged per resident bucket (its Arrow tables plus its
        # rows' decoded term lists), and the Arrow part alone
        self._bucket_bytes: dict[int, int] = {}
        self._table_bytes: dict[int, int] = {}
        self._term_rows: dict[tuple[int, str], _TermRows] = {}
        # cold-path O(term) reads (r7): when a bucket is NOT resident
        # and its on-disk size exceeds ``cold_pruned_min_bytes``, a
        # term's rows are read via parquet row-group statistics on
        # the term column (files are sortWithinPartitions("term"), so
        # the term's groups are contiguous) instead of loading the
        # whole bucket — at 100x scale a bucket is ~1/16th of the
        # posting store, gigabytes of IO to answer one cold term.
        # BELOW the threshold the whole-bucket load wins, measured at
        # both bench scales (sf0.1: 33 vs 41ms cold p50; sf1.0, 8MB
        # buckets: 273 vs 359ms): a query stream touches each small
        # bucket several times, so one slurp + span index amortizes
        # while per-term reads pay footer metadata every time. The
        # threshold makes the choice a function of the INDEX's size,
        # not of the host. Whole-bucket loads also remain the
        # warm-cache fill (warm()/_prefetch_buckets). Flag off ->
        # legacy always-full loads.
        self.cold_pruned = True
        self.cold_pruned_min_bytes = 64 << 20
        self._cold_rows: OrderedDict[tuple[int, str], _TermRows] = (
            OrderedDict()
        )
        self._cold_rows_bytes: dict[tuple[int, str], int] = {}
        self.max_cold_rows_bytes = 256 << 20
        self._bucket_meta: dict[int, list] = {}
        self._bucket_disk_bytes: dict[int, int] = {}
        self._bucket_files_cache: dict[int, list[str]] = {}
        # cumulative pruning counters (all threads; prefetch fans the
        # per-term reads across a pool, so thread-local stats alone
        # can miss the calling thread)
        self._cold_counters = {
            "row_groups_total": 0, "row_groups_read": 0, "terms": 0,
        }
        # decoded token slots per term (phrase/NEAR serving path):
        # LRU, byte-budgeted like the bucket cache, invalidated on
        # generation change. A dense term's slot bitmap
        # (_term_bitmap) is charged to the same budget and evicted
        # with its term's slots.
        self._pos_slots: OrderedDict[str, object] = OrderedDict()
        self._pos_bitmaps: dict[str, object] = {}
        self._pos_bytes = 0
        self.max_pos_bytes = 256 << 20
        # this generation's per-document lengths (kernel._DocLens) and
        # token slots (kernel._SlotSpace): None until first built
        self._lens = None
        self._slots = None
        # generation signature of the last passed
        # _check_positions_coverage (None: check on every query)
        self._pos_checked_sig = None
        # memoized metadata presence sets for qlang filter atoms
        # (lang:python etc.); cleared on writer commits
        self._meta_docs_cache: dict[tuple[str, str], object] = {}
        # opt-in query RESULT cache (ES shard request cache):
        # (surface, args) -> finished hit list, LRU-capped at
        # max_result_cache entries, invalidated wholesale on writer
        # commits like every other cache. Default OFF (0) so latency
        # benchmarks measure real work, matching ES (hit pages are
        # not request-cached by default).
        self.max_result_cache = 0
        self._result_cache: OrderedDict = OrderedDict()
        self._result_hits = 0
        self._result_misses = 0
        # per-file doc-id [min, max] of the enriched table (segments
        # partition the id space, so a point lookup touches ONE file);
        # built on first more_like_this, dropped on writer commits
        self._enriched_ranges_cache: "list | None" = None
        import threading

        # the HTTP endpoint serves one searcher from many threads.
        # Per-bucket locks: concurrent first touches of DIFFERENT
        # buckets load in parallel; only same-bucket racers serialize.
        self._meta_lock = threading.Lock()
        self._bucket_locks: dict[int, threading.Lock] = {}
        self._threading = threading
        # telemetry is PER-THREAD: many HTTP threads share one searcher
        # and must each read their own query's stats, not a racer's
        self._tls = threading.local()

    _COLS = [
        "term", "segment_id", "payload", "block_offsets",
        "block_last", "block_max_tf", "block_min_dl",
    ]

    def _load_meta(self) -> None:
        """(Re)load corpus stats + the term dictionary (in-memory dict
        up to ``max_vocab_in_memory`` terms, lazy per-term parquet
        lookups beyond — vocab size comes from the parquet footers, so
        the decision itself never scans the data)."""
        stats = pq.read_table(
            os.path.join(self.root, "corpus_stats")
        ).to_pylist()[0]
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        ts_path = os.path.join(self.root, "term_stats")
        n_terms = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(ts_path, "*.parquet"))
        )
        if n_terms > self.max_vocab_in_memory:
            self.term_dict = _LazyTermDict(ts_path, n_terms)
            return
        tdict = pq.read_table(
            ts_path, columns=["term", "df", "bucket"],
        )
        self.term_dict = {
            t: (int(d), int(b))
            for t, d, b in zip(
                tdict["term"].to_pylist(),
                tdict["df"].to_pylist(),
                tdict["bucket"].to_pylist(),
            )
        }

    def _gen_stat(self):
        """Cheap change signature of the writers' generation file —
        one stat() syscall (two when opened through an alias: the
        alias file is part of the signature, so a blue/green flip
        triggers the same reload path as a commit). None when the
        index has no generation tracking (pre-feature layouts:
        nothing to detect)."""
        try:
            st = os.stat(self._gen_path)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if self._alias_file is None:
            return sig
        try:
            ast = os.stat(self._alias_file)
            return (sig, (ast.st_mtime_ns, ast.st_size, ast.st_ino))
        except OSError:
            return (sig, None)

    def _check_generation(self) -> None:
        """Reload meta + drop caches if a writer committed since we
        loaded. Called at every query entry; granularity is per call,
        so a multi-step query (qlang) may straddle a commit — same
        contract as any non-snapshot reader."""
        sig = self._gen_stat()
        if sig == self._gen_sig:
            return
        with self._meta_lock:
            # signature must be taken BEFORE the reload: a writer commit
            # that races _load_meta() would otherwise be absorbed into
            # the stored signature while the loaded metadata predates
            # it, and the replica would serve stale meta until the NEXT
            # commit. With the pre-load stamp, such a racer leaves the
            # on-disk signature != stored signature, so the next query
            # reloads again — staleness is bounded by one commit, as
            # the generation feature promises.
            pre = self._gen_stat()
            if pre == self._gen_sig:
                return
            if self._alias_file is not None:
                # the alias may have flipped to a different root:
                # re-resolve and re-derive every root-relative path
                # before reloading (a flip to the SAME root degrades
                # to an ordinary reload)
                self.root = self._alias_resolve(self._given_root)
                self._gen_path = os.path.join(
                    self.root, "manifest", "GENERATION"
                )
                pre = self._gen_stat()
            self._load_meta()
            self._bucket_tables.clear()
            self._bucket_bytes.clear()
            self._table_bytes.clear()
            self._term_rows.clear()
            self._cold_rows.clear()
            self._cold_rows_bytes.clear()
            self._bucket_meta.clear()
            self._bucket_disk_bytes.clear()
            self._bucket_files_cache.clear()
            self._pos_slots.clear()
            self._pos_bitmaps.clear()
            self._pos_bytes = 0
            self._lens = None
            self._slots = None
            self._meta_docs_cache.clear()
            self._enriched_ranges_cache = None
            self._result_cache.clear()
            self._gen_sig = pre

    @property
    def last_stats(self) -> dict[str, int]:
        """Block-decode telemetry of the CALLING thread's most recent
        ``search(algo='wand')``."""
        return getattr(self._tls, "stats", {})

    @property
    def last_fetch_stats(self) -> dict[str, int]:
        """Row-group pruning telemetry of the CALLING thread's most
        recent ``fetch_content`` (row_groups_read vs row_groups_total;
        meta_* for the id-bridge lookup)."""
        return getattr(self._tls, "fetch_stats", {})

    @property
    def generation(self) -> int:
        """Writer-committed index generation currently on disk (0 when
        the layout predates generation tracking)."""
        try:
            with open(self._gen_path) as f:
                return int(f.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    @property
    def cached_bucket_bytes(self) -> int:
        """Arrow bytes of the resident buckets' tables."""
        with self._meta_lock:
            return sum(self._table_bytes.values())

    @property
    def held_bytes(self) -> int:
        """Bytes the budgeted caches hold: resident buckets' tables and
        cold term rows, the decoded term lists built from either, and
        the terms' token slots with their slot bitmaps."""
        with self._meta_lock:
            return (
                sum(self._bucket_bytes.values())
                + sum(self._cold_rows_bytes.values())
                + self._pos_bytes
            )

    def _bucket_lock(self, bucket: int):
        with self._meta_lock:
            lock = self._bucket_locks.get(bucket)
            if lock is None:
                lock = self._bucket_locks[bucket] = self._threading.Lock()
            return lock

    def _touch(self, bucket: int) -> "_Bucket | None":
        """LRU-ordered cache lookup (newest at the right end)."""
        with self._meta_lock:
            tables = self._bucket_tables.get(bucket)
            if tables is not None:
                self._bucket_tables.move_to_end(bucket)
            return tables

    def _publish(self, bucket: int, loaded: _Bucket) -> None:
        """Install a freshly loaded bucket and evict least-recently
        used buckets beyond the byte budget."""
        with self._meta_lock:
            self._bucket_tables[bucket] = loaded
            self._bucket_tables.move_to_end(bucket)
            self._bucket_bytes[bucket] = self._table_bytes[bucket] = (
                loaded.nbytes)
            self._evict_buckets()

    def _evict_buckets(self) -> None:
        """Drop least recently used buckets, with their term rows and
        the decoded lists on them, until the charged bytes fit
        ``max_bucket_bytes`` or one bucket is left (the newest, which
        the caller is using). Caller holds ``_meta_lock``."""
        if self.max_bucket_bytes is None:
            return
        total = sum(self._bucket_bytes.values())
        while len(self._bucket_tables) > 1 and total > self.max_bucket_bytes:
            victim, _ = self._bucket_tables.popitem(last=False)
            total -= self._bucket_bytes.pop(victim)
            del self._table_bytes[victim]
            for key in [k for k in self._term_rows if k[0] == victim]:
                del self._term_rows[key]

    def _bucket_files(self, bucket: int) -> list[str]:
        # memoized per generation: the size probe, the metadata scan
        # and the loader all need the same listing, and a glob costs
        # milliseconds on this filesystem — visible on cold p50
        files = self._bucket_files_cache.get(bucket)
        if files is not None:
            return files
        if self.seg_groups is None:
            pattern = os.path.join(
                self.root, "postings", "seg_group=*",
                f"bucket={bucket}", "*.parquet",
            )
            files = sorted(glob.glob(pattern))
        else:
            # sharded read: only this shard's doc partition
            files = sorted(
                f
                for g in self.seg_groups
                for f in glob.glob(os.path.join(
                    self.root, "postings", f"seg_group={g}",
                    f"bucket={bucket}", "*.parquet",
                ))
            )
        with self._meta_lock:
            self._bucket_files_cache[bucket] = files
        return files

    def _bucket_bytes_on_disk(self, bucket: int) -> int:
        """Total on-disk bytes of the bucket's files (stat only,
        cached): the scale signal that picks whole-bucket vs pruned
        cold loads."""
        b = self._bucket_disk_bytes.get(bucket)
        if b is None:
            b = 0
            for f in self._bucket_files(bucket):
                try:
                    b += os.path.getsize(f)
                except OSError:
                    pass
            with self._meta_lock:
                self._bucket_disk_bytes[bucket] = b
        return b

    def _bucket_file_meta(self, bucket: int) -> list:
        """Per-file row-group metadata for the cold pruned path:
        [(path, n_row_groups, term_mins, term_maxs)]; mins/maxs are
        None when any group lacks term statistics (then every group of
        that file is read — never silently wrong)."""
        meta = self._bucket_meta.get(bucket)
        if meta is not None:
            return meta

        def _one(f: str):
            md = pq.ParquetFile(f).metadata
            names = [
                md.schema.column(i).name for i in range(md.num_columns)
            ]
            try:
                ci = names.index("term")
            except ValueError:
                return (f, md.num_row_groups, None, None)
            mins: list | None = []
            maxs: list | None = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    mins = maxs = None
                    break
                mins.append(st.min)
                maxs.append(st.max)
            return (f, md.num_row_groups, mins, maxs)

        meta = [_one(f) for f in self._bucket_files(bucket)]
        with self._meta_lock:
            self._bucket_meta[bucket] = meta
        return meta

    def _term_rows_cold(self, bucket: int, term: str) -> list[dict]:
        """O(term) first touch: read only the row groups whose term
        [min, max] statistics straddle ``term`` and filter the term's
        rows out of them, which is correct whatever the files' row
        order, exactly the trick ``read_ids_pruned`` plays for the
        content store. The whole-
        bucket columnar cache is untouched — warm() still fills it.
        The term's rows are filtered out of each file's row groups (a
        copy of just them, which the cold budget charges) and sliced
        into rows like a resident bucket's (:class:`_BatchRows`)."""
        import bisect

        import pyarrow.compute as pc

        total = read = 0
        todo: list[tuple[str, list[int]]] = []
        for f, n_rg, mins, maxs in self._bucket_file_meta(bucket):
            total += n_rg
            if mins is None:
                keep = list(range(n_rg))
            else:
                lo = bisect.bisect_left(maxs, term)
                keep = []
                for rg in range(lo, n_rg):
                    if mins[rg] > term:
                        break
                    keep.append(rg)
            if keep:
                read += len(keep)
                todo.append((f, keep))

        rows = _TermRows()
        for f, keep in todo:
            tbl = pq.ParquetFile(f).read_row_groups(
                keep, columns=self._COLS
            )
            for batch in tbl.filter(pc.equal(tbl["term"], term)).to_batches():
                if batch.num_rows:
                    rows.extend(
                        _BatchRows(batch).rows(term, 0, batch.num_rows))
        self._tls.cold_stats = {
            "row_groups_total": total, "row_groups_read": read,
        }
        with self._meta_lock:
            self._cold_counters["row_groups_total"] += total
            self._cold_counters["row_groups_read"] += read
            self._cold_counters["terms"] += 1
        return rows

    @property
    def last_cold_stats(self) -> dict:
        """Row-group pruning telemetry of the CALLING thread's most
        recent cold (non-resident-bucket) term read."""
        return getattr(self._tls, "cold_stats", {})

    @property
    def cold_read_stats(self) -> dict:
        """Cumulative row-group pruning counters across ALL cold term
        reads (every thread) since construction."""
        with self._meta_lock:
            return dict(self._cold_counters)

    def _cold_rows_put(self, key: tuple[int, str],
                       rows: list[dict]) -> None:
        nbytes = 256 + sum(
            len(r.get("payload") or b"") + 160 for r in rows
        )
        with self._meta_lock:
            self._cold_rows[key] = rows
            self._cold_rows.move_to_end(key)
            self._cold_rows_bytes[key] = nbytes
            self._evict_cold_rows()

    def _evict_cold_rows(self) -> None:
        """Drop least recently used cold term rows, with their decoded
        lists, until the charged bytes fit ``max_cold_rows_bytes`` or
        one entry is left (the newest). Caller holds ``_meta_lock``."""
        total = sum(self._cold_rows_bytes.values())
        while len(self._cold_rows) > 1 and total > self.max_cold_rows_bytes:
            victim, _ = self._cold_rows.popitem(last=False)
            total -= self._cold_rows_bytes.pop(victim)

    def _load_bucket(self, bucket: int) -> _Bucket:
        """Read one bucket's parquet files with ONE Arrow scan and keep
        its record batches as they arrive (combining them would copy
        the whole bucket once more). Each batch gets its numpy views
        and term spans once, here (:class:`_Bucket`); a term's rows
        are then slices of them."""
        loaded = self._touch(bucket)
        if loaded is not None:
            return loaded
        with self._bucket_lock(bucket):
            loaded = self._touch(bucket)
            if loaded is not None:
                return loaded
            gen0 = self._gen_sig  # snapshot: don't cache across a reload
            loaded = _Bucket(_scan(
                {bucket: self._bucket_files(bucket)}, self._COLS)[bucket])
            # publish only when fully built (evicts LRU past budget) —
            # and only if no generation flip happened mid-read, else a
            # pre-commit load would poison the just-invalidated cache
            # (the current query still uses the bucket it read)
            if self._gen_sig == gen0:
                self._publish(bucket, loaded)
            return loaded

    def _bucket_rows(self, bucket: int, term: str) -> _TermRows:
        """All (segment) posting rows of one term.

        Resident bucket: slice the term's runs out of the cached
        batches' numpy views (:class:`_BatchRows`). Non-resident +
        ``cold_pruned``: O(term) row-group-pruned read
        (``_term_rows_cold``), cached in its own LRU byte budget — the
        bucket itself stays unloaded until a warm()/prefetch fill asks
        for it. Legacy (cold_pruned=False): first touch loads the whole
        bucket."""
        key = (bucket, term)
        rows = self._term_rows.get(key)
        if rows is not None:
            return rows
        if (
            self._touch(bucket) is None
            and self.cold_pruned
            and self._bucket_bytes_on_disk(bucket)
            >= self.cold_pruned_min_bytes
        ):
            with self._meta_lock:
                rows = self._cold_rows.get(key)
                if rows is not None:
                    self._cold_rows.move_to_end(key)
            if rows is None:
                rows = self._term_rows_cold(bucket, term)
                self._cold_rows_put(key, rows)
            return rows
        rows = _TermRows(self._load_bucket(bucket).rows(term))
        with self._meta_lock:
            # cache the row form only while its bucket is resident,
            # so eviction keeps the budget honest; a racer's rows (and
            # the decoded list charged for them) win over ours
            if bucket in self._bucket_tables:
                rows = self._term_rows.setdefault(key, rows)
        return rows

    def _term_list(self, term: str) -> "_TermList | None":
        """The doc-ordered decoded postings of one PRE-ANALYZED term
        (None when it is not indexed), memoized on the term's cached
        rows — a warm replica pays the varint decode and the
        cross-segment concatenation once per term, not once per
        query. The memo's bytes are charged to the cache holding the
        rows (:meth:`_charge_memo`).

        A writer that commits between reading the rows and reading the
        doc-length table leaves the two from different generations, so
        the decode's length check fails with no fault in the index: the
        replica then reloads (:meth:`_check_generation`) and reads both
        once more."""
        for retry in (False, True):
            gen = self._gen_sig
            info = self.term_dict.get(term)
            if not info:
                return None
            key = (info[1], term)
            rows = self._bucket_rows(*key)
            if rows.plist is not None:
                return rows.plist
            try:
                plist = _TermList(term, rows, self._doc_lens(), self.avgdl)
            except ValueError as err:
                if self._gen_stat() == gen:
                    raise  # the index disagrees with itself
                if retry:
                    raise ValueError(
                        f"term {term!r} was read across two writer "
                        f"commits in a row; retry the query"
                    ) from err
                self._check_generation()
                continue
            with self._meta_lock:
                if rows.plist is None:
                    rows.plist = plist
                    self._charge_memo(key, rows, plist.nbytes)
                return rows.plist

    def _charge_memo(self, key: tuple[int, str], rows: _TermRows,
                     nbytes: int) -> None:
        """Charge a decoded list built on ``rows`` to the cache entry
        holding them — the resident bucket's bytes or the cold rows'
        — and evict past that cache's budget; the entry itself stays.
        Rows no cache holds (their bucket was evicted meanwhile) carry
        their memo only as long as the query does. Caller holds
        ``_meta_lock``."""
        if self._term_rows.get(key) is rows:
            self._bucket_bytes[key[0]] += nbytes
            self._bucket_tables.move_to_end(key[0])
            self._evict_buckets()
        elif self._cold_rows.get(key) is rows:
            self._cold_rows_bytes[key] += nbytes
            self._cold_rows.move_to_end(key)
            self._evict_cold_rows()

    def _prefetch_buckets(self, buckets) -> None:
        """Load the given buckets that are not cached with ONE Arrow
        scan over all their files (:func:`_scan`), then give each its
        views and span index (:class:`_Bucket`). A multi-term query
        whose terms hash to N distinct cold buckets otherwise pays N
        first-touches, each with the scan's fixed cost. MoreLikeThis
        (10 rare terms) and prefix queries (up to 64 expansions) feel
        this most."""
        todo = sorted(b for b in set(buckets) if self._touch(b) is None)
        if not todo:
            return
        gen0 = self._gen_sig
        scanned = _scan({b: self._bucket_files(b) for b in todo}, self._COLS)
        for b in todo:
            # as in _load_bucket: a racer's load wins, and nothing read
            # before a writer commit is cached after it
            with self._bucket_lock(b):
                if self._touch(b) is None and self._gen_sig == gen0:
                    self._publish(b, _Bucket(scanned[b]))

    def _prefetch_terms(self, pairs) -> None:
        """Query-entry prefetch. Buckets BELOW the pruned-size
        threshold prefetch as whole buckets, deduped — fanning out
        per (bucket, term) pair would convoy same-bucket pairs on the
        bucket lock while they hold pool slots (measured 2x on the
        64-term prefix path). Pairs in big (pruned-eligible) buckets
        fetch their row-group-pruned rows concurrently instead — no
        whole-bucket IO on the query path."""
        pairs = {p for p in pairs if p is not None}
        if not self.cold_pruned:
            self._prefetch_buckets(b for b, _t in pairs)
            return
        todo = [
            (b, t) for b, t in pairs
            if (b, t) not in self._term_rows
            and (b, t) not in self._cold_rows
            and self._touch(b) is None
        ]
        small = {
            b for b, _t in todo
            if self._bucket_bytes_on_disk(b) < self.cold_pruned_min_bytes
        }
        if small:
            self._prefetch_buckets(small)
            todo = [(b, t) for b, t in todo if b not in small]
        # (measured and rejected: also fanning the per-term row slice
        # + first-touch decode across the pool — cold p95 went 48 ->
        # 72ms at sf0.1; the Python-side halves of those steps thrash
        # the GIL on the heaviest query. The scorer decodes lazily.)
        if len(todo) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(8, len(todo))
            ) as ex:
                list(ex.map(
                    lambda p: self._bucket_rows(p[0], p[1]), todo
                ))

    def warm(self, qtexts: list[str]) -> int:
        """Pre-load the buckets (and term rows) a query stream will
        touch, so first-request latency is excluded from steady-state
        serving. Returns the number of distinct buckets loaded.
        This is the whole-bucket warm-cache FILL: it always loads the
        full columnar bucket (cold_pruned only changes the per-query
        cold path, never this): one Arrow scan over all the buckets'
        files (:meth:`_prefetch_buckets`), then each queried term's rows
        sliced from the batches' views."""
        pairs = [
            (info[1], t)
            for qtext in qtexts
            for t in query_terms(qtext, self.analyzer)
            for info in (self.term_dict.get(t),)
            if info
        ]
        buckets = {b for b, _t in pairs}
        self._prefetch_buckets(buckets)
        for b, t in pairs:
            self._load_bucket(b)
            self._bucket_rows(b, t)
        return len(buckets)

    def _matched_lists(self, terms: list[str], weights: dict[str, float]):
        """Collect posting-list cursors for the query terms."""
        iters: dict[int, list[_ListIter]] = {}
        for t in terms:
            info = self.term_dict.get(t)
            if not info:
                continue
            for row in self._bucket_rows(info[1], t):
                iters.setdefault(int(row["segment_id"]), []).append(
                    _ListIter(
                        row["payload"],
                        row["block_offsets"],
                        row["block_last"],
                        row["block_max_tf"],
                        row["block_min_dl"],
                        weights[t],
                        self.avgdl,
                    )
                )
        return iters

    def search(self, qtext: str, k: int = 10, mode: str = "or",
               algo: str = "numpy", min_match: "int | None" = None,
               after: "tuple[float, int] | None" = None,
               fvf: "str | None" = None):
        """Top-k BM25 — returns [(doc_id, score, n_terms_matched)].

        ``algo='numpy'`` (default): decode every matched list with the
        vectorized codec and aggregate scores with bincount — exact,
        and at posting counts up to ~10^6 faster than cursor-based
        pruning because ALL per-posting math is C. ``algo='wand'``:
        the block-skipping cursor path (identical results) — wins when
        a single giant list dwarfs k and block upper bounds are tight.

        ``min_match`` (Lucene BooleanQuery minimumNumberShouldMatch /
        ES minimum_should_match): keep only docs matching at least
        that many DISTINCT query terms — the dial between mode='or'
        (1) and mode='and' (all). Numpy algo only: the count is one
        extra bincount on work the scorer already did.

        ``after`` (ES search_after): the (score, doc_id) sort key of
        the previous page's last hit; only docs STRICTLY after it in
        (score desc, doc_id asc) order qualify — deep pagination
        without from+size over-fetch: page N costs the same one
        scoring pass as page 1, never k*N heap slots. Numpy algo only.

        ``fvf='ln1p_dlen'`` (ES function_score field_value_factor,
        modifier=ln1p, boost_mode=multiply): final score =
        bm25 * ln(1 + doc_length) — the shaping factor rides the dl
        the postings already carry, so it costs one vectorized log and
        changes the RANKING (applied before top-k). Declarative twin:
        harness.q_function_score (same operator over the n_chars
        metadata field). Numpy algo only.
        """
        return self._search_qtf(
            query_terms(qtext, self.analyzer), k, mode, algo,
            min_match=min_match, after=after, fvf=fvf,
        )

    def search_terms(self, terms: list[str], k: int = 10,
                     mode: str = "or", algo: str = "numpy",
                     within=None,
                     boosts: "dict[str, float] | None" = None,
                     min_match: "int | None" = None,
                     stats_override: "tuple | None" = None,
                     fvf: "str | None" = None):
        """Top-k over PRE-ANALYZED terms (no tokenizer pass) — the
        entry point for dictionary-expanded queries (prefix), where
        re-analyzing expanded vocabulary terms would re-stem them.

        ``within`` (sorted unique int64 ndarray) restricts scoring to
        those doc ids — the qlang path scores only qualifying docs in
        its single scoring pass. Implies the numpy algo.

        ``boosts`` maps a term to a score multiplier (qlang's
        ``atom^N``): it scales the term's whole BM25 contribution —
        folded into the per-term weight, so both the numpy and the
        WAND paths honor it with no extra work."""
        qtf: dict[str, float] = {}
        for t in terms:
            qtf[t] = qtf.get(t, 0.0) + 1.0
        if boosts:
            for t in qtf:
                qtf[t] *= boosts.get(t, 1.0)
        return self._search_qtf(qtf, k, mode, algo, within=within,
                                min_match=min_match,
                                stats_override=stats_override,
                                fvf=fvf)

    def term_docs(self, term: str) -> "object":
        """Sorted unique doc_id array of one PRE-ANALYZED term —
        presence only: the READ-ONLY ``docs`` array of the term's
        memoized doc-ordered list (:meth:`_term_list`), no BM25 math,
        no copy. This is the qlang presence path (query/qlang.py does
        its clause algebra on these arrays by sorted-list merges
        instead of full scoring passes)."""
        import numpy as np

        self._check_generation()
        plist = self._term_list(term)
        if plist is None:
            return np.empty(0, dtype=np.int64)
        return plist.docs

    _META_DOCS_CACHE_MAX = 256

    def meta_docs(self, field: str, value: str) -> "object":
        """Sorted doc-id presence set from the per-doc metadata table:
        docs whose ``field`` equals ``value`` (or matches the prefix
        when ``value`` ends with ``*``). The serving-tier primitive
        behind qlang metadata filter atoms (``lang:python``,
        ``repo:x``, ``path:src/*``): a pyarrow dataset read with the
        predicate pushed down, columns pruned to doc_id — no Spark
        job, no content read. Reads docs_meta/ when physical, else the
        enriched table (whose projection IS docs_meta for array-format
        indexes; parquet column pruning skips the tf arrays). Results
        are memoized until the next writer commit. Raises ValueError
        for a field the metadata table doesn't carry."""
        import numpy as np
        import pyarrow.dataset as pads

        self._check_generation()
        key = (field, value)
        with self._meta_lock:
            cached = self._meta_docs_cache.get(key)
        if cached is not None:
            return cached
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        names = set(dset.schema.names)
        if field not in names:
            have = sorted(
                n for n in names
                if n not in ("tf_terms", "tf_counts", "tf_positions",
                             "doc_id")
            )
            raise ValueError(
                f"unknown metadata field {field!r} (have {have})"
            )
        if value.endswith("*") and len(value) > 1:
            lo = value[:-1]
            hi = lo[:-1] + chr(ord(lo[-1]) + 1)
            expr = (pads.field(field) >= lo) & (pads.field(field) < hi)
        else:
            expr = pads.field(field) == value
        tbl = dset.to_table(columns=["doc_id"], filter=expr)
        arr = np.unique(tbl["doc_id"].to_numpy())
        arr.flags.writeable = False  # shared with every caller
        with self._meta_lock:
            if len(self._meta_docs_cache) >= self._META_DOCS_CACHE_MAX:
                self._meta_docs_cache.clear()
            self._meta_docs_cache[key] = arr
        return arr

    def meta_range_docs(self, field: str, lo: "int | None",
                        hi: "int | None") -> "object":
        """Sorted doc-id presence set for a NUMERIC metadata range —
        docs whose ``field`` is within ``[lo, hi]`` (either bound may
        be None for an open end, not both). The primitive behind
        qlang range atoms (``dlen:100..200``): a pyarrow dataset read
        with the comparison predicates pushed down, columns pruned to
        doc_id — same shape, caching, and generation contract as
        :meth:`meta_docs`. Raises ValueError for a missing field, a
        non-numeric field, or a fully open range."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads

        if lo is None and hi is None:
            raise ValueError(
                f"range on {field!r} needs at least one bound"
            )
        self._check_generation()
        key = (field, f"{lo}..{hi}")
        with self._meta_lock:
            cached = self._meta_docs_cache.get(key)
        if cached is not None:
            return cached
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        try:
            ftype = dset.schema.field(field).type
        except KeyError:
            raise ValueError(
                f"unknown metadata field {field!r}"
            ) from None
        if not (pa.types.is_integer(ftype) or pa.types.is_floating(
                ftype)):
            raise ValueError(
                f"metadata field {field!r} is {ftype}, not numeric — "
                f"range filters need a numeric field"
            )
        expr = None
        if lo is not None:
            expr = pads.field(field) >= lo
        if hi is not None:
            e2 = pads.field(field) <= hi
            expr = e2 if expr is None else (expr & e2)
        tbl = dset.to_table(columns=["doc_id"], filter=expr)
        arr = np.unique(tbl["doc_id"].to_numpy())
        arr.flags.writeable = False  # shared with every caller
        with self._meta_lock:
            if len(self._meta_docs_cache) >= self._META_DOCS_CACHE_MAX:
                self._meta_docs_cache.clear()
            self._meta_docs_cache[key] = arr
        return arr

    def expand_prefix(self, prefix: str, max_terms: int = 64) -> list[str]:
        """All indexed terms starting with ``prefix`` — a pure lookup
        on the in-memory term dictionary (|vocab| entries), capped like
        Lucene's rewrite limit, deterministic order. Under the lazy
        (huge-vocab) dictionary this becomes a term-range filtered
        parquet read instead of a scan of a dict that doesn't exist."""
        self._check_generation()
        if isinstance(self.term_dict, _LazyTermDict):
            return self.term_dict.expand_prefix(prefix, max_terms)
        return sorted(
            t for t in self.term_dict if t.startswith(prefix)
        )[:max_terms]

    def expand_regex(self, pattern: str, max_terms: int = 64) -> list[str]:
        """All indexed terms the (Python ``re``) pattern FULLY matches
        — Lucene RegexpQuery semantics: ``/ha.h/`` matches ``hash``,
        not ``hashes``; anchor-free substring search is spelled
        ``/.*ha.h.*/``. Capped like prefix expansion (deterministic
        sorted order). Work is bounded by the VOCABULARY, never the
        corpus: the in-memory dict filters by the pattern's literal
        prefix (C-level startswith) before running the automaton; the
        lazy dict turns that prefix into a term-range parquet filter.
        Raises ``re.error`` on a bad pattern (qlang validates patterns
        at parse time, so the HTTP surface 400s before reaching
        here)."""
        import re as _re

        self._check_generation()
        if isinstance(self.term_dict, _LazyTermDict):
            return self.term_dict.expand_regex(pattern, max_terms)
        rx = _re.compile(pattern)
        lit = _regex_literal_prefix(pattern)
        cand = (
            (t for t in self.term_dict if t.startswith(lit))
            if lit else self.term_dict
        )
        return sorted(t for t in cand if rx.fullmatch(t))[:max_terms]

    def expand_wildcard(self, pattern: str,
                        max_terms: int = 64) -> list[str]:
        """All indexed terms matching a Lucene WildcardQuery pattern
        (``*`` = any run, ``?`` = one char) — translated once to a
        portable regex (textmatch.wildcard_to_regex) and resolved by
        :meth:`expand_regex`, so it inherits the literal-prefix range
        restriction (``fil*er`` scans only the ``fil…`` vocab range)
        and the rewrite cap. Raises ValueError for a wildcard-free
        pattern."""
        from rse_spark.query.textmatch import wildcard_to_regex

        return self.expand_regex(wildcard_to_regex(pattern), max_terms)

    def expand_fuzzy(self, term: str, max_edits: int = 2,
                     max_terms: int = 64) -> list[str]:
        """All indexed terms within ``max_edits`` classic Levenshtein
        edits of ``term`` — Lucene FuzzyQuery semantics with the same
        supported-distance ceiling (2). Deterministic cap order:
        (distance asc, term asc), so the closest rewrites survive the
        rewrite limit, matching the declarative twin's
        ``ORDER BY levenshtein(...), term LIMIT n``
        (``textmatch.expand_fuzzy``, harness ``fuzzy_bm25`` oracle).
        Candidates are length-banded before the banded DP runs; the
        lazy dictionary applies the same band as an Arrow
        ``utf8_length`` filter. Raises ValueError above 2 edits —
        unbounded fuzziness is unrankable and uncappable."""
        if not term:
            return []
        if max_edits < 0 or max_edits > 2:
            raise ValueError(
                f"fuzzy distance {max_edits} out of range (0..2)"
            )
        self._check_generation()
        if max_edits == 0:
            return [term] if term in self.term_dict else []
        if isinstance(self.term_dict, _LazyTermDict):
            return self.term_dict.expand_fuzzy(term, max_edits, max_terms)
        scored = []
        tl = len(term)
        for t in self.term_dict:
            if abs(len(t) - tl) > max_edits:
                continue
            d = _bounded_levenshtein(term, t, max_edits)
            if d is not None:
                scored.append((d, t))
        return [t for _d, t in sorted(scored)[:max_terms]]

    def facet_counts(self, doc_ids, fields: list[str],
                     top: int = 10) -> dict[str, list]:
        """Per-field value counts over a matched doc-id set — the
        serving twin of the declarative ``textmatch.facet_counts``
        (semi-join + hash aggregate), computed replica-side with no
        Spark job: one column-pruned streaming scan of the metadata
        table (``doc_id`` + the facet columns only), a vectorized
        ``np.isin`` membership mask per batch, and Arrow
        ``value_counts`` on the surviving rows. Work is bounded by the
        metadata table's row count times the pruned column width —
        the table a replica already memory-maps for filter atoms —
        never by content. Returns ``{field: [(value, count), ...]}``,
        each list the ``top`` values by (count desc, value asc).
        Raises ValueError for a field the table doesn't carry (same
        contract as meta_docs)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        self._check_generation()
        ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        names = set(dset.schema.names)
        bad = [f for f in fields if f not in names]
        if bad or not fields:
            have = sorted(
                n for n in names
                if n not in ("tf_terms", "tf_counts", "tf_positions",
                             "doc_id")
            )
            raise ValueError(
                f"unknown facet field(s) {bad!r} (have {have})"
            )
        counts: dict[str, dict] = {f: {} for f in fields}
        if len(ids):
            for batch in dset.to_batches(
                columns=["doc_id", *fields]
            ):
                if batch.num_rows == 0:
                    continue
                mask = np.isin(
                    batch.column("doc_id").to_numpy(
                        zero_copy_only=False
                    ),
                    ids, assume_unique=False,
                )
                if not mask.any():
                    continue
                pa_mask = pa.array(mask)
                for f in fields:
                    acc = counts[f]
                    vc = pc.value_counts(
                        pc.filter(batch.column(f), pa_mask)
                    )
                    for rec in vc.to_pylist():
                        v = rec["values"]
                        acc[v] = acc.get(v, 0) + rec["counts"]
        return {
            f: sorted(
                counts[f].items(), key=lambda kv: (-kv[1], str(kv[0]))
            )[:top]
            for f in fields
        }

    def search_sorted(self, qtext: str, field: str, k: int = 10,
                      mode: str = "or", ascending: bool = False):
        """Field-sorted search (ES ``sort``: ranking by an attribute
        instead of relevance — "newest first", "longest first"):
        qualify docs by term PRESENCE (no BM25 work — the posting
        decode stops at doc ids, the qlang presence primitive), fetch
        the sort field for exactly the qualifying ids from the
        metadata table, and top-k by (value, doc_id asc). Returns
        [(doc_id, value)].

        Scale shape: qualification is the same set algebra the boolean
        path uses; the field fetch is one column-pruned metadata scan
        bounded by |qualifying docs|; the final order is a k-bounded
        partial sort. Raises ValueError for unknown fields or no
        indexable terms (same contracts as meta_docs/search)."""
        import numpy as np

        from rse_spark.query.engine import query_terms

        qtf = query_terms(qtext, self.analyzer)
        if not qtf:
            raise ValueError("query has no indexable terms")
        self._check_generation()
        sets = [self.term_docs(t) for t in sorted(qtf)]
        if mode == "and":
            ids = sets[0]
            for s in sets[1:]:
                ids = _intersect_sorted(ids, s)
        else:
            ids = np.unique(np.concatenate(sets)) if sets else \
                np.empty(0, dtype=np.int64)
        if not len(ids):
            return []
        vals = self.field_values(ids, field)
        order = sorted(
            vals.items(),
            key=(lambda kv: (kv[1], kv[0])) if ascending
            else (lambda kv: (_NegKey(kv[1]), kv[0])),
        )[:k]
        return [(int(d), v) for d, v in order]

    def histogram(self, doc_ids, field: str,
                  interval: int) -> "list[tuple[int, int]]":
        """ES ``histogram`` aggregation over a matched doc-id set:
        fixed-width numeric buckets ``floor(value / interval) *
        interval`` of one metadata field, returned as sorted
        ``[(bucket_key, n_docs), ...]`` (empty buckets omitted —
        min_doc_count=1 semantics). Same replica-side cost shape as
        ``facet_counts``: one column-pruned streaming scan of the
        metadata table, vectorized ``np.isin`` membership per batch,
        numpy floor-divide + unique per batch — no Spark job, no
        content read. Raises ValueError for a non-numeric or missing
        field, or a non-positive interval."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads

        if interval <= 0:
            raise ValueError("interval must be positive")
        self._check_generation()
        ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        try:
            ftype = dset.schema.field(field).type
        except KeyError:
            raise ValueError(
                f"unknown metadata field {field!r}"
            ) from None
        if not (pa.types.is_integer(ftype)
                or pa.types.is_floating(ftype)):
            raise ValueError(
                f"metadata field {field!r} is {ftype}, not numeric — "
                f"histograms need a numeric field"
            )
        acc: dict[int, int] = {}
        if len(ids):
            for batch in dset.to_batches(columns=["doc_id", field]):
                if batch.num_rows == 0:
                    continue
                mask = np.isin(
                    batch.column("doc_id").to_numpy(
                        zero_copy_only=False
                    ),
                    ids, assume_unique=False,
                )
                if not mask.any():
                    continue
                vals = batch.column(field).to_numpy(
                    zero_copy_only=False
                )[mask]
                buckets = (
                    np.floor_divide(vals, interval) * interval
                ).astype(np.int64)
                u, c = np.unique(buckets, return_counts=True)
                for bk, n in zip(u.tolist(), c.tolist()):
                    acc[bk] = acc.get(bk, 0) + n
        return sorted(acc.items())

    def facet_stats(self, doc_ids, field: str, value_field: str,
                    top: int = 10):
        """Terms aggregation with a stats sub-aggregation (ES
        ``terms`` + ``stats``): for each distinct value of ``field``
        over the matched doc-id set, the (n_docs, mean, min, max) of
        the numeric ``value_field`` — facet_counts one analytics level
        deeper, same replica-side cost shape (one column-pruned
        metadata scan, np.isin membership per batch, vectorized group
        reduction). Returns ``[(value, n, mean, min, max), ...]``
        sorted by (n desc, value asc), capped at ``top``. Raises
        ValueError for missing fields or a non-numeric
        ``value_field``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads

        self._check_generation()
        ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        names = set(dset.schema.names)
        missing = [f for f in (field, value_field) if f not in names]
        if missing:
            raise ValueError(f"unknown field(s) {missing!r}")
        vtype = dset.schema.field(value_field).type
        if not (pa.types.is_integer(vtype)
                or pa.types.is_floating(vtype)):
            raise ValueError(
                f"stats field {value_field!r} is {vtype}, not numeric"
            )
        acc: dict = {}
        if len(ids):
            for batch in dset.to_batches(
                columns=["doc_id", field, value_field]
            ):
                if batch.num_rows == 0:
                    continue
                mask = np.isin(
                    batch.column("doc_id").to_numpy(
                        zero_copy_only=False
                    ),
                    ids, assume_unique=False,
                )
                if not mask.any():
                    continue
                fv = np.asarray(
                    batch.column(field).to_pylist(), dtype=object
                )[mask]
                vv = batch.column(value_field).to_numpy(
                    zero_copy_only=False
                )[mask].astype(np.float64)
                u, inv = np.unique(fv, return_inverse=True)
                ns = np.bincount(inv)
                sums = np.bincount(inv, weights=vv)
                for i, val in enumerate(u.tolist()):
                    sel = vv[inv == i]
                    st = acc.get(val)
                    if st is None:
                        acc[val] = [
                            int(ns[i]), float(sums[i]),
                            float(sel.min()), float(sel.max()),
                        ]
                    else:
                        st[0] += int(ns[i])
                        st[1] += float(sums[i])
                        st[2] = min(st[2], float(sel.min()))
                        st[3] = max(st[3], float(sel.max()))
        return sorted(
            (
                (v, n, s / n, lo, hi)
                for v, (n, s, lo, hi) in acc.items()
            ),
            key=lambda r: (-r[1], str(r[0])),
        )[:top]

    def field_values(self, doc_ids, field: str) -> dict:
        """``{doc_id: value}`` for one metadata field over a doc-id
        set — the lookup behind result collapsing (``collapse=``):
        one column-pruned streaming scan of the metadata table
        (``doc_id`` + the field), vectorized ``np.isin`` membership
        per batch, no Spark job, no content read. Same cost shape as
        ``facet_counts`` (bounded by metadata rows x two columns).
        Raises ValueError for a field the table doesn't carry."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        self._check_generation()
        ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        names = set(dset.schema.names)
        if field not in names:
            have = sorted(
                n for n in names
                if n not in ("tf_terms", "tf_counts", "tf_positions",
                             "doc_id")
            )
            raise ValueError(
                f"unknown field {field!r} (have {have})"
            )
        out: dict = {}
        if not len(ids):
            return out
        for batch in dset.to_batches(columns=["doc_id", field]):
            if batch.num_rows == 0:
                continue
            bids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            mask = np.isin(bids, ids, assume_unique=False)
            if not mask.any():
                continue
            sel = pc.filter(batch.column(field), pa.array(mask))
            for did, v in zip(bids[mask], sel.to_pylist()):
                out[int(did)] = v
        return out

    def _enriched_ranges(self) -> "list[tuple[str, list]]":
        """Per-ROW-GROUP doc-id [min, max] of every enriched-table
        file (parquet footer stats, read ONCE per index generation):
        ``[(path, [(rg_index, lo, hi), ...]), ...]``. A row group
        without usable stats gets ``(rg, None, None)`` = always a
        candidate. Lets a point lookup open exactly the covering row
        groups instead of scanning the directory (48 footer opens
        ≈ 19 ms at sf0.01) or probing whole files whose coarse ranges
        overlap (~7 file reads per lookup at sf0.1)."""
        ranges = self._enriched_ranges_cache
        if ranges is None:
            path = os.path.join(self.root, "enriched")
            files = sorted(
                glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True)
            )
            if not files:
                raise FileNotFoundError(
                    f"no parquet files under {path!r}"
                )
            ranges = []
            for f in files:
                md = pq.ParquetFile(f).metadata
                names = [
                    md.schema.column(i).name
                    for i in range(md.num_columns)
                ]
                try:
                    ci = names.index("doc_id")
                except ValueError:
                    continue
                rgs = []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        rgs.append((rg, None, None))
                    else:
                        rgs.append((rg, st.min, st.max))
                ranges.append((f, rgs))
            with self._meta_lock:
                self._enriched_ranges_cache = ranges
        return ranges

    def _read_enriched_row(self, doc_id: int, columns: "list[str]"):
        """One doc's enriched row via the row-group range cache: open
        only files with a covering row group, read only those groups,
        filter exactly. Returns a (possibly empty) Arrow table."""
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = None
        for f, rgs in self._enriched_ranges():
            hit = [
                rg for rg, lo, hi in rgs
                if lo is None or lo <= doc_id <= hi
            ]
            if not hit:
                continue
            t = pq.ParquetFile(f).read_row_groups(hit, columns=columns)
            t = t.filter(pc.equal(t["doc_id"], doc_id))
            if t.num_rows:
                return t
            tbl = t if tbl is None else tbl
        if tbl is None:
            tbl = pa.table({"doc_id": pa.array([], pa.int64())})
        return tbl

    def more_like_this(self, doc_id: int, k: int = 10,
                       max_terms: int = 10, min_tf: int = 1):
        """Lucene MoreLikeThis: rank documents similar to ``doc_id``
        by selecting its ``max_terms`` strongest terms (tf x idf,
        ties broken by term — the same idf the scorer uses) and
        running the standard BM25 OR search over them, excluding the
        source doc. Returns ``(hits, selected_terms)`` with hits
        shaped like ``search()``.

        The term vector comes from the index's own enriched table
        (tf_terms/tf_counts arrays), fetched with a row-group-pruned
        read — one doc's row, never a corpus scan; selection work is
        bounded by the doc's distinct-term count. ``min_tf`` drops
        terms the doc mentions fewer times (Lucene's minTermFreq).
        The declarative twin is ``harness.q_mlt_bm25`` with a DuckDB
        oracle. Raises ValueError for an unknown doc or an index
        without stored term vectors (flat enriched format)."""
        import pyarrow as pa

        self._check_generation()
        try:
            tbl = self._read_enriched_row(
                int(doc_id), ["doc_id", "tf_terms", "tf_counts"]
            )
        except (KeyError, pa.ArrowInvalid) as e:
            raise ValueError(
                "more_like_this needs stored term vectors (array-"
                "format enriched table with tf_terms/tf_counts); "
                f"this index does not carry them: {e}"
            ) from None
        if tbl.num_rows == 0:
            raise ValueError(f"unknown doc_id {doc_id}")
        terms = tbl["tf_terms"][0].as_py()
        counts = tbl["tf_counts"][0].as_py()
        scored: list[tuple[float, str]] = []
        for t, tf in zip(terms, counts):
            if tf < min_tf:
                continue
            info = self.term_dict.get(t)
            if not info:
                continue
            scored.append((-tf * idf_fn(info[0], self.n_docs), t))
        scored.sort()
        sel = [t for _w, t in scored[:max_terms]]
        if not sel:
            return [], []
        hits = self.search_terms(sel, k=k + 1, mode="or")
        return (
            [(d, s, m) for d, s, m in hits if d != doc_id][:k],
            sel,
        )

    def search_synonym_groups(self, groups: "list[list[str]]",
                              k: int = 10, mode: str = "or"):
        """Lucene ``SynonymQuery``: each group of PRE-ANALYZED terms
        scores as ONE pseudo-term — per doc its tf is the SUM of the
        member tfs, its df the MAX member df (blended idf) — so a
        concept with several surface forms can't out-score a plain
        term by being counted twice. Returns
        ``[(doc_id, score, n_groups_matched)]``; ``mode='and'``
        requires every group present (a group with no indexed member
        then matches nothing, like a required term absent from the
        index). Declarative twin: ``harness.q_synonym_bm25`` (DuckDB
        oracle); the pytest asserts parity against an independent
        recount.

        One vectorized pass over the memoized per-term lists: member
        lists concatenate per group, a bincount blends tfs and
        ``codec.bm25_impact`` scores the blend, then the scorer's
        grouped top-k (``kernel._grouped_topk``) sums the groups."""
        import numpy as np

        from rse_spark.index.codec import bm25_impact

        self._check_generation()
        self._prefetch_terms(
            (info[1], t)
            for g in groups
            for t, info in (
                (t, self.term_dict.get(t)) for t in set(g)
            )
            if info
        )
        lens = self._doc_lens()
        doc_chunks, score_chunks = [], []
        for g in groups:
            infos = [
                (t, self.term_dict.get(t)) for t in sorted(set(g))
            ]
            infos = [(t, i) for t, i in infos if i]
            if not infos:
                continue
            idf = idf_fn(max(i[0] for _t, i in infos), self.n_docs)
            plists = [self._term_list(t) for t, _info in infos]
            plists = [p for p in plists if len(p.docs)]
            if not plists:
                continue
            docs = np.concatenate([p.docs for p in plists])
            # bincount sums the (narrow) tfs as float64 weights
            tfs = np.concatenate([p.tfs for p in plists])
            uniq, inv = np.unique(docs, return_inverse=True)
            tf_sum = np.bincount(inv, weights=tfs)
            doc_chunks.append(uniq)
            score_chunks.append(
                idf * bm25_impact(tf_sum, lens.of(uniq), self.avgdl))
        if not doc_chunks:
            return []
        # a doc appears once per group, so ``need`` = every group is
        # mode='and'
        return _grouped_topk(
            np.concatenate(doc_chunks), np.concatenate(score_chunks), k,
            need=len(groups) if mode == "and" else 1,
        )

    def term_vector(self, doc_id: int) -> dict:
        """Lucene TermVectors API: one document's stored term vector —
        ``{"doc_id", "doc_len", "terms": [(term, tf), ...]}`` with
        terms in lexical order. Served from the enriched table via the
        same per-generation file-range pruning more_like_this uses
        (one footer open, one row-group read). Raises ValueError for
        an unknown doc or an index without stored vectors."""
        import pyarrow as pa

        self._check_generation()
        try:
            tbl = self._read_enriched_row(
                int(doc_id),
                ["doc_id", "tf_terms", "tf_counts", "doc_len"],
            )
        except (KeyError, pa.ArrowInvalid) as e:
            raise ValueError(
                "term_vector needs stored term vectors (array-format "
                f"enriched table); this index does not carry them: {e}"
            ) from None
        if tbl.num_rows == 0:
            raise ValueError(f"unknown doc_id {doc_id}")
        pairs = sorted(zip(
            tbl["tf_terms"][0].as_py(), tbl["tf_counts"][0].as_py()
        ))
        return {
            "doc_id": int(doc_id),
            "doc_len": int(tbl["doc_len"][0].as_py()),
            "terms": [(t, int(c)) for t, c in pairs],
        }

    def count(self, qtext: str, mode: str = "or") -> int:
        """Total-hits count without scoring (ES ``_count`` /
        ``track_total_hits``): pure presence algebra over the decoded
        doc-id arrays — no BM25 math, no top-k, no tuple
        materialization. ``mode='and'`` intersects instead of
        unioning."""
        import numpy as np

        self._check_generation()
        terms = sorted(query_terms(qtext, self.analyzer))
        if not terms:
            return 0
        arrs = [self.term_docs(t) for t in terms]
        if mode == "and":
            if any(not len(a) for a in arrs):
                return 0
            arrs.sort(key=len)
            acc = arrs[0]
            for a in arrs[1:]:
                if not len(acc):
                    return 0
                acc = _intersect_sorted(acc, a)
            return int(len(acc))
        arrs = [a for a in arrs if len(a)]
        if not arrs:
            return 0
        return int(len(np.unique(np.concatenate(arrs))))

    def significant_terms(self, qtext: str, top: int = 15,
                          max_docs: int = 10_000):
        """Elasticsearch ``significant_terms`` (JLH heuristic): terms
        overrepresented in the docs matching ``qtext`` relative to the
        corpus — ``(fg_rate - bg_rate) * fg_rate/bg_rate``, the query's
        own terms excluded. Returns ``[(term, fg_df, bg_df, score)]``,
        top by (score desc, term asc).

        Foreground = OR-presence over the analyzed query terms
        (posting doc-id arrays, no scoring); its term statistics come
        from the STORED term vectors of the matched docs — a
        row-group-pruned enriched read bounded by ``max_docs``
        (deterministic lowest-id sample, the replica-side analogue of
        ES's per-shard sampling; fg rates are computed over the
        sample). Background df is the term dictionary — no second
        corpus pass. The declarative twin ``harness.q_sig_terms``
        (DuckDB-oracled) computes the unsampled corpus-wide answer."""
        import numpy as np

        self._check_generation()
        qtf = query_terms(qtext, self.analyzer)
        if not qtf:
            return []
        arrs = [self.term_docs(t) for t in qtf]
        arrs = [a for a in arrs if len(a)]
        if not arrs:
            return []
        fg_ids = np.unique(np.concatenate(arrs))[:max_docs]
        n_fg = len(fg_ids)
        enriched = os.path.join(self.root, "enriched")
        tbl, _stats = read_ids_pruned(
            enriched, [int(d) for d in fg_ids],
            ["doc_id", "tf_terms"], "doc_id",
        )
        fg_df: dict[str, int] = {}
        for ts in tbl["tf_terms"].to_pylist():
            for t in ts:
                fg_df[t] = fg_df.get(t, 0) + 1
        scored = []
        for t, f in fg_df.items():
            if t in qtf:
                continue
            info = self.term_dict.get(t)
            if not info:
                continue
            fg_rate = f / n_fg
            bg_rate = info[0] / self.n_docs
            s = (fg_rate - bg_rate) * fg_rate / bg_rate
            scored.append((-s, t, f, int(info[0])))
        scored.sort()
        return [
            (t, f, bg, -ns) for ns, t, f, bg in scored[:top]
        ]

    def explain(self, qtext: str, doc_id: int,
                fvf: "str | None" = None) -> dict:
        """Lucene ``IndexSearcher.explain`` parity: the full per-term
        BM25 breakdown of one document's score for a query — for each
        analyzed term its query tf, df, idf, the doc's tf and length,
        the length norm, and the resulting contribution, plus the
        corpus constants (n_docs, avgdl, k1, b) the formula closes
        over. Each contribution is the term's weight (query tf x idf)
        times the doc's memoized impact, summed in the scorer's term
        order, so ``score`` equals what ``search()`` assigns the doc
        bit for bit and a served ranking is auditable term by term.

        Work is one searchsorted probe per query term into the same
        memoized doc-ordered list the scorer reads — never a corpus
        scan."""
        import numpy as np

        from rse_spark.index.codec import B, K1

        self._check_generation()
        qtf = query_terms(qtext, self.analyzer)
        terms = []
        total = 0.0
        matched = 0
        for t in sorted(qtf):
            info = self.term_dict.get(t)
            detail = {
                "term": t, "query_tf": int(qtf[t]),
                "df": int(info[0]) if info else 0,
                "idf": idf_fn(info[0], self.n_docs) if info else 0.0,
                "tf": 0, "doc_len": None, "norm": None,
                "contribution": 0.0, "matched": False,
            }
            plist = self._term_list(t)
            if plist is not None:
                ids = plist.docs
                pos = int(np.searchsorted(ids, doc_id))
                if pos < len(ids) and ids[pos] == doc_id:
                    dl = int(self._doc_lens().of(ids[pos: pos + 1])[0])
                    contrib = float(
                        qtf[t] * detail["idf"] * plist.impacts[pos]
                    )
                    detail.update(
                        tf=int(plist.tfs[pos]), doc_len=dl,
                        norm=1.0 - B + B * dl / self.avgdl,
                        contribution=contrib, matched=True,
                    )
                    total += contrib
                    matched += 1
            terms.append(detail)
        out = {
            "doc_id": int(doc_id), "score": total,
            "n_terms_matched": matched, "n_docs": int(self.n_docs),
            "avgdl": float(self.avgdl), "k1": K1, "b": B,
            "terms": terms,
        }
        if fvf is not None:
            # function_score explanation (ES shows the function product
            # the same way): score = base * factor, so explanations of
            # a ?fvf= page still sum/multiply to the served score
            import math

            if fvf != "ln1p_dlen":
                raise ValueError(
                    "fvf supports only 'ln1p_dlen' (score * ln(1+dl))"
                )
            dl = next(
                (t["doc_len"] for t in terms if t["matched"]), None
            )
            factor = math.log1p(dl) if dl is not None else 1.0
            out.update(
                base_score=total, fvf=fvf, fvf_factor=factor,
                score=total * factor,
            )
        return out

    def suggest(self, word: str, max_edits: int = 2, n: int = 5):
        """Did-you-mean (Lucene DirectSpellChecker shape): indexed
        terms within ``max_edits`` classic Levenshtein edits of
        ``word``, ranked by (distance asc, df desc, term asc) —
        closest first, popular first — excluding the word itself.
        Returns ``[(suggestion, distance, df), ...]``.

        Unlike :meth:`expand_fuzzy` (a query REWRITE, capped
        closest-(distance, term) like Lucene's rewrite limit), a
        speller must surface the most ATTESTED near-miss, so df joins
        the sort key. Candidates are length-banded before the bounded
        DP; the lazy (huge-vocab) dictionary reuses its banded
        filtered-read expansion with a wide interim cap. The
        declarative twin is ``harness.q_spell_suggest`` (vocab x words
        broadcast join, same ranking) with a DuckDB oracle."""
        if not word:
            return []
        if max_edits < 1 or max_edits > 2:
            raise ValueError(
                f"suggest distance {max_edits} out of range (1..2)"
            )
        self._check_generation()
        if isinstance(self.term_dict, _LazyTermDict):
            cands = self.term_dict.expand_fuzzy(word, max_edits, 4096)
        else:
            wl = len(word)
            cands = (
                t for t in self.term_dict
                if abs(len(t) - wl) <= max_edits
            )
        scored: list[tuple[int, int, str]] = []
        for t in cands:
            if t == word:
                continue
            d = _bounded_levenshtein(word, t, max_edits)
            if d is None:
                continue
            scored.append((d, -int(self.term_dict.get(t)[0]), t))
        scored.sort()
        return [(t, d, -ndf) for d, ndf, t in scored[:n]]

    def phrase_search(self, phrase: str, corpus_path: str, k: int = 10,
                      content_col: str = "text", id_col: str = "doc_id",
                      key_col: str | None = None):
        """Exact-adjacency phrase top-k: [(doc_id, n_occurrences)].

        Candidates come from the index (conjunctive search over the
        phrase's analyzed terms — every doc containing the raw adjacent
        phrase contains all of them), then ONLY candidate rows are
        fetched from the content store (``corpus_path`` parquet,
        row-group-pruned pyarrow read) and verified with a
        whitespace-adjacency scan — same semantics as the Spark path
        (query/textmatch.phrase_match), equivalence-tested against it.
        The per-query content fetch is bounded by the candidate count;
        GSE's API did the same doc-fetch round-trip per result
        (reference crawler/src/api/main.go:161-182).

        ``key_col`` bridges id spaces: when the index assigned its own
        doc ids over a corpus that carried ``id_col`` (the streaming
        appender keeps it as ``src_doc_id``), pass that metadata column
        name and candidates are mapped through the stored doc metadata
        before the content fetch. ``None`` = index ids == corpus ids."""
        words = phrase.split()
        if not words:
            raise ValueError("empty phrase")
        # candidate set by presence-only intersection (term_docs): no
        # BM25 work — the scores were never used, only the id set
        terms = sorted(query_terms(phrase, self.analyzer))
        if not terms:
            return []
        acc = self.term_docs(terms[0])
        for t in terms[1:]:
            if not len(acc):
                break
            acc = _intersect_sorted(acc, self.term_docs(t))
        if not len(acc):
            return []
        ids = [int(d) for d in acc]
        text_by_doc = self.fetch_content(
            ids, corpus_path, content_col=content_col,
            id_col=id_col, key_col=key_col,
        )
        n = len(words)
        out = []
        for d in ids:
            sp = (text_by_doc.get(d) or "").split(" ")
            hits = sum(
                1 for i in range(len(sp) - n + 1)
                if sp[i:i + n] == words
            )
            if hits:
                out.append((int(d), hits))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k]

    def phrase_search_positions(self, phrase: str, k: int = 10):
        """Exact-adjacency phrase top-k from the POSITIONAL sidecar
        index (index/positions.py) — [(doc_id, n_occurrences)], same
        contract as :meth:`phrase_search` but resolved entirely inside
        the index: no content store, no per-query corpus IO. Adjacency
        is over the analyzed token stream (Lucene semantics; for the
        ``simple`` analyzer this equals whitespace adjacency, proven
        by the equivalence pytest). Occurrences are counted by
        :meth:`_phrase_occurrence_counts` (a chain over token slot
        lists and dense terms' slot bitmaps); the top-k is one
        kth-partition + stable sort (``_topk``).

        Raises ValueError when the index has no positional sidecar."""
        self._check_positions_coverage()
        from rse_spark.tokenizer import tokenize

        terms = tokenize(phrase, self.analyzer)  # ordered, dups kept
        if not terms:
            raise ValueError("phrase has no indexable terms")
        uniq, counts = self._in_one_space(
            self._phrase_occurrence_counts, terms)
        return [
            (int(uniq[i]), int(counts[i])) for i in _topk(counts, k)
        ]

    def _phrase_occurrence_counts(self, space, terms: "list[str]",
                                  within=None):
        """(doc_ids, counts) numpy pair of per-document exact-phrase
        occurrence counts for pre-analyzed ``terms``, ascending by doc
        id, over the query's slot ``space`` (:meth:`_in_one_space`).
        The chain holds the occurrences of the phrase's current LAST
        word (query/kernel.py) as token slots (:meth:`_term_slots`) or,
        for a dense term (one occurrence per 64 slots), as a slot bitmap
        (:meth:`_term_bitmap`); a spacer slot after each document keeps
        adjacency inside it. Each step (``_chain_step``)
        is a shifted word AND of two bitmaps, one gather of slots +-1
        when one side is a list, or a merge of two lists; the end is
        counted per document by run lengths or popcount prefix sums.
        Cost ~ the sparse terms' list sizes plus n_slots / 64 words per
        dense step, independent of candidate count.

        ``within`` (sorted unique int64 doc-id ndarray) drops chain
        starts outside the set up front, bounding the chain work by
        the candidate window — the rescore path's contract. The chain
        then starts from the first word's slots, even for a dense
        term."""
        import numpy as np

        word: dict[str, tuple] = {}
        empty = (np.empty(0, dtype=np.int64),) * 2
        for t in sorted(set(terms)):
            word[t] = self._chain_word(t, space)
            if not (word[t][0] or word[t][1]):  # absent term
                return empty
        if within is not None:
            cur = self._term_slots(terms[0], space)
            ranks, runs = space.runs(cur)
            cur = cur[np.repeat(
                _sorted_member(within, space.doc_ids(ranks)), runs)]
        else:
            cur = _chain_start(*word[terms[0]])
        for t in terms[1:]:
            if cur.dtype != np.uint64 and not len(cur):
                return empty
            cur = _chain_step(cur, *word[t])
        return _chain_counts(space, cur)

    def search_rescored(self, qtext: str, phrase: str, k: int = 10,
                        window: int = 50, weight: float = 2.0,
                        mode: str = "or"):
        """Window rescoring (Elasticsearch ``rescore``, Lucene
        QueryRescorer, score_mode=total): BM25 ranks the whole corpus,
        then only the top ``window`` docs pay for the expensive second
        query — an exact-phrase occurrence count from the positional
        sidecar — and are re-ranked by
        ``score + weight * n_occurrences``. With ``weight >= 0`` every
        window doc's rescored score stays >= every non-window doc's
        BM25 score, so the final top-k is provably inside the window
        and the global ranking is exact for k <= window.

        Returns [(doc_id, rescored_score, n_terms_matched,
        n_occurrences)]. The phrase chain is seeded only from
        occurrences inside the window (``within=``), so the rescore
        query's cost is bounded by the window — the entire point of
        the operator. Declarative twin: harness.q_rescore_bm25."""
        import numpy as np

        if window < k:
            raise ValueError("window must be >= k")
        if weight < 0:
            raise ValueError(
                "negative weight breaks the window-closure guarantee"
            )
        self._check_positions_coverage()
        from rse_spark.tokenizer import tokenize

        terms = tokenize(phrase, self.analyzer)
        if not terms:
            raise ValueError("phrase has no indexable terms")
        hits = self.search(qtext, k=window, mode=mode)
        if not hits:
            return []
        win_ids = np.unique(
            np.array([d for d, _s, _m in hits], dtype=np.int64)
        )
        docs, counts = self._in_one_space(
            self._phrase_occurrence_counts, terms, win_ids)
        occ = dict(zip(docs.tolist(), counts.tolist()))
        rescored = [
            (d, s + weight * occ.get(d, 0), m, int(occ.get(d, 0)))
            for d, s, m in hits
        ]
        rescored.sort(key=lambda r: (-r[1], r[0]))
        return rescored[:k]

    def percolate(self, rules: "list[tuple[int, list[str], int]]"):
        """Percolator on the serving tier (ES percolate): which stored
        rules fire on which indexed docs — ``{rule_id: [(doc_id,
        n_matched), ...]}`` for rules (rule_id, terms, min_match).
        Pure presence-set algebra: each rule term's sorted doc-id
        array (term_docs — posting decode stops at ids, no scoring),
        coverage counted with one concatenate + unique per rule.
        Terms are pre-analyzed index terms (same contract as
        search_terms). The declarative twin percolates arbitrary
        corpora/micro-batches; this one answers "which docs already
        in the index match rule R" replica-side with no Spark job."""
        import numpy as np

        if not rules:
            raise ValueError("empty rule set")
        self._check_generation()
        out: dict[int, list] = {}
        term_cache: dict[str, object] = {}
        for rid, terms, mm in rules:
            uniq_terms = sorted(set(terms))
            if not uniq_terms or not 1 <= mm <= len(uniq_terms):
                raise ValueError(
                    f"rule {rid}: min_match {mm} out of "
                    f"[1, {len(uniq_terms)}]"
                )
            sets = []
            for t in uniq_terms:
                if t not in term_cache:
                    term_cache[t] = self.term_docs(t)
                if len(term_cache[t]):
                    sets.append(term_cache[t])
            if not sets:
                out[rid] = []
                continue
            docs, counts = np.unique(
                np.concatenate(sets), return_counts=True
            )
            keep = counts >= mm
            out[rid] = [
                (int(d), int(n))
                for d, n in zip(docs[keep], counts[keep])
            ]
        return out

    def span_first_search(self, word: str, end: int, k: int = 10):
        """Lucene SpanFirstQuery: docs where ``word`` occurs within
        the first ``end`` token positions (a title/lead-sensitive
        match without a separate field), with the count of qualifying
        occurrences. A slot's 0-based position is its distance from its
        document's first slot, so "first end tokens" is
        ``s - start[doc(s)] < end``, counted per document by
        ``_SlotSpace.counts``, or for a dense term with more occurrences
        than ``end`` x documents by probing each document's first
        ``end`` slots in its bitmap (a byte each, not a search)."""
        import numpy as np

        from rse_spark.tokenizer import tokenize

        if end < 1:
            raise ValueError("end must be >= 1")
        self._check_positions_coverage()
        toks = tokenize(word, self.analyzer)
        if len(toks) != 1:
            raise ValueError(
                "span_first takes one word (compose phrases with "
                "phrase_search_positions)"
            )

        def first_counts(space):
            slots = self._term_slots(toks[0], space)
            if (space.dense(len(slots))
                    and end * (len(space.start) - 1) < len(slots)):
                bits = self._term_bitmap(toks[0], slots, space)
                # a probe past its document's end stays on the spacer
                probe, spacer = space.start[:-1].copy(), space.start[1:] - 1
                per_doc = np.zeros(len(probe), dtype=np.intp)
                for _ in range(end):
                    per_doc += _bits_test(bits, probe)
                    probe += 1
                    np.minimum(probe, spacer, out=probe)
            else:
                per_doc = space.counts(slots, end)
            ranks = np.flatnonzero(per_doc)
            return space.doc_ids(ranks), per_doc[ranks]

        uniq, counts = self._in_one_space(first_counts)
        return [
            (int(uniq[i]), int(counts[i])) for i in _topk(counts, k)
        ]

    def phrase_prefix_search(self, phrase: str, k: int = 10,
                             max_expansions: int = 64):
        """ES ``match_phrase_prefix`` (search-as-you-type): an exact
        phrase whose LAST word is a prefix — "merge jo" matches
        "merge join" and "merge joined". The chain runs exactly like
        phrase_search_positions; the final step tests membership in
        the UNION of the expanded terms' token slots (expansion
        capped and ordered like every other rewrite). A single-word
        query degenerates to counting the expansions' occurrences per
        doc: their per-term run lengths, summed per document.
        The head words chain through ``_chain_step`` exactly as in
        :meth:`_phrase_occurrence_counts` (slot bitmaps for dense
        words, slot lists otherwise); the last step tests the chain
        against every expansion — each sparse one's sorted slots and
        each dense one's bitmap — and ORs the hits, so the
        expansions' slots are never merged into one sorted union."""
        import numpy as np

        from rse_spark.tokenizer import tokenize

        self._check_positions_coverage()
        words = phrase.split()
        if not words:
            raise ValueError("empty phrase")
        head = tokenize(" ".join(words[:-1]), self.analyzer)
        expanded = self.expand_prefix(words[-1].lower(),
                                      max_expansions)
        if not expanded:
            return []
        none = (np.empty(0, dtype=np.int64),) * 2

        def prefix_counts(space):
            if not head:
                # one position holds one token, so a doc's count is the
                # sum of its expansions' run lengths
                per_doc = sum(space.counts(self._term_slots(t, space))
                              for t in expanded)
                ranks = np.flatnonzero(per_doc)
                return space.doc_ids(ranks), per_doc[ranks]
            # the last step's word is ANY expanded term
            lists, bitmaps = [], []
            for t in expanded:
                t_lists, t_bitmaps = self._chain_word(t, space)
                lists.extend(t_lists)
                bitmaps.extend(t_bitmaps)
            chain = [self._chain_word(t, space) for t in head] + [
                (lists, bitmaps)]
            if not all(t_lists or t_bitmaps for t_lists, t_bitmaps in chain):
                return none  # a word with no occurrences
            cur = _chain_start(*chain[0])
            for t_lists, t_bitmaps in chain[1:]:
                if cur.dtype != np.uint64 and not len(cur):
                    return none
                cur = _chain_step(cur, t_lists, t_bitmaps)
            return _chain_counts(space, cur)

        uniq, counts = self._in_one_space(prefix_counts)
        return [
            (int(uniq[i]), int(counts[i])) for i in _topk(counts, k)
        ]

    def near_search_positions(self, first: str, second: str,
                              max_dist: int, k: int = 10,
                              ordered: bool = True):
        """Proximity top-k from the positional sidecar:
        [(doc_id, n_pairs)] where ``first`` precedes ``second`` within
        ``max_dist`` tokens (Lucene NEAR); ``ordered=False`` is
        SpanNearQuery inOrder=false — the pair qualifies whichever
        word comes first (|gap| <= max_dist), counted once per
        ``first`` occurrence. Fully vectorized on token slots: the
        ``second`` occurrences in each ``first`` occurrence s's window
        (s, s + max_dist] (ordered) or [s - max_dist, s + max_dist]
        (unordered), clamped to s's document, are a pair of
        searchsorted calls, summed per document over the run lengths
        of ``first``'s slots. Raw query words are analyzed first; a
        word that splits into several tokens is rejected (proximity
        over multi-token units is a phrase query composition, not a
        pair query)."""
        import numpy as np

        from rse_spark.index.positions import _POS_SLACK
        from rse_spark.tokenizer import tokenize

        if not 1 <= max_dist < _POS_SLACK:
            raise ValueError(
                f"max_dist must be in [1, {_POS_SLACK})"
            )
        self._check_positions_coverage()
        t1 = tokenize(first, self.analyzer)
        t2 = tokenize(second, self.analyzer)
        if len(t1) != 1 or len(t2) != 1:
            raise ValueError(
                "proximity operands must each analyze to one token"
            )
        d = int(max_dist)

        def pair_counts(space):
            s1, s2 = (self._term_slots(t[0], space) for t in (t1, t2))
            if not len(s1) or not len(s2):
                return (np.empty(0, dtype=np.int64),) * 2
            ranks, runs = space.runs(s1)
            # a document's last slot is two before the next one's start
            hi = np.minimum(s1 + d,
                            np.repeat(space.start[ranks + 1] - 2, runs))
            lo = s1 + 1 if ordered else np.maximum(
                s1 - d, np.repeat(space.start[ranks], runs))
            cnt = (np.searchsorted(s2, hi, side="right")
                   - np.searchsorted(s2, lo))
            if t1 == t2 and not ordered:
                # same-term proximity: the symmetric window contains the
                # occurrence itself (gap 0) — drop it, leaving each
                # unordered pair counted from both sides, the same
                # double-count the declarative positional join produces
                cnt -= 1
            sums = np.add.reduceat(cnt, np.cumsum(runs) - runs)
            hit = np.flatnonzero(sums)
            return space.doc_ids(ranks[hit]), sums[hit]

        uniq, sums = self._in_one_space(pair_counts)
        return [(int(uniq[i]), int(sums[i])) for i in _topk(sums, k)]

    def phrase_chain_docs(self, phrase: str, max_gap: int = 1):
        """Sorted doc-id array of documents containing the phrase
        words IN ORDER with each successive gap <= ``max_gap`` tokens
        (1 = exact adjacency; this is the qlang ``\"…\"~N`` slop
        atom's presence primitive). Vectorized chaining on token
        slots: a next-word occurrence q survives iff its predecessor p
        in the chain has max(q - max_gap, first slot of q's doc) <= p —
        one searchsorted per word, the document clamp only where p is
        within ``max_gap``. ``max_gap`` stays below _POS_SLACK, the
        headroom the slot space keeps for window arithmetic."""
        import numpy as np

        from rse_spark.index.positions import _POS_SLACK
        from rse_spark.tokenizer import tokenize

        if not 1 <= max_gap < _POS_SLACK:
            raise ValueError(
                f"max_gap must be in [1, {_POS_SLACK})"
            )
        self._check_positions_coverage()
        terms = tokenize(phrase, self.analyzer)
        if not terms:
            raise ValueError("phrase has no indexable terms")

        def chain_docs(space):
            cur = self._term_slots(terms[0], space)
            for t in terms[1:]:
                if not len(cur):
                    break
                st = self._term_slots(t, space)
                i = np.searchsorted(cur, st)
                # cur[i - 1] is q's predecessor where i > 0
                near = np.flatnonzero(
                    (i > 0) & (cur[i - 1] >= st - int(max_gap)))
                st, prev = st[near], cur[i[near] - 1]
                ranks, runs = space.runs(st)
                cur = st[prev >= np.repeat(space.start[ranks], runs)]
            return _chain_counts(space, cur)[0]

        return self._in_one_space(chain_docs)

    def _in_one_space(self, fn, *args):
        """``fn(space, *args)``: a query's terms all place their slots in
        one slot space (:meth:`_slot_space`). Rows a writer committed
        mid-query may not fit it; then, as in :meth:`_term_list`, the
        replica reloads and runs ``fn`` once more."""
        for retry in (False, True):
            gen = self._gen_sig
            try:
                return fn(self._slot_space(), *args)
            except ValueError as err:
                if self._gen_stat() == gen:
                    raise  # the index disagrees with itself
                if retry:
                    raise ValueError(
                        "the positional sidecar was read across two "
                        "writer commits in a row; retry the query"
                    ) from err
                self._check_generation()

    def _term_slots(self, term: str, space):
        """One analyzed term's occurrences as a strictly increasing,
        read-only array of token slots in the query's slot ``space`` —
        the one occurrence format of every positional surface. Each
        sidecar row is decoded straight into one array sized up front,
        sorted only when rows are out of doc order. A doc outside the
        doc-length table, a position at or past its ``doc_len``, or a
        repeated occurrence raises ValueError naming the term. Cached
        (LRU, ``max_pos_bytes``, with a dense term's :meth:`_term_bitmap`)
        while ``space`` is the replica's own (:meth:`_slot_space`);
        the generation check clears the cache on writer commits."""
        import numpy as np

        from rse_spark.index.positions import decode_position_list

        with self._meta_lock:
            cached = self._pos_slots.get(term)
            if cached is not None and self._slots is space:
                self._pos_slots.move_to_end(term)
                return cached
        payloads = self._position_payloads(term)
        # one varint per position: count their last bytes
        slots = np.empty(sum(
            np.count_nonzero(np.frombuffer(pp, dtype=np.uint8) < 0x80)
            for _dp, pp in payloads), dtype=space.dtype)
        at = 0
        for dp, pp in payloads:
            at = space.put(slots, at, *decode_position_list(dp, pp), term)
        if not (slots[1:] > slots[:-1]).all():
            slots.sort()
        # the sorted-list intersection (_intersect_sorted) reads equal
        # neighbours as a match: a repeated occurrence must fail here
        # rather than double-count
        if at != len(slots) or not (slots[1:] > slots[:-1]).all():
            raise ValueError(
                f"positional sidecar repeats an occurrence of {term!r} or "
                f"lists one in no document — rebuild it with build_positions"
            )
        slots.flags.writeable = False
        with self._meta_lock:
            if term not in self._pos_slots and self._slots is space:
                self._pos_slots[term] = slots
                self._pos_bytes += slots.nbytes
                self._evict_pos_slots()
        return slots

    def _chain_word(self, term: str, space):
        """``(lists, bitmaps)`` of one word for ``_chain_step``: a dense
        term's bitmap and no slot list, a sparse term's slots and no
        bitmap, or neither for a term with no occurrences."""
        slots = self._term_slots(term, space)
        bits = self._term_bitmap(term, slots, space)
        if bits is not None:
            return (), (bits,)
        return ((slots,) if len(slots) else ()), ()

    def _term_bitmap(self, term: str, slots, space):
        """The slot bitmap of a dense term (kernel._SlotSpace.dense), or
        None. Built lazily from ``slots`` (the term's :meth:`_term_slots`
        in ``space``) in bounded chunks, memoized while those slots are,
        and charged to ``max_pos_bytes``."""
        if not space.dense(len(slots)):
            return None
        with self._meta_lock:
            bits = (self._pos_bitmaps.get(term)
                    if self._pos_slots.get(term) is slots else None)
        if bits is not None:
            return bits
        bits = space.bitmap(slots)
        bits.flags.writeable = False
        with self._meta_lock:
            if (self._pos_slots.get(term) is slots
                    and term not in self._pos_bitmaps):
                self._pos_bitmaps[term] = bits
                self._pos_bytes += bits.nbytes
                self._pos_slots.move_to_end(term)
                self._evict_pos_slots()
        return bits

    def _evict_pos_slots(self) -> None:
        """Drop least recently used terms' slots, with their bitmaps,
        until the memo fits ``max_pos_bytes`` or holds one term.
        Caller holds ``_meta_lock``."""
        while (
            len(self._pos_slots) > 1
            and self._pos_bytes > self.max_pos_bytes
        ):
            t, old = self._pos_slots.popitem(last=False)
            self._pos_bytes -= old.nbytes
            bits = self._pos_bitmaps.pop(t, None)
            if bits is not None:
                self._pos_bytes -= bits.nbytes

    def _doc_lens(self) -> _DocLens:
        """This generation's per-document lengths (kernel._DocLens), the
        one source of ``doc_len`` for scoring, ``explain``, synonym
        groups, fvf and the slot space: read once per generation from
        ``docs_meta`` (``enriched`` when docs_meta is virtual). Raises
        ValueError for an index that stores no per-document
        doc_len."""
        import pyarrow.dataset as pads

        with self._meta_lock:
            if self._lens is not None:
                return self._lens
            gen = self._gen_sig
        pre = self._gen_stat()
        path = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(path):
            path = os.path.join(self.root, "enriched")
        dset = pads.dataset(path, format="parquet", partitioning="hive")
        if not {"doc_id", "doc_len"} <= set(dset.schema.names):
            raise ValueError(
                f"{path} has no doc_id/doc_len columns: the index stores "
                f"no per-document lengths to score with"
            )
        tbl = dset.to_table(columns=["doc_id", "doc_len"])
        lens = _DocLens(tbl["doc_id"].to_numpy(), tbl["doc_len"].to_numpy())
        post = self._gen_stat()
        with self._meta_lock:
            # a table read while a writer committed, or one of a newer
            # generation than the replica has loaded, serves this call
            # only
            if self._gen_sig == gen == pre == post:
                self._lens = lens
        return lens

    def _slot_space(self) -> _SlotSpace:
        """This generation's token slots (kernel._SlotSpace), built once
        per generation from :meth:`_doc_lens`, with _POS_SLACK slots of
        headroom for the window arithmetic of NEAR and slop."""
        with self._meta_lock:
            if self._slots is not None:
                return self._slots
            gen = self._gen_sig
        from rse_spark.index.positions import _POS_SLACK

        lens = self._doc_lens()
        space = _SlotSpace(lens, _POS_SLACK)
        with self._meta_lock:
            if self._gen_sig == gen and self._lens is lens:
                self._slots = space
        return space

    def _check_positions_coverage(self) -> None:
        """Sidecar presence + coverage: every live postings group must
        have its positions partition — a stream-grown index whose
        sidecar predates the newest batches must fail LOUDLY, not
        silently miss the new docs (writers that rewrite groups —
        compaction, delete/upsert — drop the sidecar outright for the
        same reason).

        A passed check is memoized under the generation signature it
        ran against: every writer that adds, drops or rebuilds the
        sidecar commits a manifest record, which moves the signature.
        Layouts without a GENERATION file (no signature) and failed
        checks are never memoized."""
        self._check_generation()
        sig = self._gen_sig
        if sig is not None and sig == self._pos_checked_sig:
            return
        pos_root = os.path.join(self.root, "positions")
        if not os.path.isdir(pos_root):
            raise ValueError(
                "index has no positional sidecar "
                "(build it with index.positions.build_positions)"
            )
        # Analyzer parity: positions were tokenized with a specific
        # analyzer at build time (manifest unit 'positions'); querying
        # through a searcher configured with a different one silently
        # returns wrong/empty phrase results (the defaults even
        # diverge: build_positions defaults to 'simple', DirectSearcher
        # to 'code'). Mismatch must be an error, not a wrong answer.
        try:
            import json as _json
            with open(os.path.join(
                self.root, "manifest", "positions.json"
            )) as f:
                rec = _json.load(f)
            built_with = rec.get("analyzer")
        except (OSError, ValueError):
            built_with = None  # pre-manifest layout: nothing to check
        if built_with is not None and built_with != self.analyzer:
            raise ValueError(
                f"positional sidecar was built with analyzer="
                f"{built_with!r} but this searcher uses "
                f"{self.analyzer!r} — rebuild the sidecar or construct "
                f"DirectSearcher(analyzer={built_with!r})"
            )
        live = {
            p for p in os.listdir(os.path.join(self.root, "postings"))
            if p.startswith("seg_group=")
        }
        covered = {
            p for p in os.listdir(pos_root)
            if p.startswith("seg_group=")
        }
        if not live <= covered:
            raise ValueError(
                "positional sidecar is incomplete (groups "
                f"{sorted(live - covered)} missing) — re-run "
                "build_positions(only_missing=True)"
            )
        gen_file_sig = sig[0] if self._alias_file is not None else sig
        if gen_file_sig is not None:
            self._pos_checked_sig = sig

    def _position_payloads(self, term: str) -> "list[tuple[bytes, bytes]]":
        """One term's positional sidecar rows as (doc_payload,
        pos_payload) pairs, one per segment group; empty for an absent
        term."""
        info = self.term_dict.get(term)
        if not info:
            return []
        tbl = pq.read_table(
            os.path.join(self.root, "positions"),
            filters=[("bucket", "==", info[1]), ("term", "==", term)],
            columns=["doc_payload", "pos_payload"],
        )
        return list(zip(
            tbl["doc_payload"].to_pylist(), tbl["pos_payload"].to_pylist()
        ))

    def _key_map(self, ids: list[int], key_col: "str | None",
                 fetch_stats: "dict[str, int] | None" = None
                 ) -> "dict[int, object]":
        """{index doc_id: source key} for a bounded id set — the
        id-space bridge used by every surface that must leave the
        index's renumbered id space (content fetch, snippets, hybrid
        fusion against an external vector table). ``key_col=None``
        means the spaces coincide (identity map). Reads are row-group
        pruned against the metadata table's doc_id min/max stats."""
        if key_col is None:
            return {d: d for d in ids}
        src = os.path.join(self.root, "docs_meta")
        if not os.path.isdir(src):
            # array-format indexes keep docs_meta virtual; the
            # physical enriched table carries the same columns
            src = os.path.join(self.root, "enriched")
        mt, meta_stats = read_ids_pruned(
            src, ids, ["doc_id", key_col], "doc_id"
        )
        if fetch_stats is not None:
            fetch_stats.update(
                {f"meta_{k}": v for k, v in meta_stats.items()}
            )
        return dict(
            zip(mt["doc_id"].to_pylist(), mt[key_col].to_pylist())
        )

    def search_hybrid_rrf(self, qtext: str, vstore, query_vec=None,
                          query_id: "int | None" = None, k: int = 10,
                          n_candidates: int = 20, rrf_k: int = 60,
                          key_col: "str | None" = None,
                          lsh_hamming: "int | None" = None):
        """Hybrid lexical+semantic retrieval on the serving tier (ES
        8.x search+knn with RRF): BM25 top-``n_candidates`` from this
        index fused with cosine top-``n_candidates`` from ``vstore``
        (a query.vectors.VectorStore) by Reciprocal Rank Fusion.
        Ranks, not raw scores, cross the modality boundary.

        The query vector is either given (``query_vec``) or looked up
        by id (``query_id`` — which is then excluded from the vector
        list, the MoreLikeThis convention). ``key_col`` bridges id
        spaces when the index renumbered its docs (stream-appended
        indexes keep the source id as ``src_doc_id``): text-side hits
        are mapped to source ids BEFORE fusing, so both lists speak the
        vector table's id space. Returns
        [(id, rrf_score, text_rank, vec_rank)] with 0 = absent from
        that list. Declarative twin: harness.q_hybrid_rrf.

        ``lsh_hamming`` switches the vector side to the store's
        approximate scale path (VectorStore.topk_lsh with that probe
        radius; requires build_lsh) — the lexical side and the fuse
        are unchanged, so only vector candidate RECALL is
        approximate, never scoring."""
        from rse_spark.query.vectors import rrf_fuse

        if (query_vec is None) == (query_id is None):
            raise ValueError(
                "exactly one of query_vec / query_id required"
            )
        if n_candidates < 1:
            raise ValueError("n_candidates must be >= 1")
        qv = vstore.vector(query_id) if query_id is not None \
            else query_vec
        hits = self.search(qtext, k=n_candidates)
        keymap = self._key_map([d for d, *_ in hits], key_col)
        # drop hits the metadata table can't map (loud alternative
        # would mask nothing: a missing row means the doc was deleted
        # between scoring and mapping — rank order of the rest holds)
        text_ids = [
            int(keymap[d]) for d, *_ in hits if d in keymap
        ]
        excl = {query_id} if query_id is not None else None
        if lsh_hamming is not None:
            vec_hits = vstore.topk_lsh(
                qv, k=n_candidates, hamming=lsh_hamming, exclude=excl,
            )
        else:
            vec_hits = vstore.topk(qv, k=n_candidates, exclude=excl)
        fused = rrf_fuse(
            [text_ids, [i for i, _c in vec_hits]], k=k, rrf_k=rrf_k,
        )
        return [
            (did, score, ranks[0], ranks[1])
            for did, score, ranks in fused
        ]

    def fetch_content(self, ids: list[int], corpus_path: str,
                      content_col: str = "text",
                      id_col: str = "doc_id",
                      key_col: str | None = None) -> dict[int, str]:
        """{index doc_id: content} for a bounded id set — the serving
        tier's document-store fetch (row-group-pruned pyarrow reads;
        id spaces bridged via the stored doc metadata when the index
        assigned its own ids, see ``phrase_search``). Reads are
        ROW-GROUP pruned against the parquet min/max stats (pruning is
        real only when the store is id-sorted — write it with
        sources/corpus_io.write_content_store); the groups-touched vs
        groups-total counters land in ``last_fetch_stats``."""
        self._check_generation()
        fetch_stats: dict[str, int] = {}
        keymap = self._key_map(ids, key_col, fetch_stats)
        tbl, corpus_stats = read_ids_pruned(
            corpus_path, list(keymap.values()), [id_col, content_col],
            id_col,
        )
        fetch_stats.update(corpus_stats)
        self._tls.fetch_stats = fetch_stats
        text_by_key = dict(
            zip(tbl[id_col].to_pylist(), tbl[content_col].to_pylist())
        )
        return {
            int(d): text_by_key.get(keymap.get(d)) or "" for d in ids
        }

    def snippets(self, hits, qtext: str, corpus_path: str,
                 content_col: str = "text", id_col: str = "doc_id",
                 key_col: str | None = None,
                 width: int = 16) -> dict[int, str]:
        """{doc_id: snippet} for a result page: a ``width``-token
        window of the document centred on the first token matching any
        analyzed query term (a raw token matches when analyzing it
        yields a query term — so camelCase/stemmed forms highlight
        correctly under the code analyzer). Content comes from the
        same bounded document-store fetch the phrase verifier uses;
        matched tokens are wrapped in **…** (GSE returned bare rows,
        reference crawler/src/api/main.go:34-46 — a result page needs
        previews)."""
        terms = set(query_terms(qtext, self.analyzer))
        ids = [d for d, *_ in hits]
        texts = self.fetch_content(
            ids, corpus_path, content_col=content_col,
            id_col=id_col, key_col=key_col,
        )
        out: dict[int, str] = {}
        for d in ids:
            sp = texts.get(d, "").split(" ")
            match = {
                i for i, w in enumerate(sp)
                if terms & set(query_terms(w, self.analyzer))
            }
            first = min(match) if match else 0
            lo = max(0, first - width // 2)
            window = [
                f"**{w}**" if (lo + i) in match else w
                for i, w in enumerate(sp[lo:lo + width])
            ]
            prefix = "… " if lo > 0 else ""
            suffix = " …" if lo + width < len(sp) else ""
            out[int(d)] = prefix + " ".join(window) + suffix
        return out

    def search_dismax(self, qtext: str, k: int = 10,
                      tiebreak: float = 0.0):
        """Lucene DisjunctionMaxQuery over the query's terms: a doc's
        score is its BEST single term contribution plus ``tiebreak``
        times the rest — the ranking for "these words are synonyms of
        one intent, don't reward stuffing all of them" (tiebreak=0) up
        through plain or-mode summing (tiebreak=1, proven equal in the
        pytest). Same single scoring pass as search(); the max is one
        ``np.maximum.at`` over the contributions the sum already
        walks. Declarative twin: harness.q_dismax_bm25."""
        if not 0.0 <= tiebreak <= 1.0:
            raise ValueError("tiebreak must be in [0, 1]")
        return self._search_qtf(
            query_terms(qtext, self.analyzer), k, "or", "numpy",
            combine="dismax", tiebreak=tiebreak,
        )

    def _search_qtf(self, qtf: "dict[str, float]", k: int, mode: str,
                    algo: str, within=None,
                    min_match: "int | None" = None,
                    after: "tuple[float, int] | None" = None,
                    combine: str = "sum", tiebreak: float = 0.0,
                    stats_override: "tuple | None" = None,
                    fvf: "str | None" = None):
        # stats_override = (n_docs, avgdl, {term: df}) — DFS-phase
        # global statistics for cross-index federation
        # (query.federate): THIS instance scores its own postings with
        # the federation's corpus-wide idf and length norm, which is
        # what makes cross-index ranks merge exactly.
        if not qtf:
            return []
        self._check_generation()
        # snapshot for the result-cache store below: a writer commit
        # landing mid-query must not repopulate the just-invalidated
        # cache with pre-commit results (same gen0 pattern as
        # _load_bucket; round-6 advice)
        gen0 = self._gen_sig
        terms = sorted(qtf)
        if min_match is not None:
            if not 1 <= min_match <= len(terms):
                raise ValueError(
                    f"min_match must be in [1, {len(terms)}] for "
                    f"this query"
                )
            if algo != "numpy" or mode != "or":
                raise ValueError(
                    "min_match needs mode='or' and algo='numpy' "
                    "(it generalizes or->and; 'and' IS min_match=all)"
                )
        if after is not None and algo != "numpy":
            raise ValueError("after needs algo='numpy'")
        if fvf is not None:
            if fvf != "ln1p_dlen":
                raise ValueError(
                    "fvf supports only 'ln1p_dlen' (score * ln(1+dl))"
                )
            if algo != "numpy":
                raise ValueError("fvf needs algo='numpy'")
        cache_key = None
        if self.max_result_cache and within is None \
                and stats_override is None:
            # within= sets are ndarray-keyed intermediate calls (the
            # qlang path caches at its own level); everything else is
            # hashable and cacheable
            cache_key = (
                tuple(sorted(qtf.items())), k, mode, algo,
                min_match, after, combine, tiebreak, fvf,
            )
            with self._meta_lock:
                hit = self._result_cache.get(cache_key)
                if hit is not None:
                    self._result_cache.move_to_end(cache_key)
                    self._result_hits += 1
                    return list(hit)
                self._result_misses += 1
        if stats_override is not None:
            g_ndocs, g_avgdl, g_df = stats_override
            weights = {
                t: qtf[t] * idf_fn(g_df.get(t, 0), g_ndocs)
                for t in terms
            }
        else:
            g_avgdl = None
            weights = {
                t: qtf[t]
                * idf_fn(self.term_dict.get(t, (0, 0))[0], self.n_docs)
                for t in terms
            }
        self._prefetch_terms(
            (info[1], t)
            for t, info in (
                (t, self.term_dict.get(t)) for t in terms
            )
            if info
        )
        if combine != "sum" and algo != "numpy":
            raise ValueError("dismax needs algo='numpy'")
        if algo == "numpy" or within is not None:
            res = self._search_numpy(terms, weights, k, mode,
                                     within=within,
                                     min_match=min_match,
                                     after=after, combine=combine,
                                     tiebreak=tiebreak,
                                     avgdl=g_avgdl, fvf=fvf)
            self._result_store(cache_key, res, gen0)
            return res
        per_segment = self._matched_lists(terms, weights)
        results: list[tuple[int, float, int]] = []
        n_terms = len(terms)
        all_iters: list[_ListIter] = []
        for _seg, iters in per_segment.items():
            all_iters.extend(iters)
            if mode == "and":
                if len(iters) < n_terms:
                    continue
                results.extend(intersect_and_lists(iters, k, self.avgdl))
            else:
                results.extend(wand_topk_lists(iters, k, self.avgdl))
        # pruning telemetry: how many blocks the skip pointers let the
        # query avoid decoding (bench.py records this vs the exhaustive
        # path — the 100x-scale claim for WAND, with a number)
        self._tls.stats = {
            "blocks_total": sum(len(it.offs) for it in all_iters),
            "blocks_decoded": sum(it.blocks_decoded for it in all_iters),
        }
        results.sort(key=lambda r: (-r[1], r[0]))
        res = results[:k]
        self._result_store(cache_key, res, gen0)
        return res

    def _result_store(self, cache_key, res, gen0=None) -> None:
        """LRU-insert a finished result page (no-op when caching is
        off, the key was uncacheable, or a writer committed since the
        query snapshotted ``gen0`` — a racing commit must not
        repopulate the just-invalidated cache with stale pages)."""
        if cache_key is None:
            return
        if gen0 is not None and self._gen_stat() != gen0:
            return
        with self._meta_lock:
            self._result_cache[cache_key] = list(res)
            self._result_cache.move_to_end(cache_key)
            while len(self._result_cache) > self.max_result_cache:
                self._result_cache.popitem(last=False)

    @property
    def result_cache_stats(self) -> dict:
        return {
            "hits": self._result_hits,
            "misses": self._result_misses,
            "entries": len(self._result_cache),
        }

    def _search_numpy(self, terms, weights, k: int, mode: str,
                      within=None, min_match: "int | None" = None,
                      after: "tuple[float, int] | None" = None,
                      combine: str = "sum", tiebreak: float = 0.0,
                      avgdl: "float | None" = None,
                      fvf: "str | None" = None):
        """Vectorized exact scoring across all matched lists: each
        term's memoized doc-ordered list contributes weight x impact
        per posting, and ``kernel._grouped_topk`` groups, filters and
        ranks them in one pass.

        ``within`` (sorted unique int64 array) is the candidate
        universe: only those docs are ranked. Postings are never
        masked against it — the grouped sums are read at its slots,
        so its cost is O(|within|), not per posting."""
        import numpy as np

        from rse_spark.index.codec import bm25_impact

        own_avgdl = avgdl is None or avgdl == self.avgdl
        lens = None if own_avgdl and fvf is None else self._doc_lens()
        doc_chunks, score_chunks = [], []
        for t in terms:
            plist = self._term_list(t)
            if plist is None or not len(plist.docs):
                continue
            if own_avgdl:
                imp = plist.impacts
            else:
                imp = bm25_impact(plist.tfs, lens.of(plist.docs), avgdl)
            doc_chunks.append(plist.docs)
            score_chunks.append(weights[t] * imp)
        if not doc_chunks:
            return []
        if len(doc_chunks) == 1:
            docs, scores = doc_chunks[0], score_chunks[0]
        else:
            docs = np.concatenate(doc_chunks)
            scores = np.concatenate(score_chunks)
        need = 1
        if mode == "and":
            need = len(terms)
        elif min_match is not None:
            need = min_match
        return _grouped_topk(
            docs, scores, k, need=need, within=within, after=after,
            combine=combine, tiebreak=tiebreak,
            lens=lens if fvf is not None else None,
        )
