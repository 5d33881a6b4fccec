"""spark-submit entry points: build / query / bench.

Run via ``spark-submit --py-files rse_spark.zip rse_spark/cli.py <cmd>``
or plain ``python -m rse_spark.cli <cmd>`` in local mode (the session
factory handles master/config either way — on a real cluster pass
--master and the configs through spark-submit and get_spark will reuse
the active session).

Commands
--------
build   --corpus <parquet> --root <dir> [--analyzer code] [--content-col content]
query   --root <dir> --q "terms..." [--k 10] [--mode or|and] [--algo wand|exact]
curate  --input <path> [--input <path> ...] --out <dir> [gate/dedup/split/chunk opts]
        the ship-a-training-dataset job: multi-format corpus tree ->
        gate -> dedup (exact + LSH near-dup) -> cap -> split -> chunk
        -> partitioned JSONL, checkpointed per stage (rerun resumes)
bench   (delegates to bench.py's main)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--root", required=True)
    b.add_argument("--analyzer", default="code")
    b.add_argument("--content-col", default="content")
    b.add_argument("--docs-per-segment", type=int, default=4096)
    b.add_argument("--segments-per-group", type=int, default=4)
    b.add_argument("--with-positions", action="store_true",
                   help="emit the positional sidecar from the SAME "
                        "tokenizer scan (phrase/NEAR queries without "
                        "a content store; no second corpus pass)")

    c = sub.add_parser("curate", help="build a curated JSONL dataset")
    c.add_argument("--input", action="append", required=True,
                   help="corpus path (repeatable; parquet/jsonl/csv/txt)")
    c.add_argument("--out", required=True)
    c.add_argument("--content-col", default=None)
    c.add_argument("--allow-langs", default=None,
                   help="comma-separated lang allowlist")
    c.add_argument("--min-chars", type=int, default=1)
    c.add_argument("--no-near-dup", action="store_true")
    c.add_argument("--cap-per-lang", type=int, default=None)
    c.add_argument("--train-pct", type=int, default=90)
    c.add_argument("--chunk-tokens", type=int, default=None)
    c.add_argument("--chunk-stride", type=int, default=None)
    c.add_argument("--redact-pii", action="store_true",
                   help="scrub email/IPv4/phone from content")
    c.add_argument("--max-rep-ratio", type=float, default=None,
                   help="drop docs whose duplicate-3-gram fraction "
                        "exceeds this (Gopher-style repetition filter)")
    c.add_argument("--decontaminate-against", action="append",
                   default=None,
                   help="held-out eval corpus path (repeatable); drop "
                        "training docs sharing any n-gram with it")
    c.add_argument("--decon-n", type=int, default=8)

    v = sub.add_parser(
        "check", help="verify index integrity (per-row sha256 vs the "
                      "source table + structural invariants)"
    )
    v.add_argument("--root", required=True)
    v.add_argument("--corpus", default=None,
                   help="source parquet for the per-row sha256 check")
    v.add_argument("--content-col", default="content")
    v.add_argument("--sample-lists", type=int, default=200)
    v.add_argument("--expect-full-coverage", action="store_true",
                   help="fail if any corpus row is absent from the "
                        "index (default: report-only — gated/subset "
                        "builds legitimately index fewer rows)")

    k = sub.add_parser(
        "compact", help="merge sparse segment groups (stream-grown "
                        "indexes accumulate one small group per batch)"
    )
    k.add_argument("--root", required=True)
    k.add_argument("--min-fill", type=float, default=0.5)
    k.add_argument("--dry-run", action="store_true",
                   help="report the merge plan without writing")

    s = sub.add_parser(
        "serve", help="HTTP /search endpoint over a built index "
                      "(serving tier — no Spark session)"
    )
    s.add_argument("--root", required=True)
    s.add_argument("--analyzer", default="code")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=0)
    s.add_argument("--corpus-path", default=None,
                   help="parquet content store enabling ?phrase=")
    s.add_argument("--key-col", default=None)
    s.add_argument("--content-col", default="text")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--max-bucket-mb", type=int, default=None,
                   help="LRU budget for the bucket cache: Arrow "
                   "tables plus the term lists decoded from them")
    s.add_argument("--max-vocab", type=int, default=10_000_000,
                   help="above this vocab size, skip the in-memory "
                        "dict and use per-term parquet lookups")
    s.add_argument("--vectors-path", default=None,
                   help="parquet embeddings table enabling hybrid "
                        "?q=&knn= pages (RRF fusion)")
    s.add_argument("--vector-id-col", default="vec_id")
    s.add_argument("--vector-col", default="embedding")
    s.add_argument("--vector-lsh-bits", type=int, default=None,
                   help="build 2^bits LSH cells at startup, enabling "
                        "the approximate ?knn_hamming= probe radius")
    s.add_argument("--result-cache", type=int, default=0,
                   help="request-cache entries (0 = off; "
                        "generation-invalidated)")
    s.add_argument("--smoke", action="store_true",
                   help="start, print the address, stop (healthcheck)")

    bp = sub.add_parser(
        "build-positions",
        help="build the positional sidecar index (phrase matching "
             "without a content store)"
    )
    bp.add_argument("--corpus", default=None,
                    help="source parquet (not needed for indexes "
                         "built with --with-positions: the sidecar "
                         "derives from the enriched table)")
    bp.add_argument("--root", required=True)
    bp.add_argument("--analyzer", default="auto",
                    help="'auto' = the index's recorded analyzer")
    bp.add_argument("--content-col", default="content")
    bp.add_argument("--only-missing", action="store_true",
                    help="incremental: build only postings groups "
                         "with no positions partition yet")

    cs = sub.add_parser(
        "content-store",
        help="write an id-clustered content store (row-group-prunable "
             "snippet/phrase fetches)"
    )
    cs.add_argument("--input", required=True)
    cs.add_argument("--out", required=True)
    cs.add_argument("--id-col", default="doc_id")
    cs.add_argument("--rows-per-file", type=int, default=1_000_000)
    cs.add_argument("--block-bytes", type=int, default=None,
                    help="parquet row-group byte target (finer pruning)")

    al = sub.add_parser(
        "alias",
        help="read or atomically re-point an index alias "
             "(blue/green swap after a reindex)",
    )
    al.add_argument("--path", required=True)
    al.add_argument("--target", default=None,
                    help="index root to point at; omit to read")

    ri = sub.add_parser(
        "reindex",
        help="rebuild an index into a new root from its enriched "
             "table (ES _reindex; optional ql filter, re-layout)",
    )
    ri.add_argument("--src", required=True)
    ri.add_argument("--dst", required=True)
    ri.add_argument("--ql", default=None,
                    help="keep only docs matching this boolean query")
    ri.add_argument("--docs-per-segment", type=int, default=None)
    ri.add_argument("--segments-per-group", type=int, default=None)
    ri.add_argument("--n-buckets", type=int, default=None)

    sn = sub.add_parser(
        "snapshot",
        help="point-in-time copy of an index (generation-consistent)",
    )
    sn.add_argument("--root", required=True)
    sn.add_argument("--dest", required=True)
    sn.add_argument("--retries", type=int, default=3)

    rs = sub.add_parser("restore", help="restore an index snapshot")
    rs.add_argument("--snapshot", required=True)
    rs.add_argument("--root", required=True)
    rs.add_argument("--force", action="store_true",
                    help="replace an existing index at --root")

    dq = sub.add_parser(
        "delete-by-query",
        help="remove every doc matching a boolean ql query "
             "(ES _delete_by_query)",
    )
    dq.add_argument("--root", required=True)
    dq.add_argument("--ql", required=True,
                    help="mini-language query (terms, AND/OR, -neg, "
                         "prefix*, lang:/repo:/path: filters)")
    dq.add_argument("--analyzer", default="code")
    dq.add_argument("--dry-run", action="store_true",
                    help="report the match count, delete nothing")

    q = sub.add_parser("query", help="BM25 top-k search")
    q.add_argument("--root", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", default="or", choices=["or", "and"])
    q.add_argument("--algo", default="wand", choices=["wand", "exact"])
    q.add_argument("--analyzer", default="code")

    args = p.parse_args(argv)

    if args.cmd == "serve":
        # serving tier: pyarrow + numpy only — deliberately NO Spark
        from rse_spark.query.http import SearchServer

        srv = SearchServer(
            args.root, analyzer=args.analyzer,
            host=args.host, port=args.port,
            corpus_path=args.corpus_path,
            content_col=args.content_col, id_col=args.id_col,
            key_col=args.key_col,
            max_vocab_in_memory=args.max_vocab,
            result_cache=args.result_cache,
            vectors_path=args.vectors_path,
            vector_id_col=args.vector_id_col,
            vector_col=args.vector_col,
            vector_lsh_bits=args.vector_lsh_bits,
        )
        if args.max_bucket_mb is not None:
            srv.searcher.max_bucket_bytes = args.max_bucket_mb << 20
        srv.start()
        print(json.dumps({"serving": srv.address, "root": args.root}),
              flush=True)
        if args.smoke:
            srv.stop()
            return 0
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            srv.stop()
        return 0

    if args.cmd == "alias":
        # filesystem-only — NO Spark
        from rse_spark.index.alias import get_alias, set_alias

        if args.target is not None:
            set_alias(args.path, args.target)
        print(json.dumps({
            "path": args.path, "target": get_alias(args.path),
        }))
        return 0

    if args.cmd == "snapshot":
        # filesystem-only, like serve — deliberately NO Spark
        from rse_spark.index.snapshot import snapshot_index

        t0 = time.time()
        gen = snapshot_index(args.root, args.dest,
                             retries=args.retries)
        print(json.dumps({
            "snapshot": args.dest, "root": args.root,
            "generation": gen,
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    if args.cmd == "restore":
        from rse_spark.index.snapshot import restore_index

        t0 = time.time()
        gen = restore_index(args.snapshot, args.root,
                            force=args.force)
        print(json.dumps({
            "root": args.root, "snapshot": args.snapshot,
            "generation": gen,
            "wall_sec": round(time.time() - t0, 2),
        }))
        return 0

    from pyspark.sql import SparkSession

    from rse_spark.deploy import ensure_shipped
    from rse_spark.session import get_spark

    # get_spark reuses an active session (e.g. under pytest or inside a
    # larger driver program); only stop what this entry point created
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(f"rse-cli-{args.cmd}")
    ensure_shipped(spark)

    if args.cmd == "build-positions":
        from rse_spark.index.positions import build_positions

        t0 = time.time()
        n = build_positions(
            spark,
            spark.read.parquet(args.corpus) if args.corpus else None,
            args.root,
            analyzer=None if args.analyzer == "auto" else args.analyzer,
            content_col=args.content_col,
            only_missing=args.only_missing,
        )
        print(json.dumps({"root": args.root, "groups_built": n,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "content-store":
        from rse_spark.sources.corpus_io import write_content_store

        t0 = time.time()
        write_content_store(
            spark.read.parquet(args.input), args.out,
            id_col=args.id_col,
            target_rows_per_file=args.rows_per_file,
            parquet_block_bytes=args.block_bytes,
        )
        print(json.dumps({"out": args.out,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "build":
        from rse_spark.index.storage import build_resumable

        corpus = spark.read.parquet(args.corpus)
        t0 = time.time()
        store = build_resumable(
            spark, corpus, args.root,
            analyzer=args.analyzer,
            content_col=args.content_col,
            docs_per_segment=args.docs_per_segment,
            segments_per_group=args.segments_per_group,
            source_snapshot=args.corpus,
            with_positions=args.with_positions,
        )
        rec = store.completed_units()["docs"]
        print(json.dumps({
            "built": args.root,
            "n_docs": rec["n_docs"],
            "wall_sec": round(time.time() - t0, 2),
            "units": len(store.completed_units()),
        }))
    elif args.cmd == "curate":
        from rse_spark.curate import curate_dataset

        t0 = time.time()
        summary = curate_dataset(
            spark, args.input, args.out,
            content_col=args.content_col,
            allow_langs=(args.allow_langs.split(",")
                         if args.allow_langs else None),
            min_chars=args.min_chars,
            redact=args.redact_pii,
            max_rep_ratio=args.max_rep_ratio,
            decontaminate_against=args.decontaminate_against,
            decon_n=args.decon_n,
            near_dup=not args.no_near_dup,
            cap_per_lang=args.cap_per_lang,
            train_pct=args.train_pct,
            chunk_tokens=args.chunk_tokens,
            chunk_stride=args.chunk_stride,
        )
        summary["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(summary))
    elif args.cmd == "check":
        from rse_spark.index.integrity import check_index

        t0 = time.time()
        report = check_index(
            spark, args.root,
            corpus=(spark.read.parquet(args.corpus)
                    if args.corpus else None),
            content_col=args.content_col,
            sample_lists=args.sample_lists,
            expect_full_coverage=args.expect_full_coverage,
        )
        report["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(report))
        if not report["ok"]:
            if owns_session:
                spark.stop()
            return 1
    elif args.cmd == "compact":
        from rse_spark.index.compact import compact_groups, plan_compaction

        t0 = time.time()
        if args.dry_run:
            out = plan_compaction(spark, args.root, min_fill=args.min_fill)
        else:
            out = compact_groups(spark, args.root, min_fill=args.min_fill)
        out["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
    elif args.cmd == "reindex":
        from rse_spark.index.reindex import reindex

        summary = reindex(
            spark, args.src, args.dst, ql=args.ql,
            docs_per_segment=args.docs_per_segment,
            segments_per_group=args.segments_per_group,
            n_buckets=args.n_buckets,
        )
        print(json.dumps({"src": args.src, "dst": args.dst,
                          **summary}))
    elif args.cmd == "delete-by-query":
        from rse_spark.index.upsert import delete_by_query

        t0 = time.time()
        matched, deleted = delete_by_query(
            spark, args.root, args.ql, analyzer=args.analyzer,
            dry_run=args.dry_run,
        )
        print(json.dumps({
            "root": args.root, "ql": args.ql, "matched": matched,
            "deleted": deleted, "dry_run": args.dry_run,
            "wall_sec": round(time.time() - t0, 2),
        }))
    elif args.cmd == "query":
        from rse_spark.index.storage import IndexStorage
        from rse_spark.query.engine import search
        from rse_spark.query.wand import wand_search

        idx = IndexStorage(args.root).load(spark)
        fn = wand_search if args.algo == "wand" else search
        from pyspark.sql import functions as F

        t0 = time.time()
        rows = (
            fn(
                spark, idx.postings, args.q,
                n_docs=idx.n_docs, avgdl=idx.avgdl,
                term_stats=idx.term_stats, k=args.k,
                mode=args.mode, analyzer=args.analyzer,
            )
            .join(idx.doc_map, "doc_id")
            # the join does not preserve the top-k order — restore it
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        out = [
            {k: r[k] for k in r.asDict() if k != "n_terms_matched"}
            for r in rows
        ]
        print(json.dumps({
            "query": args.q, "k": args.k, "mode": args.mode,
            "latency_ms": round(1000 * (time.time() - t0), 1),
            "hits": out,
        }, default=str))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
