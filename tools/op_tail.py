"""Where a serve_warm stream spends its time: replay one seeded stream
in process against an index root, and print per-kind medians and the
slowest ops.

    python tools/op_tail.py INDEX_ROOT [--seed 7] [--passes 3]
                            [--slowest 20]

INDEX_ROOT is an sf0.1 index built like perfbench's serving index
(``perfbench/common.py``: ``build_index`` with ``LAYOUT``). The ops are
the ones a ``perfbench/run.py --workload serve_warm --seed N`` run times
(``perfbench/streams.py`` and ``perfbench/workloads.py``, imported
read-only), on a replica set up the same way: warmed with the stream's
first search texts, then one untimed pass over every op to fill the lazy
caches. It first opens and warms ``_OPENS`` fresh replicas and prints
the median open + ``warm()`` time, split into the bucket scan, the span
index and the row views. After the filling pass it prints the bytes
each cache holds. Each timed pass runs every op once; an op's time is
its median over the passes. Results are not checked here; the benchmark
checks them.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

_OPENS = 9  # fresh replicas opened and warmed for the open + warm() time


def _timed(parts: "dict[str, float]", name: str, fn):
    def run(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            parts[name] += time.perf_counter() - t0
    return run


def open_warm(root: str, texts: "list[str]"):
    """Open and ``warm()`` ``_OPENS`` fresh replicas, one at a time.
    Returns the last replica and, as medians over the opens in seconds,
    the whole open + warm and its parts: the bucket scan (``_scan``),
    the span index (``_term_spans``) and the row views (``_BatchRows``:
    each batch's views and the term rows sliced from them). The parts
    are timed by wrapping those functions while the replicas open."""
    from rse_spark.query import serve

    targets = [("bucket scan", serve, "_scan"),
               ("span index", serve, "_term_spans"),
               ("row views", serve._BatchRows, "__init__"),
               ("row views", serve._BatchRows, "rows")]
    saved = [(owner, attr, getattr(owner, attr))
             for _name, owner, attr in targets]
    parts: "dict[str, float]" = {}
    runs: "dict[str, list[float]]" = {"open + warm": []}
    searcher = None
    try:
        for (name, owner, attr), (_o, _a, fn) in zip(targets, saved):
            setattr(owner, attr, _timed(parts, name, fn))
        for _ in range(_OPENS):
            parts.update((name, 0.0) for name, _o, _a in targets)
            searcher = None  # one replica at a time
            t0 = time.perf_counter()
            searcher = serve.DirectSearcher(root)
            searcher.warm(texts)
            runs["open + warm"].append(time.perf_counter() - t0)
            for name, secs in parts.items():
                runs.setdefault(name, []).append(secs)
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
    return searcher, {k: statistics.median(v) for k, v in runs.items()}


def held_bytes_rows(searcher) -> "list[tuple[str, int]]":
    """(what, bytes) of everything a replica's caches hold: the Arrow
    tables, the decoded term lists by array, the terms' token slots and
    slot bitmaps, and the generation's doc-length table and slot
    space; last, ``held_bytes``, the total the budgets charge."""
    with searcher._meta_lock:
        rows = [*searcher._term_rows.values(), *searcher._cold_rows.values()]
        slot_lists = list(searcher._pos_slots.values())
        bitmaps = sum(b.nbytes for b in searcher._pos_bitmaps.values())
        lens, slots = searcher._lens, searcher._slots
    plists = [r.plist for r in rows if r.plist is not None]
    tf_types = Counter(p.tfs.dtype.name for p in plists)
    out = [("tables (Arrow)", searcher.cached_bucket_bytes)]
    out += [
        (f"term lists: {a} ({len(plists)} lists)",
         sum(getattr(p, a).nbytes for p in plists))
        for a in ("docs", "impacts")
    ]
    out += [
        (f"term lists: tfs {name} ({n} lists)",
         sum(p.tfs.nbytes for p in plists if p.tfs.dtype.name == name))
        for name, n in sorted(tf_types.items())
    ]
    out += [
        (f"positional slots ({slots.dtype.itemsize if slots else 0} "
         f"B/occurrence)", sum(s.nbytes for s in slot_lists)),
        ("slot bitmaps", bitmaps),
        ("doc-length table", lens.nbytes if lens else 0),
        ("slot space", slots.nbytes if slots else 0),
        ("held_bytes (budgeted caches)", searcher.held_bytes),
    ]
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", help="index root to serve")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--slowest", type=int, default=20,
                    help="how many of the slowest ops to list")
    args = ap.parse_args(argv)

    import pandas as pd
    from oracle import Oracle
    from streams import WARM_MIX, Stream, run_op
    from workloads import WARM_OPS, WARM_TEXTS

    from rse_spark.fixtures import corpus_path
    from rse_spark.tokenizer import tokenize

    corpus = pd.read_parquet(corpus_path(0.1))
    ops = Stream(Oracle(corpus, tokenize), args.seed, WARM_MIX).take(
        WARM_OPS)
    searcher, split = open_warm(
        args.root, [a for k, a in ops[:WARM_TEXTS]
                    if k in ("or", "and", "ql")])
    total = split.pop("open + warm")
    print(f"open + warm(): median {1e3 * total:.1f} ms over {_OPENS} opens")
    for what, secs in split.items():
        print(f"  {what:<38} {1e3 * secs:>9.1f} ms")
    print(f"  {'other (meta, tokenize, locks)':<38} "
          f"{1e3 * (total - sum(split.values())):>9.1f} ms")
    print()
    for kind, arg in ops:
        run_op(searcher, kind, arg)
    print("held after the filling pass:")
    for what, n in held_bytes_rows(searcher):
        print(f"  {what:<38} {n / 1e6:>9.1f} MB")
    print()
    times: list[list[float]] = [[] for _ in ops]
    for _ in range(args.passes):
        for i, (kind, arg) in enumerate(ops):
            t0 = time.perf_counter()
            run_op(searcher, kind, arg)
            times[i].append(1e3 * (time.perf_counter() - t0))
    med = [statistics.median(t) for t in times]

    by_kind: dict[str, list[float]] = {}
    for (kind, _arg), ms in zip(ops, med):
        by_kind.setdefault(kind, []).append(ms)
    print(f"seed {args.seed}: {len(ops)} ops, median of {args.passes} "
          f"timed passes each")
    print(f"{'kind':<8} {'ops':>5} {'median ms':>10} {'mean ms':>9} "
          f"{'max ms':>8}")
    for kind in sorted(by_kind):
        ms = by_kind[kind]
        print(f"{kind:<8} {len(ms):>5} {statistics.median(ms):>10.3f} "
              f"{statistics.fmean(ms):>9.3f} {max(ms):>8.2f}")
    print(f"{'all':<8} {len(med):>5} {statistics.median(med):>10.3f} "
          f"{statistics.fmean(med):>9.3f} {max(med):>8.2f}")
    print(f"\nslowest {args.slowest} ops:")
    order = sorted(range(len(ops)), key=lambda i: -med[i])
    for i in order[: args.slowest]:
        print(f"{med[i]:8.2f} ms  {ops[i][0]:<7} {ops[i][1]}")


if __name__ == "__main__":
    main()
