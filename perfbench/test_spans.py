"""Checks of the benchmark's own tracing arithmetic.

Run with: python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys
import time
import types
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as ptrace  # noqa: E402


def _span(name, start, end, children=()):
    s = ptrace.Span.__new__(ptrace.Span)
    s.name, s.start, s.end, s.parent, s.op = name, start, end, None, 0
    s.children = list(children)
    return s


def test_self_time_nested_children():
    leaf = _span("decode", 2.0, 3.0)
    mid = _span("io", 1.0, 4.0, [leaf])
    root = _span("op", 0.0, 10.0, [mid])
    assert ptrace.self_time(leaf) == 1.0
    assert ptrace.self_time(mid) == 2.0
    assert ptrace.self_time(root) == 7.0
    by = ptrace.self_times_by_name([root])
    assert sum(by.values()) == root.dur


def test_self_time_overlapping_pool_children_counted_once():
    # two pool-thread reads overlap each other and stick out of the
    # parent's interval: only the union inside the parent is removed
    a = _span("io", 1.0, 5.0)
    b = _span("io", 3.0, 7.0)
    c = _span("io", 9.0, 12.0)
    root = _span("op", 0.0, 10.0, [a, b, c])
    assert ptrace.covered([(1, 5), (3, 7), (9, 12)], 0.0, 10.0) == 7.0
    assert ptrace.self_time(root) == 3.0


def test_pool_thread_spans_link_to_calling_op():
    mod = types.ModuleType("perfbench_fake_layer")

    def work(x):
        time.sleep(0.01)
        return x * 2

    mod.work = work
    sys.modules[mod.__name__] = mod
    tr = ptrace.Tracer()
    tr.wrap(f"{mod.__name__}:work", "layer.work")
    tr.link_pool_threads()
    try:
        assert mod.work(1) == 2  # outside an op: not recorded
        with tr.op("query", 7):
            with ThreadPoolExecutor(max_workers=2) as ex:
                assert list(ex.map(mod.work, [1, 2])) == [2, 4]
    finally:
        tr.unwrap_all()
        del sys.modules[mod.__name__]
    assert len(tr.roots) == 1
    root = tr.roots[0]
    assert [c.name for c in root.children] == ["layer.work"] * 2
    assert {c.op for c in root.children} == {7}
    # the two sleeps ran in parallel: their union is < their sum
    assert ptrace.self_time(root) < root.dur
    assert mod.work is work
    assert ThreadPoolExecutor.submit.__module__ == "concurrent.futures.thread"


def test_wrap_method_and_restore():
    class Searcher:
        def search(self, q):
            return q.upper()

    mod = types.ModuleType("perfbench_fake_serve")
    mod.Searcher = Searcher
    sys.modules[mod.__name__] = mod
    tr = ptrace.Tracer()
    tr.wrap(f"{mod.__name__}:Searcher.search", "serve.search")
    try:
        with tr.op("q", 1):
            assert Searcher().search("a") == "A"
    finally:
        tr.unwrap_all()
        del sys.modules[mod.__name__]
    assert ptrace.calls_by_name(tr.roots) == {"q": 1, "serve.search": 1}
    assert Searcher.search.__name__ == "search"
    assert "wrapper" not in repr(Searcher.__dict__["search"])


def test_tail_percentile_keeps_ten_beyond():
    assert ptrace.tail_percentile(1000) == 99.0
    assert ptrace.tail_percentile(5000) == 99.0
    # 500 samples: p99 would leave only 5 above it
    assert ptrace.tail_percentile(500) == 98.0
    assert ptrace.tail_percentile(10) == 0.0


def test_latency_summary_reports_counts():
    vals = [i / 1000.0 for i in range(1, 1001)]  # 1..1000 ms
    s = ptrace.latency_summary(vals)
    assert s["n"] == 1000
    assert s["tail_pct"] == 99.0
    assert abs(s["tail_ms"] - 990.0) < 1e-9
    assert s["n_beyond_tail"] == 10
    assert abs(s["p50_ms"] - 500.0) < 1e-9
    small = ptrace.latency_summary(vals[:200])
    assert small["tail_pct"] == 95.0
    assert small["n_beyond_tail"] == 10
