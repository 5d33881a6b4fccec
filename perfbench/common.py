"""Shared plumbing: pinned environment, Spark lifecycle, CPU and size
probes, and the per-checkout cache of the serving index.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout root (and the corpus fixtures under ``.cache/``, where
``rse_spark.fixtures`` keeps them).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def pin_env() -> None:
    """Pin every knob the measurements depend on, before any import of
    pyspark or rse_spark reads it. Temp files, Spark scratch and the
    JVM's tmpdir all land inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # the previous run's leftovers
    os.makedirs(tmp)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "RSE_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    sys.dont_write_bytecode = True
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def pinned() -> dict:
    return {k: os.environ[k] for k in
            ("SPARK_GRAFT_CPUS", "RSE_DRIVER_MEM", "SPARK_LOCAL_DIRS")}


# -- processes and CPU


def _proc_table() -> "dict[int, tuple[int, float]]":
    """pid -> (ppid, cpu seconds incl. reaped children) for all procs."""
    tck = os.sysconf("SC_CLK_TCK")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rfind(")") + 2:].split()
        out[int(d)] = (
            int(fields[1]), sum(int(x) for x in fields[11:15]) / tck
        )
    return out


def descendants(pid: int | None = None) -> "list[int]":
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], [pid or os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu() -> float:
    """CPU seconds of this process and every live descendant (Spark's
    JVM and its Python workers), each including its reaped children."""
    table = _proc_table()
    me = os.getpid()
    return table[me][1] + sum(
        table[p][1] for p in descendants(me) if p in table
    )


def _status_mb(field: str) -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} missing from /proc/self/status")


def reset_peak_rss() -> float:
    """Restart the process's peak-RSS mark (VmHWM) at the current RSS and
    return that RSS in MB, so a later :func:`peak_rss_mb` minus it is the
    peak memory added after this point (the reference data the checks
    keep in memory is excluded). Freed memory the allocators still hold
    is returned first; otherwise later allocations reuse it unseen, by
    an amount that depends on timing. The allocators' background threads
    return pages late now and then, so the RSS is the least of a few
    reads a fifth of a second apart."""
    import ctypes

    import pyarrow as pa

    reads = []
    for _ in range(5):
        pa.default_memory_pool().release_unused()
        ctypes.CDLL("libc.so.6").malloc_trim(0)
        reads.append(_status_mb("VmRSS"))
        time.sleep(0.2)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return min(reads)


def settle_spark(spark, idle_cores: float = 0.1, window: float = 0.25,
                 limit: float = 10.0) -> None:
    """Run a JVM garbage collection and wait (up to ``limit`` s) until
    Spark's processes use under ``idle_cores`` CPUs, so the JVM's
    background work after a job does not land in replica timings."""
    spark.sparkContext._jvm.System.gc()
    me = os.getpid()

    def busy() -> float:
        table = _proc_table()
        return sum(table[p][1] for p in descendants(me) if p in table)

    deadline = time.time() + limit
    last = busy()
    while time.time() < deadline:
        time.sleep(window)
        now = busy()
        if now - last < idle_cores * window:
            return
        last = now


def peak_rss_mb() -> float:
    return _status_mb("VmHWM")


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def calib_mops(n: int = 2_000_000) -> float:
    """Pure-Python busy loop throughput (the calibration row of
    tools/bench_scaling.py): reported beside the numbers, never used to
    normalise them."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return n / (time.perf_counter() - t0) / 1e6


# -- Spark


def start_spark():
    from rse_spark.deploy import ensure_shipped
    from rse_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants()  # orphans leave the tree but are still ours
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None

    def alive() -> "list[int]":
        table = _proc_table()
        return [p for p in set(started) | set(descendants()) if p in table]

    deadline = time.time() + 60
    while alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- the serving index, built once per checkout

SERVE_SF = 0.1
LAYOUT = dict(analyzer="code", docs_per_segment=4096, segments_per_group=4,
              with_positions=True)


def source_key() -> str:
    """Hash of the program's sources and the build settings: a cached
    index is reused only by the code that wrote it."""
    h = hashlib.sha256(json.dumps(LAYOUT, sort_keys=True).encode())
    pkg = os.path.join(ROOT, "rse_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build_index(spark, corpus_pq: str, root: str):
    from rse_spark.index.storage import build_resumable

    return build_resumable(
        spark, spark.read.parquet(corpus_pq), root,
        source_snapshot=corpus_pq, **LAYOUT,
    )


def serve_index() -> "tuple[str, dict]":
    """Path of the sf0.1 serving index for this checkout's code and the
    bytes a replica caches when it holds all of it, building both on
    first use (outside every timed section)."""
    from rse_spark.fixtures import corpus_path
    from rse_spark.query.serve import DirectSearcher

    cache = os.path.join(WORK, "cache")
    key = source_key()
    root = os.path.join(cache, f"serve_sf{SERVE_SF}_{key}")
    facts_path = root + ".facts.json"
    if not os.path.exists(facts_path):
        _prune(cache, keep=1)
        corpus_pq = corpus_path(SERVE_SF)
        tmp = root + ".tmp"
        spark = start_spark()
        try:
            build_index(spark, corpus_pq, tmp)
        finally:
            stop_spark(spark)
        os.replace(tmp, root)
        full = DirectSearcher(root)
        full.warm(list(full.term_dict))
        facts = {"full_cache_bytes": full.cached_bucket_bytes}
        with open(facts_path + ".tmp", "w") as f:
            json.dump(facts, f)
        os.replace(facts_path + ".tmp", facts_path)
    with open(facts_path) as f:
        return root, json.load(f)



def _prune(cache: str, keep: int) -> None:
    """Drop all but the ``keep`` newest cached indexes (and any build a
    killed run left half done)."""
    if not os.path.isdir(cache):
        return
    facts = sorted(
        (f for f in os.listdir(cache) if f.endswith(".facts.json")),
        key=lambda f: os.path.getmtime(os.path.join(cache, f)),
    )
    live = {f[: -len(".facts.json")] for f in facts[len(facts) - keep:]}
    for name in os.listdir(cache):
        stem = name[: -len(".facts.json")] if name.endswith(
            ".facts.json") else name
        if stem in live:
            continue
        path = os.path.join(cache, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
