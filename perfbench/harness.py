"""Spark session lifetime, the timed pipeline run, and process-tree memory.

Everything the benchmark writes (Spark local dirs, JVM temp files, event
logs, outputs) stays under its work directory inside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import signal
import threading
import time
from dataclasses import dataclass
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def new_session(work: Path, cpus: int, event_log: bool = False):
    """A local[cpus] session through the program's own factory. Starts the
    JVM when none is running; otherwise builds a new SparkContext in it."""
    from emf_spark.session import get_spark

    conf = {
        # A fixed heap that holds these inputs with room to spare. With
        # the factory's 8g default the heap grows with GC timing, and the
        # process's memory varies from run to run by more than any bound.
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir.as_uri(),
            }
        )
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    _forget_jvm_udfs()
    return spark


def _forget_jvm_udfs() -> None:
    """A pandas UDF caches its JVM handle on first use, bound to that
    SparkContext's accumulator server; after a context restart the stale
    handle fails every task's accumulator update. Drop the caches so the
    next use binds to the current context."""
    from emf_spark import tokenizer

    for udf in (tokenizer.detokenize_udf, tokenizer.tokenize_udf):
        udf._unwrapped._judf_placeholder = None


def register_input(spark, path: str) -> None:
    """Input registration: resolve the parquet footer and name the table."""
    spark.read.parquet(path).createOrReplaceTempView("perfbench_input")


def shutdown() -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process under it (the Python worker daemons and workers) have
    exited; the next ``new_session`` launches a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    gateway.shutdown()
    # the gateway JVM exits on EOF of its stdin; its worker daemons on
    # EOF of theirs once it is gone
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while (alive := [p for p in started if _running(p)]) and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@dataclass
class RunResult:
    seconds: float
    failures: list[str]


def timed_run(spark, input_path: str, out_dir: Path, exp) -> RunResult:
    """One ``pipeline.run`` with every write, timed; its outputs are
    checked afterwards, outside the timed region."""
    from emf_spark import pipeline
    from perfbench.check import check_run

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    res = pipeline.run(spark, input_path, str(out_dir))
    seconds = time.perf_counter() - t0
    stats = {r["sink"]: r.asDict() for r in res.stats.collect()}
    return RunResult(seconds, check_run(str(out_dir), stats, exp))


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    children = _children() if children is None else children
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Resident memory of every descendant of ``root``, excluding ``root``.
    The driver JVM (a direct child) counts its RSS: it shares no pages
    with the others, and walking its page tables for PSS would take tens
    of milliseconds per sample. The Python worker daemons and workers
    count their proportional set size: workers are forked from a daemon,
    and plain RSS would count their shared pages once per worker."""
    children = _children()
    total = 0
    for pid in children.get(root, []):
        for p in [pid, *descendants(pid, children)]:
            try:
                total += _rss_bytes(p) if p == pid else _pss_bytes(p)
            except OSError:
                pass
    return total


class RssSampler:
    """Samples ``tree_rss_bytes`` of this process every ``interval``
    seconds on a thread while active."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        pid = os.getpid()
        while True:
            self.samples.append(tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _git_sha(root: Path) -> str | None:
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = root / ".git" / ref[5:]
    return ref_file.read_text().strip() if ref_file.is_file() else None


def environment(root: Path) -> dict:
    """Stamped into every result: the hardware parallelism, the library
    versions and which program source was measured."""
    import pyarrow
    import pyspark

    digest = hashlib.sha256()
    for p in sorted((root / "emf_spark").rglob("*.py")):
        digest.update(p.relative_to(root).as_posix().encode() + b"\0" + p.read_bytes())
    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "emf_spark_sha256": digest.hexdigest(),
    }
