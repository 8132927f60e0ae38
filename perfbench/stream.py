"""Burst-drain stream segment through ``streaming.job.run_microbatch``.

Pre-written parquet files of the workload's records are renamed into the
watched directory by a generator thread on a fixed schedule, whatever
the job's progress (``RATE_FILES_PER_S`` x ``ROWS_PER_FILE`` records per
second). That rate is far above what the job drains: a micro-batch costs
several seconds, almost all of it fixed, and a traced run cannot afford
the ten or more commits an offered load below capacity would need. The
segment therefore measures how long the job takes to drain a burst: the
scheduled files arrive within about two seconds and are committed in one
to three micro-batches, so ``lag_p50_ms`` and ``lag_p90_ms`` often come
from the same commit.

A file's lag runs from its *due* time to the commit of the micro-batch
that read it. The file -> batch map comes from the file source log
(``_checkpoint/sources/0/*``, ``.compact`` included) and a batch's commit
time is the mtime of ``_checkpoint/commits/<id>``. The first
``WARMUP_FILES`` files are offered at once and committed before the
schedule starts, so the streaming plan is compiled; they are left out of
the lag figures.
"""
from __future__ import annotations

import json
import os
import statistics
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

ROWS_PER_FILE = 20
RATE_FILES_PER_S = 50.0
WARMUP_FILES = 10
MEASURED_FILES = 100
DRAIN_TIMEOUT_S = 60.0


def _file_batches(checkpoint: Path) -> dict[str, set[int]]:
    """file name -> the batch ids the file source log assigns it to."""
    out: dict[str, set[int]] = {}
    log = checkpoint / "sources" / "0"
    if not log.is_dir():
        return out
    for entry in log.iterdir():
        if entry.name.startswith("."):
            continue
        try:
            lines = entry.read_text().splitlines()[1:]  # first line: version
        except FileNotFoundError:  # replaced by compaction meanwhile
            continue
        for line in lines:
            rec = json.loads(line)
            out.setdefault(os.path.basename(rec["path"]), set()).add(rec["batchId"])
    return out


def _commit_times(checkpoint: Path) -> dict[int, float]:
    commits = checkpoint / "commits"
    if not commits.is_dir():
        return {}
    return {
        int(p.name): p.stat().st_mtime
        for p in commits.iterdir()
        if p.name.isdigit()
    }


def _quantile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _wait_committed(query, checkpoint: Path, names: list[str], timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and query.exception() is None:
        batches, commits = _file_batches(checkpoint), _commit_times(checkpoint)
        if all(b and b <= commits.keys() for b in (batches.get(n) for n in names)):
            return
        time.sleep(0.1)


def stream_segment(spark, corpus, work: Path) -> tuple[dict, list[str]]:
    """Run the burst-drain segment; returns (metrics, failures)."""
    from emf_spark.streaming import job

    n_files = WARMUP_FILES + MEASURED_FILES
    if len(corpus) < n_files * ROWS_PER_FILE:
        raise ValueError("corpus too small for the stream segment")
    staging, watched, out = (work / "stream" / d for d in ("staging", "in", "out"))
    staging.mkdir(parents=True)
    watched.mkdir(parents=True)
    names = [f"part-{k:05d}.parquet" for k in range(n_files)]
    for k, name in enumerate(names):
        pq.write_table(
            corpus.table(k * ROWS_PER_FILE, (k + 1) * ROWS_PER_FILE), staging / name
        )
    warmup, measured = names[:WARMUP_FILES], names[WARMUP_FILES:]
    checkpoint = out / "_checkpoint"

    query = job.run_microbatch(
        spark,
        str(watched),
        str(out),
        trigger={"processingTime": "1 second"},
        max_files_per_trigger=n_files,
    )
    due: dict[str, float] = {}
    offered: dict[str, float] = {}

    def offer(name: str) -> None:
        os.rename(staging / name, watched / name)
        offered[name] = time.time()

    def generate():
        t0 = time.time()
        for k, name in enumerate(measured):
            due[name] = t0 + k / RATE_FILES_PER_S
            wait = due[name] - time.time()
            if wait > 0:
                time.sleep(wait)
            offer(name)

    try:
        # the first micro-batches compile the streaming plan: offer the
        # warm-up files at once and let them commit before the schedule
        for name in warmup:
            offer(name)
        _wait_committed(query, checkpoint, warmup, DRAIN_TIMEOUT_S)
        gen = threading.Thread(target=generate)
        gen.start()
        gen.join()
        _wait_committed(query, checkpoint, names, DRAIN_TIMEOUT_S)
        error = query.exception()
        progress = query.recentProgress
    finally:
        query.stop()
    batches, commits = _file_batches(checkpoint), _commit_times(checkpoint)

    failures = [f"stream: query failed: {error}"] if error is not None else []
    for name in names:
        ids = batches.get(name, set())
        if len(ids) != 1 or not ids <= commits.keys():
            failures.append(f"stream: {name} committed in batches {sorted(ids)}, not exactly once")
    if failures:
        return {}, failures

    commit_of = {n: commits[next(iter(batches[n]))] for n in names}
    lags = [(commit_of[n] - due[n]) * 1000 for n in measured]
    # files offered but not yet committed, just before each commit
    backlog = max(
        sum(offered[n] <= c for n in measured) - sum(commit_of[n] < c for n in measured)
        for c in {commit_of[n] for n in measured}
    )
    busy = [p for p in progress if p["numInputRows"] > 0]
    metrics = {
        "streaming.lag_p50_ms": statistics.median(lags),
        "streaming.lag_p90_ms": _quantile(lags, 90),
        "streaming.batches": len(commits),
        "streaming.batch_s_p50": statistics.median(
            p["durationMs"]["triggerExecution"] / 1000 for p in busy
        ),
        "streaming.batch_rows_p50": statistics.median(p["numInputRows"] for p in busy),
        "streaming.backlog_files_max": backlog,
        "streaming.generator_late_ms": max(offered[n] - due[n] for n in measured) * 1000,
    }
    return metrics, failures
