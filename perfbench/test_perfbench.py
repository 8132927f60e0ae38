"""The benchmark's own tests: python3 -m pytest perfbench -q

The end-to-end cases start real Spark sessions through run.py and take
a few minutes in total.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.check import check_run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, seed: int, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _metrics(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


def test_seeds_change_input_bytes_not_shape():
    a, b = inputs.generate("emf_mix", 1), inputs.generate("emf_mix", 2)
    assert a.payloads != b.payloads
    assert inputs.generate("emf_mix", 1).payloads == a.payloads
    assert len(a) == len(b)


def test_inputs_carry_valid_non_ascii_utf8():
    corpus = inputs.generate("emf_mix", 1)
    non_ascii = [p for p in corpus.payloads if max(p) >= 0x80]
    assert len(non_ascii) >= len(corpus) // (2 * inputs.NON_ASCII_EVERY)
    for p in non_ascii:
        assert json.loads(p.decode("utf-8"))["Region"] in inputs.NON_ASCII_REGIONS


def test_some_sources_are_missing_from_the_lookup():
    corpus = inputs.generate("emf_mix", 1)
    unknown = [i for i, s in enumerate(corpus.sources) if s == inputs.UNKNOWN_SOURCE]
    assert len(unknown) == len(corpus) // inputs.UNKNOWN_SOURCE_EVERY
    assert inputs.UNKNOWN_SOURCE not in inputs.SINK_OF
    assert inputs.DEFAULT_SINK in inputs.expected(corpus).rows_by_sink


def test_high_card_spreads_records_over_windows():
    exp_mix = inputs.expected(inputs.generate("emf_mix", 1))
    exp_hc = inputs.expected(inputs.generate("emf_high_card", 1))
    # same generator and seed: identical validity split and sinks
    assert exp_mix.errors == exp_hc.errors > 0
    assert exp_mix.rows_by_sink == exp_hc.rows_by_sink


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    work = tmp_path_factory.mktemp("spark")
    s = harness.new_session(work, 2)
    yield s
    harness.shutdown()


def test_check_rejects_a_deleted_routed_file(spark, tmp_path):
    from emf_spark import pipeline

    corpus = inputs.generate("emf_mix", 5)
    corpus = inputs.Corpus(*(col[:400] for col in (corpus.doc_ids, corpus.payloads,
                                                   corpus.sources, corpus.valid)))
    exp = inputs.expected(corpus)
    path = inputs.write_parquet(corpus, str(tmp_path / "in" / "input.parquet"))
    out = tmp_path / "out"
    res = pipeline.run(spark, path, str(out))
    stats = {r["sink"]: r.asDict() for r in res.stats.collect()}
    assert check_run(str(out), stats, exp) == []

    victim = next((out / "routed").glob("sink=*/*.parquet"))
    victim.unlink()
    failures = check_run(str(out), stats, exp)
    assert any("routed" in f for f in failures), failures


def test_check_rejects_changed_token_arrays(spark, tmp_path):
    from emf_spark import pipeline

    corpus = inputs.generate("emf_mix", 6)
    corpus = inputs.Corpus(*(col[:200] for col in (corpus.doc_ids, corpus.payloads,
                                                   corpus.sources, corpus.valid)))
    path = inputs.write_parquet(corpus, str(tmp_path / "in" / "input.parquet"))
    out = tmp_path / "out"
    res = pipeline.run(spark, path, str(out))
    stats = {r["sink"]: r.asDict() for r in res.stats.collect()}
    # same rows and counts, one token differs in the expectation
    flipped = bytearray(corpus.payloads[10])
    flipped[-2] ^= 0x01
    corpus.payloads[10] = bytes(flipped)
    failures = check_run(str(out), stats, inputs.expected(corpus))
    assert any("token arrays" in f for f in failures), failures


def _names_units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_every_end_to_end_metric_for_every_workload_and_seed():
    want = _names_units("end_to_end")
    seen = []
    for wl, seed in [(w["name"], 1) for w in SPEC["workloads"]] + [(SPEC["workloads"][0]["name"], 2)]:
        metrics = _metrics(_run(wl, seed, 0))
        assert {k: v["unit"] for k, v in metrics.items()} == want
        assert all(v["value"] > 0 for v in metrics.values())
        seen.append(set(metrics))
    assert all(s == seen[0] for s in seen)


def test_every_per_layer_metric_and_counts_reconcile():
    wl = SPEC["workloads"][-1]["name"]
    metrics = _metrics(_run(wl, 3, 1))
    assert {k: v["unit"] for k, v in metrics.items()} == _names_units("per_layer")
    v = {k: m["value"] for k, m in metrics.items()}
    rows = inputs.WORKLOADS[wl][0]
    assert v["parse.rows_valid"] + v["parse.rows_error"] == rows
    assert v["route.rows"] == rows - v["parse.rows_error"]
    assert v["enrich.lookup_miss"] == rows // inputs.UNKNOWN_SOURCE_EVERY


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark must exit non-zero, printing no result."""
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "emf_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
