"""Seeded benchmark inputs and the values a correct run must produce.

Records come from ``emf_spark.fixtures.gen_records`` (the reference event
mix with its adversarial slices). One non-adversarial record in
``NON_ASCII_EVERY`` has its ``Region`` dimension replaced by a non-ASCII
UTF-8 value and every record is re-serialized with ``ensure_ascii=False``,
so the token arrays carry real multi-byte UTF-8 the way production EMF
does; a pure-ASCII corpus would flatter any detokenize fast path that
special-cases ASCII. Invalid UTF-8 inside a row is left to the
correctness tests: it is a defect probe, not a workload property.
One record in ``UNKNOWN_SOURCE_EVERY`` comes from ``UNKNOWN_SOURCE``, a
source the lookup table does not list, so enrich's default-sink path
carries rows too.

The expected values are derived here from the generated JSON alone, never
from the program under test.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from emf_spark import fixtures

NON_ASCII_EVERY = 8
NON_ASCII_REGIONS = ["eu-zürich-1", "ap-東京-1", "sa-são-paulo-1", "eu-κρήτη-1", "ap-서울-1"]
UNKNOWN_SOURCE_EVERY = 20
UNKNOWN_SOURCE = "app-unregistered"

# (rows, records per 60 s window or None for the fixture's 3 windows)
WORKLOADS = {
    # Detokenize, parse and the histogram reduce carry the per-row work;
    # the output is a few hundred events.
    "emf_mix": (6_000, None),
    # Same generator, ~50 records per window: metadata reduce, event
    # assembly and event writes carry the work (about one event per two
    # records), while parse and histogram match emf_mix.
    "emf_high_card": (6_000, 50),
}

# enrich's sink for a source missing from the lookup table
DEFAULT_SINK = "archive"
SINK_OF = {row[0]: row[1] for row in fixtures.SOURCE_LOOKUP_ROWS}


@dataclass
class Corpus:
    doc_ids: list[str]
    payloads: list[bytes]
    sources: list[str]
    valid: list[bool]

    def __len__(self) -> int:
        return len(self.doc_ids)

    def table(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        """Tokenized rows [lo, hi) in the engine's input schema
        (doc_id, tokens, n_tok, source); token id = UTF-8 byte value."""
        hi = len(self) if hi is None else hi
        payloads = self.payloads[lo:hi]
        lens = np.fromiter((len(p) for p in payloads), dtype=np.int32, count=len(payloads))
        offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64))).astype(np.int32)
        values = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int32)
        return pa.table(
            {
                "doc_id": pa.array(self.doc_ids[lo:hi], pa.string()),
                "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
                "n_tok": pa.array(lens),
                "source": pa.array(self.sources[lo:hi], pa.string()),
            }
        )


@dataclass
class Expected:
    """What every correct pipeline run over a corpus must report."""

    rows: int
    errors: int
    bytes_in: int
    rows_by_sink: dict[str, int] = field(default_factory=dict)
    token_hash_by_sink: dict[str, int] = field(default_factory=dict)


def _valid(rec) -> bool:
    """The EMF record contract: an object with ``_aws.Timestamp`` and
    ``_aws.CloudWatchMetrics`` (anything else is a malformed record)."""
    if not isinstance(rec, dict):
        return False
    aws = rec.get("_aws")
    return (
        isinstance(aws, dict)
        and aws.get("Timestamp") is not None
        and aws.get("CloudWatchMetrics") is not None
    )


def generate(workload: str, seed: int) -> Corpus:
    rows, per_window = WORKLOADS[workload]
    n_windows = 3 if per_window is None else max(3, rows // per_window)
    corpus = Corpus([], [], [], [])
    for i, (doc_id, js, source, _ts) in enumerate(
        fixtures.gen_records(rows, seed=seed, n_windows=n_windows)
    ):
        rec = json.loads(js)
        if i % 100 > 8 and i % NON_ASCII_EVERY == 5 and "Region" in rec:
            rec["Region"] = NON_ASCII_REGIONS[(i // NON_ASCII_EVERY) % len(NON_ASCII_REGIONS)]
        corpus.doc_ids.append(doc_id)
        corpus.payloads.append(
            json.dumps(rec, separators=(",", ":"), ensure_ascii=False).encode("utf-8")
        )
        corpus.sources.append(UNKNOWN_SOURCE if i % UNKNOWN_SOURCE_EVERY == 7 else source)
        corpus.valid.append(_valid(rec))
    return corpus


def row_digest(doc_id: str, tokens_le32: bytes) -> int:
    """64-bit digest of one routed row's identity and exact token array."""
    h = hashlib.blake2b(doc_id.encode("utf-8") + b"\0" + tokens_le32, digest_size=8)
    return int.from_bytes(h.digest(), "little")


def expected(corpus: Corpus) -> Expected:
    exp = Expected(
        rows=len(corpus),
        errors=corpus.valid.count(False),
        bytes_in=sum(len(p) for p in corpus.payloads),
    )
    for doc_id, payload, source, ok in zip(
        corpus.doc_ids, corpus.payloads, corpus.sources, corpus.valid
    ):
        if not ok:
            continue
        sink = SINK_OF.get(source, DEFAULT_SINK)
        tokens = np.frombuffer(payload, dtype=np.uint8).astype("<i4").tobytes()
        exp.rows_by_sink[sink] = exp.rows_by_sink.get(sink, 0) + 1
        exp.token_hash_by_sink[sink] = (
            exp.token_hash_by_sink.get(sink, 0) + row_digest(doc_id, tokens)
        ) % (1 << 64)
    return exp


def write_parquet(corpus: Corpus, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(corpus.table(), path)
    return path
