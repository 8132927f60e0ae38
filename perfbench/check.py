"""Output checks run after every timed pipeline run, outside the timed region.

Each check compares what the program wrote with the values
``inputs.expected`` derived from the generated records. The program's
own outputs are read with pyarrow, not through Spark, so a Spark-side
fault cannot hide itself.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench.inputs import Expected, row_digest


def _rows(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns) if os.path.isdir(path) else None


def routed_by_sink(routed_dir: str) -> dict[str, tuple[int, int]]:
    """sink -> (rows, order-independent sum of row digests) of the routed
    fan-out, read back from its ``sink=<name>`` partitions."""
    out = {}
    for part in sorted(os.listdir(routed_dir)):
        if not part.startswith("sink="):
            continue
        t = pq.read_table(os.path.join(routed_dir, part), columns=["doc_id", "tokens"])
        tokens = t.column("tokens").combine_chunks()
        offsets = tokens.offsets.to_numpy()
        values = tokens.values.to_numpy(zero_copy_only=False).astype("<i4")
        acc = 0
        for i, doc_id in enumerate(t.column("doc_id").to_pylist()):
            acc += row_digest(doc_id, values[offsets[i] : offsets[i + 1]].tobytes())
        out[part[len("sink=") :]] = (t.num_rows, acc % (1 << 64))
    return out


def check_run(out_dir: str, stats: dict[str, dict], exp: Expected) -> list[str]:
    """Failures of one ``pipeline.run`` output directory (empty = correct).

    ``stats`` is the run's per-sink compression stats, sink -> row dict.
    """
    failures = []
    records_in = {s: r["records_in"] for s, r in stats.items()}
    if records_in != exp.rows_by_sink:
        failures.append(f"records_in per sink {records_in} != expected {exp.rows_by_sink}")
    for sink, r in stats.items():
        if not r["events_out"]:
            failures.append(f"sink {sink}: events_out = {r['events_out']}")

    staged = _rows(os.path.join(out_dir, "staged"), ["valid"])
    errors = _rows(os.path.join(out_dir, "errors"), ["doc_id"])
    if staged is None or errors is None:
        return failures + ["staged or errors output missing"]
    n_valid = int(np.count_nonzero(staged.column("valid").to_numpy(zero_copy_only=False)))
    if n_valid + errors.num_rows != exp.rows or errors.num_rows != exp.errors:
        failures.append(
            f"valid {n_valid} + errors {errors.num_rows} != input {exp.rows} "
            f"(expected {exp.errors} errors)"
        )

    routed_dir = os.path.join(out_dir, "routed")
    if not os.path.isdir(routed_dir):
        return failures + ["routed output missing"]
    routed = routed_by_sink(routed_dir)
    rows = {s: n for s, (n, _) in routed.items()}
    if rows != exp.rows_by_sink:
        failures.append(f"routed rows per sink {rows} != expected {exp.rows_by_sink}")
    for sink, (_, digest) in routed.items():
        if digest != exp.token_hash_by_sink.get(sink):
            failures.append(f"sink {sink}: routed token arrays differ from the input")
    return failures
