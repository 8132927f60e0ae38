"""Per-layer measurement from outside the program.

Spark is lazy, so a span around ``parse_emf(...)`` would time only plan
building. Each span here wraps an *action*: a cumulative plan prefix
(scan, +detokenize, +parse, +enrich/window and the staged projection,
then the staged parquet write) forced into a
``noop`` sink, and a layer's time is the difference between consecutive
prefixes. The aggregation layers are timed from the read-back staged
checkpoint, each from materialized inputs, so upstream work is not
counted twice. The plans are composed from each module's public
functions in the same way ``pipeline.run`` composes them. A step whose
span is subtracted from another runs twice and counts its faster run
(see ``DIFFERENCED``); the other steps run plans that ``pipeline.run``
has already compiled in the same JVM.

Spans (name, start, end, parent, run id) stay in memory and are written
out when the run ends; a span's self time is its duration minus the part
covered by its children.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._open[-1] if self._open else None,
                "run_id": self.run_id,
            }
        )
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.time()

    def seconds(self, name: str) -> float:
        """Duration of span ``name``; the shortest if it ran more than once."""
        return min(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds(self, idx: int) -> float:
        """Duration minus the union of the children's intervals."""
        s = self.spans[idx]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == idx
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["end"] - s["start"]) - covered

    def write(self, path: Path) -> None:
        out = [
            {**s, "id": i, "self_s": self.self_seconds(i)}
            for i, s in enumerate(self.spans)
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(out, indent=1))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000


def scan_with_fanout(spark, input_path: str):
    """The pipeline's scan: read, then fan out to 2x the cores when the
    file yields fewer partitions (as ``pipeline.run`` does)."""
    tok = spark.read.parquet(input_path)
    target = spark.sparkContext.defaultParallelism * 2
    if tok.rdd.getNumPartitions() < target:
        tok = tok.repartition(target)
    return tok


PREFIX_STEPS = ("scan", "detokenize", "parse", "enrich_window", "staged_write")
# Steps whose span is subtracted from the next one's: each runs twice back
# to back and the faster run counts. That leaves out the first run's
# compilation of its new plan shape, and the noise of two spans, which
# adds up in their difference, is that of their faster runs.
DIFFERENCED = (*PREFIX_STEPS, "explode", "histogram")
REPEATS = 2


def _steps(spark, input_path: str, out_dir: Path, ctx: dict):
    """Yield (span name, action) for every traced layer in pipeline order.
    Between aggregation steps it materializes what the next step reads,
    and it leaves the DataFrames the counts need in ``ctx``."""
    from emf_spark import fixtures, pipeline
    from emf_spark.operators import aggregate as agg
    from emf_spark.operators import enrich as enrich_op
    from emf_spark.operators import output as output_op
    from emf_spark.operators import parse as parse_op
    from emf_spark.operators import route as route_op
    from emf_spark.tokenizer import with_payload

    lookup = fixtures.lookup_df(spark)
    staged_path = str(out_dir / "staged")
    tok = scan_with_fanout(spark, input_path)
    payload = with_payload(tok)
    parsed = parse_op.parse_emf(payload)
    windowed = agg.with_window(enrich_op.enrich(parsed, lookup), agg.WINDOW_MS)
    windowed = windowed.select(*pipeline.STAGED_COLS)
    yield "scan", lambda: noop(tok)
    yield "detokenize", lambda: noop(payload)
    yield "parse", lambda: noop(parsed)
    yield "enrich_window", lambda: noop(windowed)
    yield "staged_write", lambda: windowed.write.mode("overwrite").parquet(staged_path)

    cached = ctx.setdefault("cached", [])

    def materialized(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    staged = spark.read.parquet(staged_path)
    valid = staged.filter(F.col("valid"))
    obs = agg.explode_observations(valid)
    hist = agg.aggregate_histograms(obs)
    meta = agg.aggregate_metadata(valid)
    ctx.update(lookup=lookup, tok=tok, staged=staged, staged_path=staged_path, obs=obs)
    yield "explode", lambda: noop(obs)
    yield "histogram", lambda: noop(hist)
    yield "metadata", lambda: noop(meta)
    ctx["hist"], ctx["meta"] = materialized(hist), materialized(meta)
    groups = agg.assemble_groups(ctx["hist"], ctx["meta"])
    yield "assemble", lambda: noop(groups)
    events = output_op.events_json(materialized(groups))
    yield "events_json", lambda: noop(events)
    ctx["events"] = events = materialized(events)
    yield "write_events", lambda: output_op.write_events(events, str(out_dir))
    bad_ids = staged.filter(~F.col("valid")).select("doc_id")
    routed = enrich_op.enrich(tok.join(F.broadcast(bad_ids), "doc_id", "left_anti"), lookup)
    ctx["routed_path"] = str(out_dir / "routed")
    yield "write_routed", lambda: route_op.write_routed(routed, str(out_dir))


def layer_trace(spark, tracer: Tracer, input_path: str, work: Path, exp) -> tuple[dict, list[str]]:
    """Per-layer seconds and counts of one workload; returns (metrics, failures)."""
    from emf_spark.operators import aggregate as agg
    from emf_spark.operators import output as output_op

    ctx: dict = {}
    steps = _steps(spark, input_path, work / "trace", ctx)

    def timed(name, action):
        for _ in range(REPEATS if name in DIFFERENCED else 1):
            with tracer.span(name):
                action()

    with tracer.span("prefix"):
        for _ in PREFIX_STEPS:
            timed(*next(steps))
    with tracer.span("layers"):
        for name, action in steps:
            timed(name, action)
    sec = tracer.seconds
    m = {
        "pipeline.scan_s": sec("scan"),
        "tokenizer.detok_s": sec("detokenize") - sec("scan"),
        "parse.parse_s": sec("parse") - sec("detokenize"),
        "enrich.enrich_s": sec("enrich_window") - sec("parse"),
        "pipeline.staged_write_s": sec("staged_write") - sec("enrich_window"),
        "pipeline.staged_bytes": dir_bytes(ctx["staged_path"]),
        "aggregate.explode_s": sec("explode"),
        "aggregate.hist_s": sec("histogram") - sec("explode"),
        "aggregate.meta_s": sec("metadata"),
        "aggregate.assemble_s": sec("assemble"),
        "output.events_json_s": sec("events_json"),
        "output.write_events_s": sec("write_events"),
        "route.write_s": sec("write_routed"),
    }

    by_valid = {
        r["valid"]: (r["rows"], r["bytes"])
        for r in ctx["staged"]
        .groupBy("valid")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("bytes"))
        .collect()
    }
    m["parse.rows_valid"] = by_valid.get(True, (0, 0))[0]
    m["parse.rows_error"] = by_valid.get(False, (0, 0))[0]
    m["parse.valid_ratio"] = m["parse.rows_valid"] / exp.rows
    m["tokenizer.bytes_in"] = sum(b for _, b in by_valid.values())
    m["enrich.lookup_miss"] = (
        ctx["tok"].join(F.broadcast(ctx["lookup"].select("source")), "source", "left_anti").count()
    )

    obs = ctx["obs"]
    keys = agg.group_keys(obs)
    # phase-1 rows of the histogram reduce: distinct (group, metric, value)
    p1 = obs.groupBy(*keys, "metric_name", "v").count()
    m["aggregate.p1_rows"], m["aggregate.obs_rows"] = p1.agg(
        F.count(F.lit(1)), F.sum("count")
    ).first()
    m["aggregate.hist_rows"] = ctx["hist"].count()
    m["aggregate.groups"] = ctx["meta"].count()
    # rows per shuffle partition of the group-key exchange: max / mean
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part_rows = [
        r["count"]
        for r in obs.repartition(n_parts, *keys)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    ]
    m["aggregate.exchange_skew"] = max(part_rows) / (sum(part_rows) / n_parts)

    stats = output_op.compression_stats(ctx["events"]).collect()
    records_in = sum(r["records_in"] for r in stats)
    m["output.events_out"] = sum(r["events_out"] for r in stats)
    m["output.bytes_out"] = sum(r["bytes_out"] for r in stats)
    m["output.records_ratio"] = records_in / m["output.events_out"]
    m["output.bytes_ratio"] = sum(r["bytes_in"] for r in stats) / m["output.bytes_out"]
    routed_rows = sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(ctx["routed_path"])
        for f in files
        if f.endswith(".parquet")
    )
    m["route.rows"] = routed_rows
    m["route.bytes"] = dir_bytes(ctx["routed_path"])
    for df in ctx["cached"]:
        df.unpersist()

    failures = []
    if m["parse.rows_valid"] + m["parse.rows_error"] != exp.rows:
        failures.append("trace: parse.rows_valid + parse.rows_error != input rows")
    if m["parse.rows_error"] != exp.errors:
        failures.append(f"trace: parse.rows_error {m['parse.rows_error']} != {exp.errors}")
    if routed_rows != exp.rows - exp.errors:
        failures.append(f"trace: route.rows {routed_rows} != input - errors")
    if records_in != m["parse.rows_valid"]:
        failures.append(f"trace: records_in {records_in} != parse.rows_valid")
    if m["tokenizer.bytes_in"] != exp.bytes_in:
        failures.append("trace: tokenizer.bytes_in differs from the generated bytes")
    return m, failures


def spark_totals(log_dir: Path, app_id: str, t0: float, t1: float) -> dict:
    """Jobs and shuffle bytes written by the jobs submitted in [t0, t1],
    read from a finished Spark event log."""
    jobs, stages, shuffle = 0, set(), {}
    # a single file, or a rolling-log directory of numbered event files
    (path,) = [p for p in log_dir.iterdir() if app_id in p.name]
    files = sorted(path.glob("events_*")) if path.is_dir() else [path]
    for line in (ln for f in files for ln in f.read_text().splitlines()):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t0 * 1000 <= ev["Submission Time"] <= t1 * 1000:
                jobs += 1
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            shuffle[sid] = shuffle.get(sid, 0) + tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
    return {
        "pipeline.jobs": jobs,
        "pipeline.shuffle_write_bytes": sum(shuffle.get(s, 0) for s in stages),
    }
