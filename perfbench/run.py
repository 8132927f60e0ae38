"""Repository benchmark: seeded EMF workloads through ``pipeline.run``.

    python3 perfbench/run.py --workload emf_mix --seed 1 --seconds 30 --trace 0

Run from the repository root. The inputs are generated from the seed
before any timing and the program receives only the generated parquet.
``--trace 0`` measures the end-to-end metrics: set-up time and one cold
``pipeline.run`` in the fresh session, whose outputs are checked. It
takes about 25-35 s on a 4-vCPU VM whatever ``--seconds`` says: the unit
measured is a fresh JVM. ``--trace 1`` measures the per-layer metrics
instead (see trace.py and stream.py), in its own process with the Spark
event log on. The last line of standard output is the result object; the
line before it stamps the environment. Spans and the full result are
also written under perfbench/.results/.
"""

import time

T_START = time.time()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_program() -> bool:
    """The program must come from this checkout, not from anywhere else."""
    sys.path.insert(0, str(ROOT))
    try:
        import emf_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import emf_spark from {ROOT}: {e}", file=sys.stderr)
        return False
    import emf_spark

    if not Path(emf_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: emf_spark resolved outside {ROOT}", file=sys.stderr)
        return False
    return True


class Runs:
    """Attempted/failed bookkeeping for every checked unit of work."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, failures: list[str]) -> bool:
        self.attempted += 1
        if failures:
            self.failed += 1
            for f in failures:
                print(f"perfbench: check failed: {f}", file=sys.stderr)
        return not failures



def end_to_end(work, exp, input_path, gen_s, runs: Runs, samples: dict) -> dict:
    from perfbench import harness

    spark = harness.new_session(work, harness.nproc())
    harness.register_input(spark, input_path)
    setup = time.time() - T_START - gen_s

    # The first run in a fresh JVM, which also compiles the generated code
    # of every plan: what one spark-submit of the job pays.
    with harness.RssSampler() as rss:
        r = harness.timed_run(spark, input_path, work / "out" / "cold", exp)
    runs.record(r.failures)  # a wrong output still reports its time
    harness.shutdown()
    samples.update(setup_s=setup, cold_s=r.seconds)
    return {
        "cold_seq_per_s": exp.rows / r.seconds,
        "setup_s": setup,
        # a high percentile, not the maximum: a single 0.2 s sample may
        # catch a transient burst that does not repeat from run to run
        "rss_p90_mb": statistics.quantiles(rss.samples, n=10)[-1] / 2**20,
    }


def per_layer(work, corpus, exp, input_path, runs: Runs, tracer) -> dict:
    from perfbench import harness, trace
    from perfbench.stream import stream_segment

    cpus = harness.nproc()
    # the whole traced process runs with the Spark event log on
    spark = harness.new_session(work, cpus, event_log=True)
    app_id = spark.sparkContext.applicationId

    def checked(name):
        r = harness.timed_run(spark, input_path, work / "out" / name, exp)
        if not runs.record(r.failures):
            raise RuntimeError(f"{name}: output check failed")
        return r.seconds

    with tracer.span("cold_run"):
        cold = checked("cold")
    m = {"pipeline.cold_seq_per_s": exp.rows / cold}
    gc0 = trace.jvm_gc_seconds(spark)
    with tracer.span("pipeline_run"):
        traced = checked("traced")
    m["pipeline.gc_s"] = trace.jvm_gc_seconds(spark) - gc0
    m["pipeline.seq_per_s_traced"] = exp.rows / traced
    run_span = tracer.spans[-1]

    with tracer.span("layer_trace"):
        layers, failures = trace.layer_trace(spark, tracer, input_path, work, exp)
    runs.record(failures)
    m.update(layers)
    with tracer.span("stream"):
        streamed, failures = stream_segment(spark, corpus, work)
    runs.record(failures)
    m.update(streamed)
    spark.stop()  # finishes the event log
    m.update(trace.spark_totals(work / "eventlog", app_id, run_span["start"], run_span["end"]))

    # single-core baseline, in the same (already JIT-warm) JVM
    with tracer.span("local1"):
        spark = harness.new_session(work, 1, event_log=True)
        one_core = checked("local1")
    m["pipeline.scaling_eff_1_to_n"] = one_core / (traced * cpus)
    return m


def with_units(values: dict, trace: bool) -> dict:
    """Attach each metric's unit from BENCHMARK.json, which must name
    exactly the metrics this mode measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if units.keys() != values.keys():
        raise RuntimeError(
            f"measured metrics differ from BENCHMARK.json: "
            f"missing {sorted(units.keys() - values.keys())}, "
            f"extra {sorted(values.keys() - units.keys())}"
        )
    return {name: {"value": values[name], "unit": units[name]} for name in sorted(values)}


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not _import_program():
        return 2
    from perfbench import harness, inputs
    from perfbench.trace import Tracer

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / "perfbench" / ".work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Spark, the JVMs (the launcher's too) and the Python workers keep
    # their scratch files here, and no JVM writes a perf-data file to the
    # system temp dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work / 'tmp'}"]
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, java_opts + ["-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    (work / "tmp").mkdir()
    env = harness.environment(ROOT)
    runs, tracer, samples = Runs(), Tracer(run_id), {}
    try:
        t0 = time.time()
        corpus = inputs.generate(args.workload, args.seed)
        exp = inputs.expected(corpus)
        input_path = inputs.write_parquet(corpus, str(work / "input" / "input.parquet"))
        gen_s = time.time() - t0
        if args.trace:
            values = per_layer(work, corpus, exp, input_path, runs, tracer)
        else:
            values = end_to_end(work, exp, input_path, gen_s, runs, samples)
        metrics = with_units(values, bool(args.trace))
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": metrics,
    }
    results = ROOT / "perfbench" / ".results"
    results.mkdir(exist_ok=True)
    (results / f"{run_id}.json").write_text(
        json.dumps({"env": env, "args": vars(args), "samples": samples, **result}, indent=1)
    )
    if args.trace:
        tracer.write(results / f"{run_id}.spans.json")
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
