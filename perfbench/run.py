"""The repository benchmark: one command runs a named workload with a seed,
checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload produce_lookup --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  Spark runs on ``local[<cores>]`` in
this one process, driven by a closed loop with one client.  Everything the
run writes — inputs, outputs, Spark's local dirs and temp files, the trace —
goes under ``.perfbench/`` in the checkout; the per-run directory is removed
at the end, the trace file is kept.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
``end_to_end`` list of BENCHMARK.json, measured with tracing off; with
``--trace 1`` they are the ``per_layer`` list, from a run that labels every
call with a Spark job group and reads Spark's status stores after it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(work: str, cores: int) -> None:
    """Keep every file Spark, its Python workers and the package write
    inside ``work``, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        # one shuffle partition per core: at this input size a task's fixed
        # cost is most of its time (the package default of 32 is sized for
        # a cluster)
        SPARK_SHUFFLE_PARTITIONS=str(cores),
        SPARK_DRIVER_MEMORY="3g",
        # no hsperfdata files under /tmp from the launcher or the driver JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # The JIT compiles hot code after a tenth of the usual invocations,
        # so the short warm-up reaches compiled code: with the default
        # thresholds a run's timed phase still sat on the warm-up curve
        # and its times varied by a quarter from run to run.
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options",
            f"'-XX:-UsePerfData -XX:CompileThresholdScaling=0.1 -Djava.io.tmpdir={tmp}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    )
    import tempfile

    tempfile.tempdir = tmp


def summarize(res, spec: dict, trace: bool, extra: dict) -> dict:
    """The metric dict the result line carries, in BENCHMARK.json order."""
    from workloads import p50

    # no tail percentile: a run has 16 queries or 32-66 lookups, too few
    # samples beyond a p95 for it to repeat from run to run
    e2e = {
        "setup_s": p50(res.setup_s),
        "batch_s": p50(res.batch_s),
        "op_p50_ms": p50(res.op_s) * 1e3,
    }
    if trace:
        wanted = spec["per_layer"]
        values = {**res.layers, **extra, "trace.batch_s": e2e["batch_s"],
                  "trace.op_p50_ms": e2e["op_p50_ms"]}
    else:
        wanted, values = spec["end_to_end"], e2e
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer a workload does not exercise did no work there: 0
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    # fail fast, before Spark starts, when the package is not here
    import opentimes_spark  # noqa: F401
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work, cores)

    from opentimes_spark.session import get_spark
    from trace import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, work, args.seed, args.seconds)
        res = WORKLOADS[args.workload](ctx)
        extra = {}
        if args.trace:
            extra = {
                "session.jvm_peak_rss_mb": tracer.jvm_peak_rss_mb(),
                "session.start_s": session_s,
                "trace.self_ms_per_op": tracer.self_s * 1e3 / max(res.attempted, 1),
            }
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "master": spark.sparkContext.master,
            "spark": spark.version, "python": platform.python_version(),
            "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
            "flush": "local disk, Spark defaults (no fsync)",
            "loop": "closed, 1 client",
        }
        metrics = summarize(res, spec, bool(args.trace), extra)
    finally:
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, f"trace-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"env": env, "detail": res.detail, "layers": res.layers,
                   "result": result, "spans": tracer.spans}, f, indent=1, default=str)
    print("env " + json.dumps(env))
    print("detail " + json.dumps(res.detail, default=str))
    # the per-layer numbers this run measured; without tracing, the
    # timings only
    print("layers " + json.dumps(res.layers))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
