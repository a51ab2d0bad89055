"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload server_mixed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts the engine on
``local[nproc]``, measures for ``--seconds``, checks every answer against
DuckDB, prints a report (one ``name value unit`` line per metric) and, as its
last line, one JSON object with the metrics BENCHMARK.json lists: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run that has not finished by then stops without a result
DEADLINE_S = 170
#: TPC-H scale factor of the generated tables: the engine's set-up (session
#: start and cube builds) must leave room for the timed passes in one run
SF = 0.001


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("server_mixed", "refresh", "pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _number(v):
    return None if isinstance(v, float) and math.isnan(v) else v


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kylin_on_parquet_v2_spark")):
        print(f"no kylin_on_parquet_v2_spark package under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # a 2 GB driver heap, not the package's 8 GB default: the sf0.001 working
    # set fits, and the JVM's peak resident memory stays near 1.8 GB instead
    # of growing past 4 GB on a host whose memory other work shares
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]

    import pyspark

    import harness
    import layers
    import workloads
    from spans import Tracer

    run = harness.Run(args.workload, args.seed, args.seconds,
                      Tracer() if args.trace else None, SF, work)
    spark = None
    try:
        spark, run.session_s = harness.start_session(work)
        workloads.WORKLOADS[args.workload](run, spark)
        peak = harness.peak_rss_mb(spark)
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    run.named("setup_s", run.setup_s, "s", "session start and every cube build")
    run.named("peak_rss_mb", peak, "MB", "driver Python plus its JVM")
    failed = len({id(op) for op, _ in run.failures})
    run.named("failed_frac", failed / max(run.attempted, 1), "ratio",
              f"{failed} of {run.attempted} operations")
    run.metrics["setup_s"] = (run.setup_s, "s")
    run.note("nproc", nproc)
    run.note("SPARK_GRAFT_CPUS", os.environ["SPARK_GRAFT_CPUS"])
    run.note("pyspark", pyspark.__version__)
    run.note("scale factor", SF)
    if run.tracer:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
        run.tracer.dump(path)
        run.note("spans written to", os.path.relpath(path, ROOT))
    _print(run, layers.METRICS)
    metrics = (
        {k: {"value": _number(run.layers.get(k, 0.0)), "unit": u}
         for k, u in layers.METRICS.items()}
        if args.trace
        else {k: {"value": _number(v), "unit": u} for k, (v, u) in run.metrics.items()}
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _print(run, layer_units) -> None:
    print(f"workload {run.workload} seed {run.seed} seconds {run.seconds:g} "
          f"trace {int(run.trace)}")
    for name, (value, unit, note) in run.report.items():
        print(f"metric {name} {value:.6g} {unit}" + (f"  # {note}" if note else ""))
    for name, value in run.notes.items():
        print(f"valid {name}: {value}")
    for op, reason in run.failures:
        sql = op.query.sql if op.query is not None else ""
        print(f"FAILED {op.kind} {op.request}: {reason} :: {sql}")
    if run.trace:
        for name, unit in layer_units.items():
            print(f"layer {name} {run.layers.get(name, 0.0):.6g} {unit}")
        acc = run.accounting
        if acc:
            print(f"account {acc['operations']} operations, wall {acc['wall_s']:.4f} s "
                  f"= layer self times + remainder {acc['sum_s']:.4f} s")
            for name, secs in acc["layers_s"].items():
                print(f"account {name} {secs:.4f} s {secs / acc['wall_s']:.1%}")


if __name__ == "__main__":
    sys.exit(main())
