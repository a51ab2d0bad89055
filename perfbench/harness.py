"""Shared set-up and measurement helpers: the Spark session, the engine with
the standard cubes, statistics, memory, Spark job counts and host CPU shares."""

from __future__ import annotations

import dataclasses
import os
import resource
import statistics
import time

#: the package's standard models and cubes (datasets.py), each cube with
#: its lattice pruned by the planner's ``cuboid_ids`` to the base and apex
#: cuboids (always kept) plus the ids listed here; bit i of an id is the
#: cube's i-th dimension. The full lattices (49 + 16 layouts) take minutes
#: to build on a 4-core host, longer than a benchmark run may take.
CUBE_LAYOUTS = {
    # (l_returnflag, l_linestatus): the exact-hit cuboid
    "tpch_cube": (0b11,),
    "tpch_cube_seg": (),
    "events_cube": (),
}


def start_session(work: str):
    """``session.get_spark()`` with its scratch paths moved under ``work``:
    the JVM's temp dir, Spark's local dirs, the SQL warehouse and Derby's
    home. Returns (session, seconds taken)."""
    from pyspark.sql import SparkSession

    from kylin_on_parquet_v2_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    moved = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={tmp} "
            # no hsperfdata file under /tmp, no stage progress bars
            "-XX:-UsePerfData -Dspark.ui.showConsoleProgress=false"
        ),
    }
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    config = SparkSession.Builder.config

    def _config(self, key=None, value=None, *args, **kwargs):
        return config(self, key, moved.get(key, value), *args, **kwargs)

    t0 = time.perf_counter()
    SparkSession.Builder.config = _config
    try:
        spark = get_spark("perfbench")
    finally:
        SparkSession.Builder.config = config
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def make_engine(spark, src: str, storage: str, cubes=None):
    """An ``OlapEngine`` over the sources under ``src`` holding ``cubes``
    (default: all three standard cubes). The cubes build concurrently, one
    thread each, as ``corpus.base.engine`` builds them. Returns (engine,
    {cube: build seconds}); concurrent builds overlap, so the seconds are
    per-cube wall-clock spans, not shares of a total."""
    from concurrent.futures import ThreadPoolExecutor

    from kylin_on_parquet_v2_spark import datasets as D
    from kylin_on_parquet_v2_spark.query.engine import OlapEngine

    eng = OlapEngine(spark, storage_dir=storage)
    eng.register_sources(src)
    for m in (D.TPCH_MODEL, D.TPCH_MODEL_SEG, D.EVENTS_MODEL):
        eng.add_model(m)
    descs = {d.name: d for d in (D.TPCH_CUBE, D.TPCH_CUBE_SEG, D.EVENTS_CUBE)}

    def build(name):
        t0 = time.perf_counter()
        eng.build_cube(dataclasses.replace(descs[name], cuboid_ids=CUBE_LAYOUTS[name]))
        return name, time.perf_counter() - t0

    names = cubes or tuple(CUBE_LAYOUTS)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        took = dict(pool.map(build, names))
    return eng, took


# -- statistics -----------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). NaN when there are fewer than 11
    samples."""
    n = len(xs)
    if n < 11:
        return float("nan"), float("nan"), n
    ordered = sorted(xs)
    rank = n - 11  # ten samples sit above ordered[rank]
    return ordered[rank], 100.0 * (rank + 1) / n, n


# -- host -------------------------------------------------------------------


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def _proc_cpu(pid) -> int:
    """utime + stime jiffies of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def host_sample(spark) -> tuple[int, int, int, int]:
    """(steal, busy, total, ours) jiffies: the host's from the aggregate
    line of /proc/stat; ours is this process plus the driver JVM."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    total = sum(v)  # guest time is already inside user/nice
    return v[7], total - v[3] - v[4], total, _proc_cpu("self") + _proc_cpu(_jvm_pid(spark))


def note_host(run, before, after) -> None:
    """The host's steal share and the CPU share other processes used over
    the timed region (a busy neighbour slows a run as much as steal)."""
    d = [b - a for a, b in zip(before, after)]
    steal, busy, total, ours = d
    run.note("steal share", round(steal / total, 4) if total else 0.0)
    run.note("CPU share of other processes", round((busy - ours) / total, 4) if total else 0.0)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{_jvm_pid(spark)}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, AttributeError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def job_totals(sc, ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the Spark jobs ``ids`` the status tracker
    still holds; skipped stages are not counted."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for j in ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return jobs, stages, tasks


def jobs_between(sc, marks: list[int]) -> list[tuple[int, int, int]]:
    """Job totals of each interval between consecutive job-id marks (the
    newest job id before each operation of a single-client pass); the last
    interval runs to the newest job."""
    ids = sorted(j for j in sc.statusTracker().getJobIdsForGroup(None) if j > marks[0])
    bounds = list(marks[1:]) + [max(ids, default=marks[-1])]
    return [
        job_totals(sc, [j for j in ids if lo < j <= hi])
        for lo, hi in zip(marks, bounds)
    ]


def last_job_id(sc) -> int:
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


class Run:
    """One benchmark run: its arguments, and what it measured."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer, sf: float,
                 work: str):
        self.workload, self.seed, self.seconds, self.sf = workload, seed, seconds, sf
        self.tracer = tracer
        self.trace = tracer is not None
        self.work = work
        self.src = os.path.join(work, "src")
        self.session_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        #: (operation, reason) for every failed or wrong operation
        self.failures: list[tuple[object, str]] = []
        self._failed: set[int] = set()
        #: each workload's named metrics for the report: name -> (value, unit, note)
        self.report: dict[str, tuple[float, str, str]] = {}
        #: the result line's end-to-end metrics (the names BENCHMARK.json lists)
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: dict[str, object] = {}
        #: the traced pass's self-time table (layers.accounting)
        self.accounting: dict = {}

    def fail(self, op, reason: str) -> None:
        self.failures.append((op, reason))
        self._failed.add(id(op))

    def failed(self, op) -> bool:
        return id(op) in self._failed

    def named(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report[name] = (value, unit, note)

    def named_tail(self, name: str, xs) -> None:
        value, pct, n = tail(xs)
        note = f"p{pct:.1f} of {n} samples" if n >= 11 else f"undefined: {n} samples"
        self.named(name, value, "s", note)

    def note(self, name: str, value) -> None:
        self.notes[name] = value

    def end_to_end(self, op_latencies, ops_per_s: float) -> None:
        """The result line's metrics: mean latency of the workload's headline
        operations, and operations answered correctly per second."""
        mean = sum(op_latencies) / len(op_latencies) if op_latencies else float("nan")
        self.metrics["op_mean_s"] = (mean, "s")
        self.metrics["ops_per_s"] = (ops_per_s, "1/s")
