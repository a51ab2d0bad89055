"""The benchmark's workloads: ``server_mixed``, ``refresh`` and ``pipeline``.

Each workload builds its inputs from the run's seed, sets the engine up
(timed as ``setup_s``), runs a warm-up outside the timed region and then one
measured pass of ``--seconds``. A traced run adds a second, traced pass of
the same length after the untraced one: the per-layer metrics come from the
traced pass, the end-to-end metrics from the untraced pass, and the
difference between the two is the tracing overhead. Every answer is checked
against DuckDB after the timed passes.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass

import harness
import layers
import oracle
import templates
from gen import SourceData, month_start

#: the client's concurrent connections (this host has 4 cores)
CONNECTIONS = 4
#: open-loop offered load of server_mixed, as a share of the closed-loop
#: throughput the same pass has just measured: the server runs at a fixed
#: utilisation whatever the host's speed, and is not saturated
OFFERED_SHARE = 0.6
#: whole rounds per second of --seconds in each half of a server_mixed
#: pass: a pass is a fixed amount of work that takes about --seconds on a
#: 4-core host. A pass limited by time ended after two or three
#: closed-loop rounds, depending on the host's speed, and the runs with a
#: third round, later in the JVM's warm-up, split ops_per_s into two
#: clusters (README)
CLOSED_ROUNDS_PER_S = 0.25
OPEN_ROUNDS_PER_S = 0.125
#: latency limit of a routed request, timed from its due time
ROUTED_LIMIT_S = 1.0

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)


@dataclass
class Op:
    """One timed operation and its answer."""

    kind: str
    request: str
    query: templates.Query | None = None
    repeat: bool = False
    due: float = 0.0
    sent: float = 0.0
    end: float = 0.0
    columns: list | None = None
    rows: list | None = None
    #: cube that served it (None: pushdown, or not a query)
    cube: str | None = None
    error: str | None = None
    #: lineitem month -> version the engine read (refresh workload)
    sources: tuple = ()
    traced: bool = False
    #: newest Spark job id before the operation (traced passes)
    job_mark: int = -1

    @property
    def latency(self) -> float:
        return self.end - self.due


def _passes(run):
    return (False, True) if run.trace else (False,)


def _timed_setup(run, spark, cubes=None):
    """Engine over the run's sources with ``cubes`` built; records setup_s
    and, traced, the build layers' metrics."""
    sc = spark.sparkContext
    if run.tracer:
        layers.install(run.tracer, spark)
    t0 = time.perf_counter()
    eng, took = harness.make_engine(
        spark, run.src, os.path.join(run.work, "cubes"), cubes
    )
    run.setup_s = run.session_s + time.perf_counter() - t0
    if run.tracer:
        layers.setup_metrics(
            run, eng, harness.job_totals(sc, sc.statusTracker().getJobIdsForGroup(None))
        )
        run.tracer.unpatch()
    run.note("build seconds", {k: round(v, 3) for k, v in took.items()})
    return eng


def _check_all(run, con, ops) -> None:
    """Compare every answered operation with DuckDB; one oracle run per
    distinct (text, sources)."""
    cache: dict = {}
    for op in ops:
        run.attempted += 1
        if op.error is not None:
            run.fail(op, op.error)
            continue
        if op.query is None:
            continue
        key = (op.query.oracle, op.sources)
        if key not in cache:
            if op.sources:
                _point_lineitem(con, run.src, op.sources)
            cache[key] = con.execute(op.query.oracle).fetchall()
        err = oracle.diff(op.columns, op.rows, cache[key], op.query.within)
        if err is not None:
            run.fail(op, err)


def _run_op(run, sc, op, fn) -> None:
    """Time ``fn()`` as the single-client operation ``op``; in a traced pass
    also as an ``op`` span, with the newest Spark job id noted first. An
    exception, a broken in-query contract included, is the op's error."""
    tr = run.tracer if op.traced else None
    span = None
    if tr is not None:
        tr.request = op.request
        op.job_mark = harness.last_job_id(sc)
        span = tr.begin("op")
    op.due = time.perf_counter()
    try:
        fn()
    except Exception as exc:  # a failed operation is a counted miss
        op.error = f"{type(exc).__name__}: {exc}"
    op.end = time.perf_counter()
    if span is not None:
        tr.end(span)
        tr.request = None


def _rate(run, ops) -> float:
    """Operations answered correctly per second, first due to last done."""
    span = max(o.end for o in ops) - min(o.due for o in ops)
    return sum(1 for o in ops if not run.failed(o)) / span


# -- server_mixed ------------------------------------------------------------


def _post(port: int, body: dict) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/api/query", json.dumps(body),
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        payload = json.loads(resp.read())
    finally:
        conn.close()
    if resp.status != 200:
        raise RuntimeError(f"HTTP {resp.status}: {payload.get('error', payload)}")
    return payload


#: a round of server_mixed traffic: each of the nine routed and three
#: pushdown templates once, so every template is equally frequent. Each
#: line is a dashboard view: three cube-backed panels and one ad-hoc
#: drill-down, the slower route kinds spread over the views. The seed picks
#: the texts, so every seed sends the same views of kinds
ROUND_ORDER = (
    "exact", "bitmap", "derived", "pd_join",
    "reagg", "percentile", "segment", "pd_window",
    "snowflake", "intersect", "topn", "pd_distinct",
)
ROUND = len(ROUND_ORDER)
#: panels per view: in the open loop a view's queries arrive together, one
#: per connection, so they contend for the routing lock and the task slots
#: while the server idles between views and no queue builds up (README)
VIEW = CONNECTIONS


def _mix(routed, adhoc):
    """Endless (kind, query, repeat) in whole rounds."""
    while True:
        batch = [("routed", *routed.next()) for _ in routed.kinds]
        batch += [("pushdown", *adhoc.next()) for _ in adhoc.kinds]
        batch.sort(key=lambda b: ROUND_ORDER.index(b[1].kind))
        yield from batch


def _closed(mix, traced, rounds):
    """Closed-loop requests: each connection sends its next request as soon
    as its last one is answered, for ``rounds`` whole rounds. Returns (the
    ops, as they are sent; the op source)."""
    ops: list[Op] = []

    def next_op():
        if len(ops) == rounds * ROUND:
            return None
        kind, q, rep = next(mix)
        ops.append(Op(kind, f"{int(traced)}-c{len(ops)}", q, rep, time.perf_counter(),
                      traced=traced))
        return ops[-1]

    return ops, next_op


def _open(mix, rng, traced, rounds, rate):
    """Open-loop requests: ``rounds`` whole rounds at ``rate`` per second, in
    views of VIEW requests due together, the views evenly spaced from now
    with a seeded phase. Returns (the ops; the op source)."""
    n = ROUND * rounds
    start, phase = time.perf_counter() + 0.05, rng.random()
    ops = [
        Op(kind, f"{int(traced)}-o{i}", q, rep,
           start + (i // VIEW + phase) * VIEW / rate, traced=traced)
        for i, (kind, q, rep) in zip(range(n), mix)
    ]
    pending = iter(ops)
    return ops, lambda: next(pending, None)


def _throughput(ops) -> float:
    """Requests per second of a closed-loop half while all connections were
    busy: after the first CONNECTIONS sends, each send follows an answer, so
    n - CONNECTIONS answers came between the first send and the last. The
    drain after the last send, when fewer connections are busy, is left out."""
    sent = sorted(o.sent for o in ops)
    return (len(sent) - CONNECTIONS) / (sent[-1] - sent[0])


def _drive(run, port, next_op) -> None:
    """Send requests over CONNECTIONS client threads until ``next_op()``
    returns None. A request goes out at its due time or, once that has
    passed, as soon as a connection is free."""
    tr = run.tracer
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                op = next_op()
            if op is None:
                return
            delay = op.due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            op.sent = time.perf_counter()
            span = None
            if tr is not None and op.traced:
                tr.request = op.request
                span = tr.begin("op")
            try:
                out = _post(port, {"sql": op.query.sql, "query_id": op.request})
                op.columns, op.rows = out["columns"], out["rows"]
                op.cube = (out.get("route") or {}).get("cube")
            except Exception as exc:  # a failed request is a counted miss
                op.error = f"{type(exc).__name__}: {exc}"
            finally:
                op.end = time.perf_counter()
                if span is not None:
                    tr.end(span)
                    tr.request = None

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def server_mixed(run, spark) -> None:
    from kylin_on_parquet_v2_spark.server import make_server

    data = SourceData(run.src, run.seed, run.sf, months=24)
    data.write_all()
    eng = _timed_setup(run, spark)
    srv = make_server(eng)
    server = threading.Thread(target=srv.serve_forever, daemon=True)
    server.start()
    port = srv.server_address[1]
    closed: list[Op] = []
    opened: list[Op] = []
    try:
        rng = random.Random(run.seed)
        ctx = templates.Context(data.months, data.lineitem_rows // 12)
        routed = templates.QueryStream(templates.ROUTED, ctx, random.Random(rng.random()))
        adhoc = templates.QueryStream(
            templates.PUSHDOWN, ctx, random.Random(rng.random()), repeats=False
        )
        mix = _mix(routed, adhoc)
        warm = [Op("warmup", "", q) for q in routed.warmup + adhoc.warmup]
        pending = iter(warm)
        _drive(run, port, lambda: next(pending, None))  # all due at once
        for op in warm:
            if op.error is not None:
                raise RuntimeError(f"warm-up failed: {op.error} :: {op.query.sql}")
        # each pass: a closed-loop half (the server's throughput), then an
        # open-loop half at a fixed utilisation (latency from due times)
        closed_rounds = max(1, round(run.seconds * CLOSED_ROUNDS_PER_S))
        open_rounds = max(1, round(run.seconds * OPEN_ROUNDS_PER_S))
        for traced in _passes(run):
            if traced:
                layers.install(run.tracer, spark, eng)
                memo0 = dict(eng.metrics)
            host0 = harness.host_sample(spark)
            routed.new_pass()
            c_ops, source = _closed(mix, traced, closed_rounds)
            _drive(run, port, source)
            routed.new_pass()
            rate = OFFERED_SHARE * _throughput(c_ops)
            o_ops, source = _open(mix, rng, traced, open_rounds, rate)
            _drive(run, port, source)
            if traced:
                run.tracer.unpatch()
                layers.server_metrics(run, spark, eng, c_ops, o_ops, memo0)
            else:
                harness.note_host(run, host0, harness.host_sample(spark))
            closed += c_ops
            opened += o_ops
    finally:
        srv.shutdown()
        srv.server_close()
        server.join()
        eng.shutdown()
    con = oracle.connect(run.src, STAR_TABLES)
    _check_all(run, con, closed + opened)
    if run.tracer:
        layers.overhead(run, [o for o in opened if not o.traced],
                        [o for o in opened if o.traced], {"routed"})
    _server_report(run, [o for o in closed if not o.traced],
                   [o for o in opened if not o.traced])


def _views(run, opened) -> list[float]:
    """Load time of each open-loop view whose panels all answered correctly:
    from its due time to its last panel's answer."""
    views = [opened[i:i + VIEW] for i in range(0, len(opened), VIEW)]
    return [
        max(o.end for o in v) - v[0].due
        for v in views if not any(run.failed(o) for o in v)
    ]


def _server_report(run, closed, opened) -> None:
    ok = [o for o in opened if not run.failed(o)]
    r_ok = [o.latency for o in ok if o.kind == "routed"]
    p_ok = [o.latency for o in ok if o.kind == "pushdown"]
    r_all = [o for o in opened if o.kind == "routed"]
    within = sum(1 for o in r_ok if o <= ROUTED_LIMIT_S)
    qps = _throughput(closed) * sum(not run.failed(o) for o in closed) / len(closed)
    run.named("routed_p50_s", harness.median(r_ok), "s", "open loop, from due time")
    run.named_tail("routed_tail_s", r_ok)
    run.named("pushdown_p50_s", harness.median(p_ok), "s", "open loop, from due time")
    run.named_tail("pushdown_tail_s", p_ok)
    run.named("queries_per_s", qps, "1/s",
              f"closed loop over {CONNECTIONS} connections, {len(closed)} requests")
    run.named("routed_within_limit_frac", within / len(r_all), "ratio",
              f"limit {ROUTED_LIMIT_S} s from due time, base {len(r_all)}")
    views = _views(run, opened)
    run.named("view_mean_s", sum(views) / len(views) if views else float("nan"), "s",
              f"{len(views)} views of {VIEW} panels, open loop, from due time")
    run.end_to_end(views, qps)
    late = [o.sent - o.due for o in opened]
    run.note("generator lateness s (p50, max)",
             (round(harness.median(late), 4), round(max(late), 4)))
    run.note("offered load 1/s (open loop)",
             f"{OFFERED_SHARE * qps:.3f} in views of {VIEW} "
             f"({OFFERED_SHARE:.0%} of the closed loop's throughput)")
    for name, ops in (("closed loop", closed), ("open loop", opened)):
        by_kind: dict[str, list[float]] = {}
        for o in ops:
            if not run.failed(o):
                by_kind.setdefault(o.query.kind, []).append(o.latency)
        run.note(f"p50 latency by kind s, {name}",
                 {k: round(harness.median(v), 4) for k, v in sorted(by_kind.items())})
    ops = closed + opened
    r_all = [o for o in ops if o.kind == "routed"]
    n = len(r_all)
    kinds = Counter(o.query.kind for o in r_all)
    run.note("repeated-text share of routed", round(sum(o.repeat for o in r_all) / n, 4))
    run.note("route-kind shares", {k: round(v / n, 4) for k, v in sorted(kinds.items())})
    run.note("share expected to route", round(n / len(ops), 4))


# -- refresh -----------------------------------------------------------------

#: months of lineitem history the refresh workload may land
REFRESH_MONTHS = 48
#: untimed cycles first: write latency falls by about a tenth per cycle
#: over the first few, while the JVM compiles the refresh path
WARMUP_CYCLES = 2


class _Lineitem:
    """The live lineitem month files and their versions. Every version is
    kept under ``versions/`` so an answer can be checked after the run
    against exactly the files the engine read."""

    def __init__(self, data: SourceData):
        self.data = data
        self.version: dict[int, int] = {}
        os.makedirs(os.path.join(data.root, "versions"), exist_ok=True)

    def keep(self, month: int) -> None:
        v = self.version.get(month, -1) + 1
        self.version[month] = v
        shutil.copyfile(self.data.month_path(month), _version_path(self.data.root, month, v))

    def snapshot(self) -> tuple:
        return tuple(sorted(self.version.items()))


def _version_path(src: str, month: int, version: int) -> str:
    return os.path.join(src, "versions", f"m{month}.v{version}.parquet")


def _point_lineitem(con, src: str, sources: tuple) -> None:
    """Make DuckDB's lineitem the month versions in ``sources``."""
    files = ", ".join(f"'{_version_path(src, m, v)}'" for m, v in sources)
    con.execute(f"create or replace view lineitem as select * from read_parquet([{files}])")


def refresh(run, spark) -> None:
    from kylin_on_parquet_v2_spark.session import register_views

    rng = random.Random(run.seed)
    cut = rng.randint(14, 16)
    data = SourceData(run.src, run.seed, run.sf, months=REFRESH_MONTHS)
    data.write_all(landed_months=cut)
    live = _Lineitem(data)
    for m in range(cut):
        live.keep(m)
    eng = _timed_setup(run, spark, cubes=("tpch_cube_seg",))
    sc = spark.sparkContext
    cube = "tpch_cube_seg"
    state = {"next": cut, "ops": 0}
    #: (first read after a landing, seconds from the landing to its answer)
    fresh: list[tuple[Op, float]] = []

    def timed(kind, fn, query=None, traced=False):
        state["ops"] += 1
        op = Op(kind, f"{int(traced)}-{kind}-{state['ops']}", query, traced=traced)

        def call():
            out = fn()
            if query is None:
                op.rows = out
            else:
                op.columns, op.rows = out.columns, out.collect()
                op.cube = eng.last_route.cube if eng.last_route else None

        _run_op(run, sc, op, call)
        op.sources = live.snapshot()
        return op

    def cycle(traced) -> list[Op]:
        month = state["next"]
        state["next"] += 1
        if month >= REFRESH_MONTHS:
            raise RuntimeError("refresh workload ran out of months to land")
        data.land_month(month)
        live.keep(month)
        landed = time.perf_counter()
        register_views(spark, run.src, force=True)
        ops = [timed("refresh", lambda: eng.refresh_cube(cube), traced=traced)]
        if ops[0].error is None and ops[0].rows != [str(month_start(month))]:
            ops[0].error = f"refresh_cube built {ops[0].rows}, not month {month}"
        reads = (
            templates.segment_query(month, month + 1),
            templates.derived_query(month_start(month - 2)),
            templates.history_query(),
        )
        for i, q in enumerate(reads):
            kind = "first_read" if i == 0 else "read"
            ops.append(timed(kind, lambda q=q: eng.sql(q.sql), q, traced))
        fresh.append((ops[1], ops[1].end - landed))
        # and restate an earlier month
        old = rng.randrange(month - 6, month)
        data.restate_month(old, live.version[old] + 1)
        live.keep(old)
        register_views(spark, run.src, force=True)
        ops.append(timed(
            "restate",
            lambda: eng.refresh_segment(cube, str(month_start(old))),
            traced=traced,
        ))
        q = templates.segment_query(old, old + 1)
        ops.append(timed("read", lambda: eng.sql(q.sql), q, traced))
        return ops

    for _ in range(WARMUP_CYCLES):
        cycle(False)
    fresh.clear()
    all_ops: list[Op] = []
    for traced in _passes(run):
        if traced:
            layers.install(run.tracer, spark, eng)
            memo0 = dict(eng.metrics)
        host0 = harness.host_sample(spark)
        ops: list[Op] = []
        t_end = time.perf_counter() + run.seconds
        while time.perf_counter() < t_end:
            ops += cycle(traced)
        if traced:
            run.tracer.unpatch()
            layers.single_metrics(run, spark, eng, ops, memo0, "refresh")
        else:
            harness.note_host(run, host0, harness.host_sample(spark))
        all_ops += ops
    eng.shutdown()
    con = oracle.connect(run.src, STAR_TABLES)
    _check_all(run, con, all_ops)
    ops = [o for o in all_ops if not o.traced]
    if run.tracer:
        layers.overhead(run, ops, [o for o in all_ops if o.traced], {"refresh", "restate"})
    ok = [o for o in ops if not run.failed(o)]
    refresh_s = [o.latency for o in ok if o.kind == "refresh"]
    restate_s = [o.latency for o in ok if o.kind == "restate"]
    writes = [o.latency for o in ok if o.kind in ("refresh", "restate")]
    reads = [o.latency for o in ok if o.query is not None]
    fresh_s = [s for o, s in fresh if not o.traced and not run.failed(o)]
    qps = _rate(run, ops)
    run.named("refresh_p50_s", harness.median(refresh_s), "s",
              f"{len(refresh_s)} refresh_cube calls")
    run.named("freshness_p50_s", harness.median(fresh_s), "s", f"{len(fresh_s)} months")
    run.named("restate_p50_s", harness.median(restate_s), "s",
              f"{len(restate_s)} refresh_segment calls")
    run.named("routed_p50_s", harness.median(reads), "s", "reads after refresh")
    run.named_tail("routed_tail_s", reads)
    run.named("ops_per_s", qps, "1/s", "refreshes, restates and reads")
    run.named("write_p50_s", harness.median(writes), "s",
              f"{len(writes)} refresh_cube and refresh_segment calls")
    run.end_to_end(writes, qps)
    read_ops = [o for o in ops if o.query is not None]
    run.note("write seconds, in run order",
             [(o.kind, round(o.latency, 3)) for o in ops if o.kind in ("refresh", "restate")])
    run.note("cut month", cut)
    run.note("share expected to route", round(len(read_ops) / len(ops), 4))
    run.note("routed reads that routed",
             round(sum(o.cube is not None for o in read_ops) / len(read_ops), 4))


# -- pipeline ----------------------------------------------------------------

#: corpus.pipeline jobs the batch client runs, at least one per module:
#: dedup, similarity (with the IVF restatement), decontam, text, multimodal
PIPELINE_JOBS = (
    "dedup_clusters",
    "similarity_bruteforce_topk",
    "similarity_ann_ivf_restated",
    "decontam_report",
    "text_redact_pii",
    "text_quality_features",
    "multimodal_perceptual_dedup",
)


def pipeline(run, spark) -> None:
    from kylin_on_parquet_v2_spark import corpus
    from kylin_on_parquet_v2_spark.corpus import pipeline as P
    from kylin_on_parquet_v2_spark.session import register_views

    data = SourceData(run.src, run.seed, run.sf)
    data.write_all()
    sc = spark.sparkContext
    if run.tracer:
        layers.install(run.tracer, spark)
    t0 = time.perf_counter()
    register_views(spark, run.src)
    run.setup_s = run.session_s + time.perf_counter() - t0
    if run.tracer:
        run.tracer.unpatch()
    oracles = corpus.all_oracles()
    rng = random.Random(run.seed)

    # a job with a corpus.all_oracles() entry is checked against it after the
    # run; one without is held to its in-query contract while it runs
    checks = {
        name: templates.Query(name, name, oracles[name], None)
        for name in PIPELINE_JOBS if name in oracles
    }

    def job(name, traced, n):
        op = Op(name, f"{int(traced)}-{n}", checks.get(name), traced=traced)

        def call():
            # collected, not written to the noop sink: the answers are a few
            # hundred rows, and checking them needs no second execution
            df = P.QUERIES[name](spark, run.src)
            op.columns, op.rows = df.columns, df.collect()

        _run_op(run, sc, op, call)
        return op

    if run.trace:
        # both passes of a traced run start warm, so their difference is the
        # tracing overhead; an untraced run times each job's first run in
        # the session, as a batch client meets it
        for name in PIPELINE_JOBS:
            job(name, False, -1)
    all_ops: list[Op] = []
    for traced in _passes(run):
        if traced:
            layers.install(run.tracer, spark)
        host0 = harness.host_sample(spark)
        ops: list[Op] = []
        t_end = time.perf_counter() + run.seconds
        while time.perf_counter() < t_end:  # whole rounds only
            order = list(PIPELINE_JOBS)
            rng.shuffle(order)
            ops += [job(name, traced, len(ops) + i) for i, name in enumerate(order)]
        if traced:
            run.tracer.unpatch()
            layers.single_metrics(run, spark, None, ops, None, "pipeline")
        else:
            harness.note_host(run, host0, harness.host_sample(spark))
        all_ops += ops
    _check_all(run, oracle.connect(run.src, ("documents", "embeddings")), all_ops)
    ops = [o for o in all_ops if not o.traced]
    if run.tracer:
        layers.overhead(run, ops, [o for o in all_ops if o.traced], set(PIPELINE_JOBS))
    ok = [o for o in ops if not run.failed(o)]
    times = [o.latency for o in ok]
    qps = _rate(run, ops)
    k = len(PIPELINE_JOBS)
    rounds = [
        r[-1].end - r[0].due
        for r in (ops[i:i + k] for i in range(0, len(ops), k))
        if not any(run.failed(o) for o in r)
    ]
    run.named("job_p50_s", harness.median(times), "s", f"{len(times)} jobs")
    run.named_tail("job_tail_s", times)
    run.named("jobs_per_s", qps, "1/s")
    run.named("round_p50_s", harness.median(rounds), "s",
              f"{len(rounds)} rounds of all {k} jobs")
    run.end_to_end(rounds, qps)
    run.note("job seconds, in run order", [(o.kind, round(o.latency, 3)) for o in ops])
    run.note("jobs checked against an oracle", sorted(checks))


WORKLOADS = {
    "server_mixed": server_mixed,
    "refresh": refresh,
    "pipeline": pipeline,
}
