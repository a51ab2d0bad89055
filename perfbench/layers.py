"""The engine's layers as the traced pass sees them: which package functions
each layer's spans wrap, and the per-layer metrics computed from the spans.

Layer names follow the package's modules. A time metric is a self time
(span minus child spans) per operation of the workload unless its name says
otherwise; a traced run prints every metric, with 0 for layers the workload
never reaches.
"""

from __future__ import annotations

import time

import harness

#: per-layer metric -> unit, in report order
METRICS = {
    "engine.sql_s": "s",  # OlapEngine.sql wall per operation
    "transform_s": "s",
    "analysis_s": "s",
    "digest_s": "s",
    "router.plan_s": "s",
    "router.plan_calls": "count",
    "router.execute_s": "s",
    "engine.self_s": "s",  # OlapEngine.sql self time: route memo, metrics
    "route_memo.hit_ratio": "ratio",
    "routed_ratio": "ratio",
    "exec.collect_s": "s",
    "exec.write_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "server.lock_wait_s": "s",
    "server.overhead_s": "s",
    "build.tpch_cube_s": "s",  # build.* : set-up totals, not per operation
    "build.tpch_cube_seg_s": "s",
    "build.events_cube_s": "s",
    "build.layouts": "count",
    "build.jobs": "count",
    "build.tasks": "count",
    "dictionary_s": "s",  # set-up total
    "refresh.increment_s": "s",  # refresh.* : per refresh_cube call
    "refresh.maintenance_s": "s",
    "refresh.jobs": "count",
    "refresh.tasks": "count",
    "refresh.first_sql_s": "s",  # OlapEngine.sql wall, first read after refresh
    "restate.rebuild_s": "s",  # restate.* : per refresh_segment call
    "restate.jobs": "count",
    "pipeline.dedup_s": "s",
    "pipeline.similarity_s": "s",
    "pipeline.text_s": "s",
    "pipeline.decontam_s": "s",
    "pipeline.multimodal_s": "s",
    "pipeline.jobs": "count",
    "pipeline.driver_rows": "count",
    "remainder_s": "s",  # operation wall time no layer covers
    "trace.overhead_s": "s",  # traced minus untraced mean operation latency
    "trace.spans": "count",
}

#: span name -> metric for the layers reported as self time per operation
_SELF = {
    "transform": "transform_s",
    "analysis": "analysis_s",
    "digest": "digest_s",
    "router.plan": "router.plan_s",
    "router.execute": "router.execute_s",
    "engine.sql": "engine.self_s",
    "exec.collect": "exec.collect_s",
    "exec.write": "exec.write_s",
    "pipeline.dedup": "pipeline.dedup_s",
    "pipeline.similarity": "pipeline.similarity_s",
    "pipeline.text": "pipeline.text_s",
    "pipeline.decontam": "pipeline.decontam_s",
    "pipeline.multimodal": "pipeline.multimodal_s",
}

PIPELINE_MODULES = ("dedup", "similarity", "text", "decontam", "multimodal")


def install(tr, spark, eng=None) -> None:
    """Wrap every layer's public entry points (until ``tr.unpatch()``)."""
    import importlib

    from pyspark import SparkContext

    from kylin_on_parquet_v2_spark.cube import build as B
    from kylin_on_parquet_v2_spark.cube import dictionary as GD
    from kylin_on_parquet_v2_spark.cube import merge as M
    from kylin_on_parquet_v2_spark.query import engine as E
    from kylin_on_parquet_v2_spark.streaming import hybrid as H

    df = spark.range(0)
    tr.patch(E.OlapEngine, "sql", "engine.sql")
    for f in ("extract_digest", "extract_join_digest", "extract_union_digest",
              "extract_agg_over_union"):
        tr.patch(E, f, "digest")
    tr.patch(E, "plan_route", "router.plan")
    tr.patch(E, "execute_route", "router.execute")
    tr.patch(H, "execute_hybrid", "router.execute")
    tr.patch(type(spark), "sql", "analysis")
    tr.patch(type(df), "collect", "exec.collect",
             after=lambda rows: tr.count("driver_rows", len(rows)))
    tr.patch(type(df), "toPandas", "exec.collect",
             after=lambda pdf: tr.count("driver_rows", len(pdf)))
    for f in ("save", "parquet", "saveAsTable"):
        tr.patch(type(df.write), f, "exec.write")
    tr.patch(B.CubeBuilder, "build", lambda self, *a, **k: f"build.{self.desc.name}")
    tr.patch(B.CubeBuilder, "build_increment", "refresh.increment")
    tr.patch(B.CubeBuilder, "rebuild_segment", "restate.rebuild")
    for f in ("build_global_dict", "extend_global_dict", "encode_column"):
        tr.patch(GD, f, "dictionary")
    for owner, f in ((M, "maybe_auto_merge"), (M, "apply_retention"),
                     (B, "record_dim_ranges"), (M, "record_dim_ranges")):
        tr.patch(owner, f, "refresh.maintenance")
    for name in PIPELINE_MODULES:
        mod = importlib.import_module(f"kylin_on_parquet_v2_spark.pipeline.{name}")
        tr.patch_public(mod, f"pipeline.{name}")
    # server: the job group and the opening of each request's tracked window
    set_group = SparkContext.setJobGroup

    def setJobGroup(sc, groupId, *args, **kwargs):  # noqa: N802
        if tr.request is not None:
            tr.groups[tr.request] = groupId
        return set_group(sc, groupId, *args, **kwargs)

    tr.replace(SparkContext, "setJobGroup", setJobGroup)
    tracked = E.OlapEngine.tracked_query

    def tracked_query(engine, query_id=None, *args, **kwargs):
        return _Window(tr, query_id, tracked(engine, query_id, *args, **kwargs))

    tr.replace(E.OlapEngine, "tracked_query", tracked_query)
    if eng is not None:
        tr.replace(eng, "transformers", [tr.wrap(t, "transform") for t in eng.transformers])


class _Window:
    """A tracked-query context that tags the handler thread with the
    request id and notes when the window opened."""

    def __init__(self, tr, request, cm):
        self.tr, self.request, self.cm = tr, request, cm

    def __enter__(self):
        self.tr.request = self.request
        self.tr.entered[self.request] = time.perf_counter()
        return self.cm.__enter__()

    def __exit__(self, *exc):
        try:
            return self.cm.__exit__(*exc)
        finally:
            self.tr.request = None


# -- metrics -----------------------------------------------------------------


def setup_metrics(run, eng, counts) -> None:
    """build.* and dictionary_s from the spans of set-up."""
    tr = run.tracer
    setup = [s for s in tr.spans if s.request is None]
    for name in ("tpch_cube", "tpch_cube_seg", "events_cube"):
        run.layers[f"build.{name}_s"] = sum(
            s.end - s.start for s in setup if s.name == f"build.{name}"
        )
    jobs, _stages, tasks = counts
    run.layers["build.layouts"] = sum(len(i.layouts) for i in eng.cubes.values())
    run.layers["build.jobs"] = jobs
    run.layers["build.tasks"] = tasks
    run.layers["dictionary_s"] = tr.self_times(setup).get("dictionary", 0.0)


def _pass_spans(tr, ops):
    rids = {o.request for o in ops}
    return [s for s in tr.spans if s.request in rids]


def _common(run, eng, ops, spans, memo0, jobs_per_op) -> dict:
    """Metrics shared by every workload; returns the self-time table."""
    n = len(ops)
    self_t = run.tracer.self_times(spans)
    for span_name, metric in _SELF.items():
        run.layers[metric] = self_t.get(span_name, 0.0) / n
    run.layers["engine.sql_s"] = sum(
        s.end - s.start for s in spans if s.name == "engine.sql"
    ) / n
    run.layers["router.plan_calls"] = sum(s.name == "router.plan" for s in spans) / n
    if eng is not None:
        hits = eng.metrics["route_memo_hits"] - memo0.get("route_memo_hits", 0)
        calls = eng.metrics["route_timed_calls"] - memo0.get("route_timed_calls", 0)
        run.layers["route_memo.hit_ratio"] = hits / calls if calls else 0.0
        run.note("route memo base", f"{hits} memo hits / {calls} timed engine.sql calls")
    expect = [o for o in ops if o.query is not None and o.query.cube is not None]
    if expect:
        run.layers["routed_ratio"] = sum(o.cube is not None for o in expect) / len(expect)
        run.note("routed_ratio base", f"{len(expect)} queries whose template expects a route")
    for i, key in enumerate(("exec.jobs", "exec.stages", "exec.tasks")):
        run.layers[key] = sum(j[i] for j in jobs_per_op) / n
    run.layers["trace.spans"] = len(spans) / n
    return self_t


def single_metrics(run, spark, eng, ops, memo0, workload) -> None:
    """Per-layer metrics of a single-client pass (refresh, pipeline): every
    span of an operation nests under its ``op`` span on one thread, so the
    layers' self times plus the ``op`` span's own self time (the remainder)
    add up to the operations' wall time exactly."""
    tr = run.tracer
    spans = _pass_spans(tr, ops)
    marks = [o.job_mark for o in ops]
    per_op = harness.jobs_between(spark.sparkContext, marks)
    self_t = _common(run, eng, ops, spans, memo0, per_op)
    n = len(ops)
    run.layers["remainder_s"] = self_t.get("op", 0.0) / n
    wall = sum(s.end - s.start for s in spans if s.name == "op")
    _accounting(run, self_t, wall, n, remainder=self_t.get("op", 0.0))
    by_kind: dict[str, list[int]] = {}
    for i, o in enumerate(ops):
        by_kind.setdefault(o.kind, []).append(i)
    if workload == "refresh":
        ref = by_kind.get("refresh", [])
        res = by_kind.get("restate", [])
        if ref:
            run.layers["refresh.increment_s"] = self_t.get("refresh.increment", 0.0) / len(ref)
            run.layers["refresh.maintenance_s"] = self_t.get("refresh.maintenance", 0.0) / len(ref)
            run.layers["refresh.jobs"] = sum(per_op[i][0] for i in ref) / len(ref)
            run.layers["refresh.tasks"] = sum(per_op[i][2] for i in ref) / len(ref)
        if res:
            run.layers["restate.rebuild_s"] = self_t.get("restate.rebuild", 0.0) / len(res)
            run.layers["restate.jobs"] = sum(per_op[i][0] for i in res) / len(res)
        first = {ops[i].request for i in by_kind.get("first_read", [])}
        sqls = [s.end - s.start for s in spans
                if s.name == "engine.sql" and s.request in first]
        run.layers["refresh.first_sql_s"] = sum(sqls) / len(sqls) if sqls else 0.0
    if workload == "pipeline":
        run.layers["pipeline.jobs"] = sum(j[0] for j in per_op) / n
        rows = sum(v for (name, rid), v in tr.counts.items()
                   if name == "driver_rows" and rid in {o.request for o in ops})
        run.layers["pipeline.driver_rows"] = rows / n
        run.note("Spark jobs per pipeline job", {
            k: [per_op[i][0] for i in idx] for k, idx in sorted(by_kind.items())
        })


def server_metrics(run, spark, eng, closed, opened, memo0) -> None:
    """Per-layer metrics of a server pass, over both of its halves. The
    client's ``op`` span and the handler's spans run on different threads,
    so the handler side is joined by request id: a request's wall time is
    its layers' self times, its lock wait (tracked-query entry to the first
    OlapEngine.sql call) and the remainder no layer covers, which here is
    the HTTP and JSON overhead. ``remainder_s`` and ``server.overhead_s``
    are therefore the same figure on this workload: the first is the name
    every workload reports, the second the server layer's own name."""
    tr = run.tracer
    sc = spark.sparkContext
    ops = closed + opened
    spans = _pass_spans(tr, ops)
    st = sc.statusTracker()
    per_op = []
    for o in ops:
        gid = tr.groups.get(o.request)
        ids = st.getJobIdsForGroup(gid) if gid is not None else []
        per_op.append(harness.job_totals(sc, ids))
    handler = [s for s in spans if s.name != "op"]
    self_t = _common(run, eng, ops, handler, memo0, per_op)
    n = len(ops)
    first_sql: dict[str, float] = {}
    for s in handler:
        if s.name == "engine.sql":
            first_sql[s.request] = min(s.start, first_sql.get(s.request, s.start))
    waits = {r: first_sql[r] - tr.entered[r] for r in first_sql if r in tr.entered}
    walls = {s.request: s.end - s.start for s in spans if s.name == "op"}
    lock_wait, wall = sum(waits.values()), sum(walls.values())
    remainder = wall - sum(self_t.values()) - lock_wait
    run.layers["server.lock_wait_s"] = lock_wait / n
    run.layers["server.overhead_s"] = run.layers["remainder_s"] = remainder / n
    for name, half in (("closed loop", closed), ("open loop", opened)):
        rids = [o.request for o in half]
        w = sum(walls.get(r, 0.0) for r in rids)
        run.note(f"lock wait share of request wall time, {name}",
                 round(sum(waits.get(r, 0.0) for r in rids) / w, 4) if w else 0.0)
    self_t = dict(self_t, **{"server.lock_wait": lock_wait})
    _accounting(run, self_t, wall, n, remainder=remainder)


def _accounting(run, self_t, wall, n, remainder) -> None:
    """The self-time table: each layer's total, and the remainder no layer
    covers, adding up to the operations' wall time."""
    rows = {k: v for k, v in self_t.items() if k != "op"}
    rows["(remainder)"] = remainder
    run.accounting = {
        "operations": n,
        "wall_s": wall,
        "layers_s": dict(sorted(rows.items(), key=lambda kv: -kv[1])),
        "sum_s": sum(rows.values()),
    }


def overhead(run, untraced, traced, primary) -> None:
    """trace.overhead_s: traced minus untraced mean latency of the
    workload's headline operations (kinds in ``primary``)."""
    a = [o.latency for o in untraced if o.kind in primary and not run.failed(o)]
    b = [o.latency for o in traced if o.kind in primary and not run.failed(o)]
    if a and b:
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        run.layers["trace.overhead_s"] = mb - ma
        run.note("tracing overhead",
                 f"{mb - ma:+.4f} s on a {ma:.4f} s mean ({(mb - ma) / ma:+.1%})")
