"""Routing-decision memoization (round-6 verdict item 4) and per-thread
routes under concurrent sql() calls.

Real deployments register hundreds of cubes; without a memo every sql()
re-scores all of them. The memo replays the DECISION only — execution
re-runs from the stored digest, so data (incl. hybrid realtime tails) is
never served stale; the key embeds the cache epoch, so any cube change
invalidates every decision.
"""

from __future__ import annotations

import pytest

from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from tests.conftest import SF_SMOKE
from tests.test_server import MULTI_CONTEXT_SQL

ROUTED_SQL = (
    "select l_returnflag, sum(l_quantity) as s from lineitem group by l_returnflag"
)
PUSHDOWN_SQL = (
    "select l_returnflag, count(*) as n from lineitem "
    "where l_quantity > 30 group by l_returnflag"
)


@pytest.fixture(scope="module")
def eng(spark, tpch_cube_store, tmp_path_factory):
    # clone of the session-built cube instead of a fresh 49-layout build
    # (r14 suite-budget fix): byte-identical layouts, same routing
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path_factory.mktemp("memo_cubes")))
    e = OlapEngine(spark, storage_dir=d)
    e.register_sources(SF_SMOKE)
    e.add_model(TPCH_MODEL)
    e.load_cube(TPCH_CUBE)
    return e


def test_repeated_query_plans_once(eng):
    """Second identical call must not re-score any cube (plan_route_calls
    frozen) yet must produce the identical answer and route metadata."""
    a = {tuple(r) for r in eng.sql(ROUTED_SQL).collect()}
    route_1 = eng.last_route
    calls_after_first = eng.metrics["plan_route_calls"]
    assert calls_after_first >= 1

    b = {tuple(r) for r in eng.sql(ROUTED_SQL).collect()}
    assert eng.metrics["plan_route_calls"] == calls_after_first  # no re-plan
    assert eng.metrics["route_memo_hits"] >= 1
    assert a == b
    assert eng.last_route is route_1  # same decision object replayed
    # hit/workload accounting identical to a fresh plan
    assert eng.metrics["routed"] == 2


def test_route_time_metric_reported(eng):
    before = eng.metrics["route_timed_calls"]
    eng.sql(ROUTED_SQL)
    assert eng.metrics["route_timed_calls"] == before + 1
    assert eng.metrics["route_time_ms"] > 0


def test_pushdown_decision_memoized_and_feeds_workload(eng):
    wl_before = sum(eng.workload.values())
    eng.sql(PUSHDOWN_SQL)
    assert eng.last_route is None
    calls = eng.metrics["plan_route_calls"]
    hits = eng.metrics["route_memo_hits"]
    eng.sql(PUSHDOWN_SQL)
    assert eng.last_route is None
    assert eng.metrics["plan_route_calls"] == calls  # negative decision reused
    assert eng.metrics["route_memo_hits"] == hits + 1
    # both executions count toward the cube-planner workload
    assert sum(eng.workload.values()) == wl_before + 2


def test_memo_invalidated_by_build(spark, tpch_cube_store, tmp_path):
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path / "clone"))
    e = OlapEngine(spark, storage_dir=d)
    e.register_sources(SF_SMOKE)
    e.add_model(TPCH_MODEL)
    e.load_cube(TPCH_CUBE)
    e.sql(ROUTED_SQL)
    assert e._route_memo
    # ANY cube build bumps the epoch and must clear every memoized
    # decision — a 2-dim variant keeps the invariant while costing a
    # 3-layout build instead of a second 49-layout one (r14 suite budget)
    from kylin_on_parquet_v2_spark.metadata.cube import CubeDesc

    mini = CubeDesc(
        name="tpch_mini_bump",
        model_name=TPCH_CUBE.model_name,
        dimensions=("l_returnflag", "l_linestatus"),
        measures=TPCH_CUBE.measures[:2],
    )
    e.build_cube(mini)  # epoch bump
    assert not e._route_memo
    # replans after the bump (fresh epoch in the key)
    calls = e.metrics["plan_route_calls"]
    e.sql(ROUTED_SQL)
    assert e.metrics["plan_route_calls"] > calls


def test_validate_bypasses_memo(eng):
    """validate=True always dual-executes from a fresh plan."""
    hits = eng.metrics["route_memo_hits"]
    eng.sql(ROUTED_SQL, validate=True)
    assert eng.metrics["route_memo_hits"] == hits


def test_concurrent_mixed_queries_thread_safe(eng):
    """Many threads hammering a mix of routed / pushdown / multi-context /
    repeated queries must produce exactly the single-threaded answers and
    routes — no memo corruption, no route bleed between threads, no
    exception, no lost metric update. Each thread reads last_route /
    last_routes back after its own call, as the query server's handler
    threads do; a short switch interval makes the threads interleave."""
    import sys
    import threading

    queries = [
        ROUTED_SQL,
        PUSHDOWN_SQL,
        "select count(*) as n from lineitem",
        "select l_linestatus, sum(l_extendedprice) as s from lineitem "
        "group by l_linestatus",
        MULTI_CONTEXT_SQL,
    ]

    def answer(q: str) -> tuple:
        rows = sorted(tuple(r) for r in eng.sql(q).collect())
        route = eng.last_route
        key = None if route is None else (route.cube, route.cuboid.dims)
        return rows, key, len(eng.last_routes)

    expected = [answer(q) for q in queries]
    assert expected[1][1] is None and expected[4][2] == 2
    counted = ("routed", "pushdown", "undigestible")
    before = sum(eng.metrics[k] for k in counted)
    errors: list[Exception] = []
    results: dict[tuple[int, int], tuple] = {}

    def run(tid: int) -> None:
        try:
            for i, q in enumerate(queries):
                results[(tid, i)] = answer(q)
        except Exception as exc:  # noqa: BLE001 — recorded for the assert
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert len(results) == 6 * len(queries)
    for (tid, i), got in results.items():
        assert got == expected[i], (tid, i)
    # every call is counted exactly once
    assert sum(eng.metrics[k] for k in counted) - before == len(results)
    # memo still coherent afterwards: a repeat plans zero new routes
    before = eng.metrics["plan_route_calls"]
    eng.sql(ROUTED_SQL).collect()
    assert eng.metrics["plan_route_calls"] == before


def test_memo_survives_direct_merge_without_manual_clear(spark, tmp_path):
    """Round-9 advisor (medium): a caller driving cube/merge.py DIRECTLY —
    outside OlapEngine.refresh_cube, without touching engine._route_memo —
    must still get the merged segment's rows. A merged dir reuses its first
    absorbed segment's name with WIDER dim ranges, so a stale memoized
    segment_reject would silently drop them; the lifecycle epoch stored in
    the memo entry forces a re-plan instead."""
    from kylin_on_parquet_v2_spark.cube.merge import merge_segments
    from kylin_on_parquet_v2_spark.metadata import (
        CubeDesc,
        DataModel,
        FunctionDesc,
        MeasureDesc,
    )

    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW orders_memo AS
        SELECT o_orderkey, o_totalprice, o_orderdate,
               month(o_orderdate) AS o_month
        FROM orders
        """
    )
    e = OlapEngine(spark, storage_dir=str(tmp_path / "memo_merge_cubes"))
    e.register_sources(SF_SMOKE)
    e.add_model(
        DataModel(
            name="orders_memo_star",
            fact_table="orders_memo",
            partition_column="o_orderdate",
        )
    )
    e.build_cube(
        CubeDesc(
            name="orders_memo_cube",
            model_name="orders_memo_star",
            dimensions=("o_month",),
            measures=(MeasureDesc("_count", FunctionDesc("COUNT")),),
            segment_granularity="month",
        )
    )
    sql = "select count(*) as n from orders_memo where o_month = 2"
    before = e.sql(sql).collect()[0]["n"]
    assert before > 0
    route = e.last_route
    assert route is not None and route.segment_reject  # Feb filter memoized

    inst = e.cubes["orders_memo_cube"]
    segs = sorted(inst.segments(spark))[:3]  # Jan..Mar of the first year
    merged = segs[0]  # the Jan dir name now holds Jan+Feb+Mar rows
    merge_segments(spark, inst, segs, merged)
    # NO manual e._route_memo.clear() — the epoch check must handle it

    after = e.sql(sql).collect()[0]["n"]
    assert after == before, (
        f"stale memoized segment_reject dropped merged rows: {after} != {before}"
    )
    replayed = e.last_route
    assert replayed is not None
    assert merged not in replayed.segment_reject
