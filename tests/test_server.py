"""REST query-endpoint tests (QueryService.java:374-461 parity surface)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.server import make_server
from tests.conftest import SF_SMOKE

#: a join of two aggregate islands, each routed onto the cube on its own
MULTI_CONTEXT_SQL = """
    select a.l_returnflag, a.s, b.n_f
    from (select l_returnflag, sum(l_quantity) as s
          from lineitem group by l_returnflag) a
    join (select l_returnflag as rf2, count(*) as n_f
          from lineitem where l_linestatus = 'F'
          group by l_returnflag) b
      on a.l_returnflag = b.rf2
"""


@pytest.fixture(scope="module")
def served(spark, tpch_cube_store, tmp_path_factory):
    # clone of the session-built cube (r14 suite-budget fix)
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path_factory.mktemp("cubes")))
    eng = OlapEngine(spark, storage_dir=d)
    eng.register_sources(SF_SMOKE)
    eng.add_model(TPCH_MODEL)
    eng.load_cube(TPCH_CUBE)
    srv = make_server(eng)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield eng, base
    srv.shutdown()


def _post(base: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{base}/api/query",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base: str, path: str) -> tuple[int, dict]:
    with urllib.request.urlopen(f"{base}{path}") as resp:
        return resp.status, json.loads(resp.read())


def test_query_endpoint_routes_and_matches_engine(served):
    eng, base = served
    sql = """select l_returnflag, sum(l_quantity) as s
             from lineitem group by l_returnflag order by l_returnflag"""
    code, body = _post(base, {"sql": sql})
    assert code == 200, body
    assert body["columns"] == ["l_returnflag", "s"]
    assert body["route"] is not None and body["route"]["cube"] == "tpch_cube"
    assert not body["is_pushdown"]
    direct = [[r[0], float(r[1])] for r in eng.sql(sql).collect()]
    got = [[r[0], float(r[1])] for r in body["rows"]]
    assert got == direct


def test_query_endpoint_pushdown_flag(served):
    _, base = served
    code, body = _post(
        base, {"sql": "select l_returnflag, sum(l_tax) as s from lineitem group by 1"}
    )
    assert code == 200 and body["is_pushdown"] and body["route"] is None


def test_query_endpoint_prepared_params(served):
    _, base = served
    code, body = _post(
        base,
        {
            "sql": "select count(*) as n from lineitem where l_returnflag = ?",
            "params": ["A"],
        },
    )
    assert code == 200 and body["row_count"] == 1
    assert body["rows"][0][0] > 0


def test_query_endpoint_bad_sql_is_400(served):
    _, base = served
    code, body = _post(base, {"sql": "select frobnicate from nowhere"})
    assert code == 400 and "error" in body


def test_query_endpoint_row_cap(served):
    _, base = served
    code, body = _post(base, {"sql": "select * from lineitem", "limit": 7})
    assert code == 200 and body["row_count"] == 7


def test_multi_context_routes_in_payload(served):
    """A join of two aggregate islands reports EVERY island's realization
    (round-4 advisor: the response showed only the first island)."""
    _, base = served
    code, body = _post(base, {"sql": MULTI_CONTEXT_SQL})
    assert code == 200, body
    assert body["n_contexts"] == 2
    assert len(body["routes"]) == 2
    assert all(r["cube"] == "tpch_cube" for r in body["routes"])


def test_concurrent_fast_query_not_blocked_by_slow(served):
    """Requests execute concurrently: a fast routed query posted while a
    slow pushdown is running must finish first (round-4 verdict #7 — the
    old whole-execution critical section serialized them)."""
    import time

    _, base = served
    results = {}

    def run(name, payload):
        t0 = time.perf_counter()
        code, body = _post(base, payload)
        results[name] = (time.perf_counter() - t0, time.perf_counter(), code)

    # deterministic multi-second pushdown regardless of SF: per-row sleep
    # UDF over a parallelized range (~1000 * 100ms / 32 cores ≈ 3s)
    eng, _ = served
    eng.spark.udf.register(
        "__slow_probe", lambda x: __import__("time").sleep(0.1) or x, "long"
    )
    slow_sql = "select count(__slow_probe(id)) as n from range(1000)"
    fast_sql = """select l_returnflag, sum(l_quantity) as s
                  from lineitem group by l_returnflag"""
    t_slow = threading.Thread(target=run, args=("slow", {"sql": slow_sql}))
    t_slow.start()
    time.sleep(0.4)  # let the slow query plan + start executing
    t_fast = threading.Thread(target=run, args=("fast", {"sql": fast_sql}))
    t_fast.start()
    t_fast.join(timeout=120)
    t_slow.join(timeout=120)
    assert results["slow"][2] == 200 and results["fast"][2] == 200, results
    assert results["fast"][1] < results["slow"][1], (
        "fast routed query should complete before the slow pushdown",
        results,
    )


def test_cubes_and_metrics_endpoints(served):
    _, base = served
    code, body = _get(base, "/api/cubes")
    assert code == 200 and body["cubes"][0]["name"] == "tpch_cube"
    assert body["cubes"][0]["n_layouts"] > 0
    code, body = _get(base, "/api/metrics")
    assert code == 200 and body["metrics"].get("routed", 0) >= 1
    code, body = _get(base, "/health")
    assert code == 200 and body["status"] == "ok"


def _post_path(base: str, path: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{base}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_explain_endpoint_routes_without_executing(served):
    """/api/explain returns the realization + formatted physical plan for
    both a routed and a pushdown statement, and leaves the next /api/query
    unaffected."""
    _, base = served
    routed_sql = (
        "select l_returnflag, sum(l_quantity) as s from lineitem "
        "group by l_returnflag"
    )
    code, r = _post_path(base, "/api/explain", {"sql": routed_sql})
    assert code == 200, r
    assert r["route"] is not None and r["is_pushdown"] is False
    assert r["route"]["cube"]
    assert "plan" in r and "Physical Plan" in r["plan"]
    assert "rows" not in r  # planning only

    pd_sql = (
        "select l_returnflag, count(*) as n from lineitem "
        "where l_quantity > 30 group by l_returnflag"
    )
    code, p = _post_path(base, "/api/explain", {"sql": pd_sql})
    assert code == 200, p
    assert p["is_pushdown"] is True and p["route"] is None
    assert "Physical Plan" in p["plan"]

    # a subsequent real query is unaffected
    code, q = _post(base, {"sql": routed_sql})
    assert code == 200 and q["row_count"] > 0

    code, bad = _post_path(
        base, "/api/explain", {"sql": "select nope from nothing"}
    )
    assert code == 400 and "error" in bad


def test_recommend_endpoint(served):
    """GET /api/cubes/<name>/recommend — CubeController.java:932
    /{cubeName}/cuboids/recommend parity: the BPUS recommendation from the
    recorded workload over measured layout rows. The base and grand-total
    cuboids are always kept; a workload-hit dim set shows up with its
    dims + rows."""
    eng, base = served
    # record some workload so the planner has frequencies to weigh
    eng.sql(
        "select l_returnflag, count(*) as n from lineitem group by l_returnflag"
    ).collect()
    code, body = _get(base, "/api/cubes/tpch_cube/recommend")
    assert code == 200, body
    recs = body["recommended_cuboids"]
    assert body["cube"] == "tpch_cube" and recs
    dims_sets = [tuple(r["dims"]) for r in recs]
    assert tuple(TPCH_CUBE.dimensions) in dims_sets  # base always kept
    assert all("cuboid_id" in r for r in recs)

    code, body = _get_raw(base, "/api/cubes/no_such_cube/recommend")
    assert code == 404


def _get_raw(base: str, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(f"{base}{path}") as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


#: routed, pushdown and multi-context statements for the concurrency check
MIXED_SQL = {
    "routed": "select l_returnflag, sum(l_quantity) as s "
    "from lineitem group by l_returnflag",
    "count": "select count(*) as n from lineitem",
    "pushdown": "select l_returnflag, sum(l_tax) as s from lineitem group by 1",
    "multi": MULTI_CONTEXT_SQL,
}

#: response fields that describe how a query was answered
ROUTE_FIELDS = ("route", "routes", "n_contexts", "is_pushdown", "row_count")

#: metrics of which exactly one counts each answered /api/query request
ANSWER_METRICS = ("routed", "pushdown", "undigestible", "result_cache_hits")


def check_concurrent_routes(eng, base: str, clients: int = 4) -> None:
    """``clients`` threads post MIXED_SQL twice over, each in its own order,
    while another thread polls /api/metrics and the cube recommendation.
    Every response is 200, every /api/query response carries its own
    query's single-threaded routes, and each request is counted once."""
    expected = {}
    for name, sql in MIXED_SQL.items():
        code, body = _post(base, {"sql": sql})
        assert code == 200, body
        expected[name] = {k: body[k] for k in ROUTE_FIELDS}
    assert expected["pushdown"]["is_pushdown"]
    assert expected["multi"]["n_contexts"] == 2
    before = sum(eng.metrics[k] for k in ANSWER_METRICS)
    names = list(MIXED_SQL) * 2
    answers: list = []
    polls: list = []
    done = threading.Event()

    def client(tid: int) -> None:
        for name in names[tid:] + names[:tid]:
            code, body = _post(base, {"sql": MIXED_SQL[name]})
            answers.append((name, code, {k: body.get(k) for k in ROUTE_FIELDS}))

    def poller() -> None:
        while True:
            for path in ("/api/metrics", "/api/cubes/tpch_cube/recommend"):
                try:
                    polls.append(_get_raw(base, path)[0])
                except Exception as exc:  # noqa: BLE001 — a crashed handler
                    polls.append(repr(exc))
            if done.wait(0.05):
                return

    threads = [threading.Thread(target=client, args=(t,)) for t in range(clients)]
    watcher = threading.Thread(target=poller)
    watcher.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    done.set()
    watcher.join(timeout=60)
    assert not watcher.is_alive()
    assert len(answers) == clients * len(names)
    for name, code, got in answers:
        assert code == 200, (name, got)
        assert got == expected[name], name
    assert polls and set(polls) == {200}, polls
    after = sum(eng.metrics[k] for k in ANSWER_METRICS)
    assert after - before == len(answers)


def test_concurrent_requests_get_their_own_routes(served):
    check_concurrent_routes(*served)
