"""Regression tests for round-5 advisor findings (ADVICE.md r5):

1. _maybe_cache must refuse to cache when ANY route of a multi-context
   query carries a hybrid tail — not just routes[0]. A hybrid island at
   position >0 cached once would serve a stale tail after stream appends.
2. register_hybrid must refuse a realtime store without the __segment__
   column: the boundary filter is a segment comparison, and without it the
   whole realtime dir unions with the batch partials (double counting).
3. IncrementalDedup.refresh must return the DELTA pair count from the
   already-computed pairs DataFrame — no O(history) re-scan of the
   accumulated pair store per refresh.
4. The query server fills the result cache once and serves the cached
   rows on the next request; concurrent requests each get their own
   query's routes, from the cache or not.
"""

from __future__ import annotations

import inspect
import json
import threading
import urllib.request
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.pipeline import dedup as D
from kylin_on_parquet_v2_spark.query.engine import OlapEngine
from kylin_on_parquet_v2_spark.server import make_server
from tests.conftest import SF_SMOKE
from tests.test_server import check_concurrent_routes


def test_maybe_cache_skips_hybrid_island_beyond_first(spark):
    """A hybrid-served island at routes[1] must block caching even when
    routes[0] (and last_route) is a plain batch route."""
    eng = OlapEngine(spark, result_cache_size=4)
    plain = SimpleNamespace(hybrid_tail=None)
    hybrid = SimpleNamespace(hybrid_tail="/tmp/rt")
    eng.last_route = plain
    eng.last_routes = [plain, hybrid]
    df = spark.range(3)
    out = eng._maybe_cache(("k",), df)
    assert out is df  # returned un-cached, un-materialized
    assert not eng._cache

    # sanity: with no hybrid island anywhere, the same call DOES cache
    eng.last_routes = [plain, plain]
    out2 = eng._maybe_cache(("k2",), df)
    assert ("k2",) in eng._cache
    assert out2 is not df


def test_register_hybrid_requires_segment_column(spark, tmp_path):
    """A realtime store without __segment__ cannot be split at the batch
    boundary; registration must fail loudly instead of double-counting."""
    import datetime as dt

    from kylin_on_parquet_v2_spark.metadata import (
        CubeDesc,
        DataModel,
        FunctionDesc,
        MeasureDesc,
    )

    rows = [("k0", dt.date(2024, 3, d), float(d)) for d in (1, 2)]
    df = spark.createDataFrame(rows, "k string, d date, v double")
    df.createOrReplaceTempView("nsc_fact")
    rt_dir = str(tmp_path / "rt_no_seg")
    df.write.mode("overwrite").parquet(rt_dir)  # NO __segment__ column

    eng = OlapEngine(spark, storage_dir=str(tmp_path / "cubes"))
    eng.add_model(DataModel(name="nsc_star", fact_table="nsc_fact", partition_column="d"))
    eng.build_cube(
        CubeDesc(
            name="nsc_cube",
            model_name="nsc_star",
            dimensions=("k",),
            measures=(MeasureDesc("sum_v", FunctionDesc("SUM", "v")),),
            segment_granularity="day",
        ),
        segment_range=(None, "2024-03-01"),
    )
    with pytest.raises(ValueError, match="__segment__"):
        eng.register_hybrid("nsc_cube", rt_dir, ts_col="d")


def test_incremental_refresh_returns_delta_pair_count(spark, tmp_path):
    """refresh() returns pairs found in THIS delta, not the accumulated
    store total (which would also cost an O(history) scan per refresh)."""
    rows = [(i, f"the quick brown fox document number shared body {i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    inc = D.IncrementalDedup(spark, str(tmp_path / "inc"), k=8, bands=4)
    n1 = inc.refresh(docs.filter(F.col("doc_id") < 6))
    n2 = inc.refresh(docs.filter(F.col("doc_id") >= 6))
    total = inc.pairs().count()
    assert n1 > 0 and n2 > 0
    # the second return is the second delta's contribution only: strictly
    # fewer than the accumulated store (pre-fix it returned the total)
    assert n2 < total
    assert n1 <= total


@pytest.fixture(scope="module")
def cached_server(spark, tpch_cube_store, tmp_path_factory):
    from kylin_on_parquet_v2_spark.datasets import TPCH_CUBE, TPCH_MODEL
    from tests.conftest import clone_cube_store

    d = clone_cube_store(tpch_cube_store, str(tmp_path_factory.mktemp("adv6_cubes")))
    eng = OlapEngine(
        spark,
        storage_dir=d,
        result_cache_size=8,
    )
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
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_server_cache_fill_serves_second_request(cached_server):
    """With the result cache on, the first request fills the cache and the
    second request is served from it."""
    eng, base = cached_server
    sql = (
        "select l_returnflag, sum(l_quantity) as s "
        "from lineitem group by l_returnflag order by l_returnflag"
    )
    code, body1 = _post(base, {"sql": sql})
    assert code == 200, body1
    assert len(eng._cache) == 1
    code, body2 = _post(base, {"sql": sql})
    assert code == 200 and body2["rows"] == body1["rows"]


def test_cached_server_concurrent_requests_get_their_own_routes(cached_server):
    """Cache hits restore each request's own routes on its handler thread."""
    check_concurrent_routes(*cached_server)


def test_ngram_jaccard_cap_defaults_on():
    """The scale-safe df cap is the default; None is an explicit opt-out."""
    sig = inspect.signature(D.ngram_jaccard_pairs)
    assert sig.parameters["max_df"].default == 1000
