"""Regression tests for round-6 advisor findings (ADVICE.md r6):

1. merge_segments on a bucket_layouts cube must write the merged segment
   WITHOUT __shard__= dirs so every segment dir under the layout root has
   the same partition-directory depth — the fallback path read must work.
2. Bucketed catalog table names are namespaced by the storage dir, and
   CubeInstance.load rejects a same-named table pointing at a different
   location — a rebuild into another dir can never repoint a live cube's
   layout scan at foreign files.
3. (stale deferred cache fill — the deferral is gone; routing state is now
   per thread, checked by the concurrent tests in tests/test_route_memo.py
   and tests/test_server.py.)
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kylin_on_parquet_v2_spark.cube.build import CubeInstance
from kylin_on_parquet_v2_spark.cube.merge import merge_segments
from kylin_on_parquet_v2_spark.metadata import (
    CubeDesc,
    DataModel,
    FunctionDesc,
    MeasureDesc,
)
from kylin_on_parquet_v2_spark.query.engine import OlapEngine


def _seg_fact(spark, view: str, days=(1, 2, 3)):
    rows = [
        (k % 5, dt.date(2024, 10, day), float(k + day))
        for day in days
        for k in range(20)
    ]
    df = spark.createDataFrame(rows, "sk long, d date, v double")
    df.createOrReplaceTempView(view)
    return df


def _bucketed_cube(name: str, model: str) -> CubeDesc:
    return CubeDesc(
        name=name,
        model_name=model,
        dimensions=("sk", "d"),
        measures=(
            MeasureDesc("_count", FunctionDesc("COUNT")),
            MeasureDesc("sum_v", FunctionDesc("SUM", "v")),
        ),
        cuboid_ids=(3,),
        shard_by="sk",
        shard_buckets=4,
        bucket_layouts=True,
        segment_granularity="day",
    )


def test_merge_on_bucketed_cube_keeps_uniform_partition_depth(
    spark, tmp_path_factory
):
    """Advisor r6 #1: after merging two segments of a bucketed cube, the
    fallback spark.read.parquet(layout root) must still work (no
    conflicting-partition-structure) and answers must be unchanged."""
    _seg_fact(spark, "mb_fact")
    eng = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("mb_cubes")))
    eng.add_model(DataModel(name="mb_star", fact_table="mb_fact", partition_column="d"))
    eng.build_cube(_bucketed_cube("mb_cube", "mb_star"))
    inst = eng.cubes["mb_cube"]
    assert inst.layout_tables, "precondition: bucketed tables registered"
    segs = inst.segments(spark)
    assert segs == ["2024-10-01", "2024-10-02", "2024-10-03"]

    sql = "select sk, sum(v) as s, count(*) as n from mb_fact group by sk"
    before = {tuple(r) for r in eng.sql(sql).collect()}
    assert eng.last_route is not None

    merge_segments(spark, inst, segs[:2], segs[0])
    assert not inst.layout_tables  # bucket metadata dropped with the tables
    assert inst.segments(spark) == ["2024-10-01", "2024-10-03"]

    # the layout root must read uniformly — merged dir has the same depth
    for path in inst.layouts.values():
        df = spark.read.parquet(path)  # raises on conflicting structure
        assert "__shard__" not in df.columns

    eng._cache_epoch += 1  # cube changed outside the engine API
    eng._route_memo.clear()
    after = {tuple(r) for r in eng.sql(sql).collect()}
    assert eng.last_route is not None
    assert after == before
    exp = {tuple(r) for r in eng.pushdown(sql).collect()}
    assert after == exp


def test_same_cube_name_two_dirs_do_not_collide(spark, tmp_path_factory):
    """Advisor r6 #2 (write side): the catalog table names embed a
    storage-dir hash, so the corpus pattern — same cube name, per-process
    tempdirs — leaves the first build's tables untouched."""
    _seg_fact(spark, "ns_fact", days=(1, 2))
    eng1 = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("ns_a")))
    eng1.add_model(DataModel(name="ns_star", fact_table="ns_fact", partition_column="d"))
    eng1.build_cube(_bucketed_cube("ns_cube", "ns_star"))
    t1 = set(eng1.cubes["ns_cube"].layout_tables.values())
    sql = "select sk, sum(v) as s from ns_fact group by sk"
    before = {tuple(r) for r in eng1.sql(sql).collect()}

    # second build, same cube name, DIFFERENT dir and different data
    _seg_fact(spark, "ns_fact", days=(1, 2, 3))
    eng2 = OlapEngine(spark, storage_dir=str(tmp_path_factory.mktemp("ns_b")))
    eng2.add_model(DataModel(name="ns_star", fact_table="ns_fact", partition_column="d"))
    eng2.build_cube(_bucketed_cube("ns_cube", "ns_star"))
    t2 = set(eng2.cubes["ns_cube"].layout_tables.values())

    assert t1 and t2 and t1.isdisjoint(t2), (t1, t2)
    # eng1 still answers from ITS build (2 days), not eng2's 3-day data
    eng1._route_memo.clear()
    again = {tuple(r) for r in eng1.sql(sql).collect()}
    assert eng1.last_route is not None
    assert again == before
    for t in t1 | t2:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_load_rejects_table_pointing_elsewhere(spark, tmp_path_factory):
    """Advisor r6 #2 (load side): a same-named catalog table whose location
    is NOT this cube's layout path is rejected at load — the scan falls
    back to the path read instead of serving foreign files."""
    _seg_fact(spark, "lr_fact", days=(1, 2))
    storage = str(tmp_path_factory.mktemp("lr_cubes"))
    eng = OlapEngine(spark, storage_dir=storage)
    model = DataModel(name="lr_star", fact_table="lr_fact", partition_column="d")
    eng.add_model(model)
    desc = _bucketed_cube("lr_cube", "lr_star")
    eng.build_cube(desc)
    inst = eng.cubes["lr_cube"]
    assert inst.layout_tables

    # sanity: an honest reload keeps the tables
    re1 = CubeInstance.load(desc, model, storage, spark)
    assert re1 is not None and re1.layout_tables == inst.layout_tables

    # hijack: repoint every table name at an unrelated parquet dir
    other = str(tmp_path_factory.mktemp("lr_other") / "p")
    spark.createDataFrame([(1, dt.date(2024, 1, 1), 0.0)], "sk long, d date, v double").write.parquet(other)
    for t in inst.layout_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"CREATE TABLE {t} USING parquet LOCATION '{other}'")

    re2 = CubeInstance.load(desc, model, storage, spark)
    assert re2 is not None
    assert not re2.layout_tables  # repointed tables rejected -> path scan
    # and the path scan still answers correctly
    sql = "select sk, sum(v) as s from lr_fact group by sk"
    eng2 = OlapEngine(spark, storage_dir=storage)
    eng2.add_model(model)
    eng2.cubes["lr_cube"] = re2
    got = {tuple(r) for r in eng2.sql(sql).collect()}
    assert eng2.last_route is not None
    exp = {tuple(r) for r in eng2.pushdown(sql).collect()}
    assert got == exp
    for t in inst.layout_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
