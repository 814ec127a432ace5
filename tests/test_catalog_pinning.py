"""``Catalog.put(cache=True)``: small tables are pinned on the driver as a
LocalRelation (reads launch no Spark job); tables over the broadcast
threshold keep ``df.cache()``."""

from __future__ import annotations

import uuid

from gene_level_metadata_pipeline_spark.plans.catalog import Catalog

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _table(spark, n=200):
    return spark.range(0, n).selectExpr(
        "CAST(id AS STRING) AS sym", "id * 2 AS score", "id % 7 AS grp"
    )


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"catalog-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog pinning test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_point_filter_on_pinned_table_is_job_free(spark):
    cat = Catalog(spark)
    pinned = cat.put("pin_points", _table(spark), cache=True)
    assert "LocalRelation" in pinned._jdf.queryExecution().optimizedPlan().toString()
    cached = _table(spark).cache()
    try:
        want = cached.where("sym = '42'").collect()
        got, jobs = _jobs_of(
            spark, lambda: spark.sql("SELECT * FROM pin_points WHERE sym = '42'").collect()
        )
        assert got == want and len(got) == 1
        assert jobs == []
        (top, jobs) = _jobs_of(
            spark,
            lambda: spark.sql(
                "SELECT sym, score FROM pin_points WHERE grp = 3 LIMIT 5"
            ).collect(),
        )
        assert len(top) == 5 and jobs == []
    finally:
        cached.unpersist()
        spark.catalog.dropTempView("pin_points")


def test_table_over_threshold_keeps_storage_level(spark):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "1")
    try:
        df = Catalog(spark).put("pin_large", _table(spark), cache=True)
    finally:
        spark.conf.set(THRESHOLD, old)
    try:
        level = df.storageLevel
        assert level.useMemory and level.useDisk and not level.useOffHeap
        plan = spark.table("pin_large")._jdf.queryExecution().optimizedPlan()
        assert "InMemoryRelation" in plan.toString()
        assert df.count() == 200
    finally:
        df.unpersist()
        spark.catalog.dropTempView("pin_large")


def test_reput_replaces_view(spark):
    cat = Catalog(spark)
    try:
        cat.put("pin_reput", _table(spark, 10), cache=True)
        assert spark.table("pin_reput").count() == 10
        second = _table(spark, 3).selectExpr("sym", "score + 1 AS score", "grp")
        cat.put("pin_reput", second, cache=True)
        rows = sorted(tuple(r) for r in spark.table("pin_reput").collect())
        assert rows == [("0", 1, 0), ("1", 3, 1), ("2", 5, 2)]
        assert sorted(tuple(r) for r in cat.get("pin_reput").collect()) == rows
    finally:
        spark.catalog.dropTempView("pin_reput")
