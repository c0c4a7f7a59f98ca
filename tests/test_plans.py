"""Physical-plan regression tests: the scale properties the engine promises
(predicate pushdown, column pruning, broadcast joins, top-k without full
sort, no accidental cartesian products) asserted against the optimized
plans — these are what make the queries survive 100 TB, independent of the
row-level correctness the oracle checks.
"""

from __future__ import annotations

import re

import pytest

from dataworks_audit_data_ingest_spark.queries import all_queries

SF = "/root/testdata/sf0.001"
REGISTRY = all_queries()


def plan_of(spark, name: str) -> str:
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q01_filter_pushed_to_scan(spark):
    plan = formatted_plan(spark, "q01_pricing_summary")
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan)


def test_q01_column_pruning(spark):
    plan = formatted_plan(spark, "q01_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # 11-column table, 7 needed — the scan must not read the other 4
    assert "l_orderkey" not in read_cols
    assert "l_partkey" not in read_cols
    assert read_cols >= {"l_quantity", "l_extendedprice", "l_returnflag"}


def test_q03_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q03_regional_revenue")
    assert "BroadcastHashJoin" in plan
    # the star join must not sort-merge the tiny dims
    assert plan.count("BroadcastHashJoin") >= 3


def test_q24_band_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "q24_price_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q26_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "q26_top_parts_global")
    assert "TakeOrderedAndProject" in plan


def test_q05_semi_and_q06_anti_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "q05_order_priority_semi")
    assert "LeftAnti" in plan_of(spark, "q06_customers_without_orders")


def test_q55_ann_has_no_python_udf(spark):
    """Similarity scoring must stay JVM-side (ZIP_WITH/AGGREGATE), not fall
    into BatchEvalPython."""
    plan = plan_of(spark, "q55_ann_bruteforce_topk")
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


@pytest.mark.parametrize(
    "name",
    [n for n in sorted(REGISTRY) if n not in ("q24_price_band_join", "q45_cross_join")],
)
def test_no_cartesian_products(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


# the sanctioned Python kernel (media decode via mapInPandas) and the
# queries that run through it
_PYTHON_ALLOWED = {
    "q70_multimodal_decode",
    "q121_frame_sample_plan",
    "q125_udtf_chunks",  # sanctioned UDTF surface
    "q145_media_phash_dedup",  # media pixel decode (extract_pixels)
}


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n not in _PYTHON_ALLOWED]
)
def test_no_python_eval_outside_sanctioned_kernels(spark, name):
    """Engine policy (PERF.md): the query surface stays in whole-stage
    codegen — no row/batch Python evaluation sneaks into a hot path."""
    plan = plan_of(spark, name)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"{name} plans {node}"


def test_ingest_scan_prunes_content_until_needed(spark, tmp_path):
    """A listing over the scan (``largefile.list_files``) must not read file
    contents: selecting only `day` keeps `content` out of the ReadSchema."""
    from dataworks_audit_data_ingest_spark.ingest.pipeline import scan_source

    src = tmp_path / "s"
    (src / "2020-01-01").mkdir(parents=True)
    (src / "2020-01-01" / "x.bin").write_bytes(b"payload")
    df = scan_source(spark, str(src)).select("day")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "content" not in m.group(1)


def test_q66_is_fully_distributed(spark):
    """q66 must not collect the value domain to the driver: no
    LocalTableScan (createDataFrame residue) and no CartesianProduct /
    BroadcastNestedLoop — the blocked self-join is an equi-join on the
    neighborhood key (round-2 fix of the round-1 collect anti-pattern)."""
    plan = plan_of(spark, "q66_fuzzy_brand_match")
    assert "LocalTableScan" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_q239_lateral_decorrelates_to_window_plan(spark):
    """The LATERAL form must cross-pin the window form row-for-row, and
    its physical plan must contain a decorrelated rank (a Window node),
    not per-outer-row re-execution."""
    from pyspark.sql import Window, functions as F
    from dataworks_audit_data_ingest_spark.queries.relational import (
        q239_lateral_topk_per_nation,
    )
    from dataworks_audit_data_ingest_spark.tables import table

    sf = "/root/testdata/sf0.001"
    lateral = q239_lateral_topk_per_nation(spark, sf)
    plan = lateral._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "CartesianProduct" not in plan

    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    windowed = (
        c.withColumn("_r", F.row_number().over(w))
        .filter("_r <= 2")
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer_name"),
            F.expr(
                "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)"
            ).alias("acctbal_cents"),
        )
    )
    assert sorted(map(tuple, lateral.collect())) == sorted(
        map(tuple, windowed.collect())
    )


def test_q240_nullsafe_join_matches_null_bucket(spark):
    """The '(missing)' bucket must hold PAIRS (null-safe semantics);
    plain = on the same keys returns no such rows."""
    from dataworks_audit_data_ingest_spark.queries.relational import (
        q240_nullsafe_linkage_join,
    )
    from dataworks_audit_data_ingest_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = q240_nullsafe_linkage_join(spark, sf)
    missing = out.filter("segment = '(missing)'")
    assert missing.count() > 0
    assert missing.agg(F.sum("n_pairs")).first()[0] > 0

    # the counter-factual: plain equality drops the NULL bucket entirely
    c = table(spark, sf, "customer")
    a = c.filter("c_custkey % 2 = 0").selectExpr(
        "c_nationkey", "NULLIF(c_mktsegment, 'BUILDING') AS seg"
    )
    b = c.filter("c_custkey % 2 = 1").selectExpr(
        "c_nationkey AS bn", "NULLIF(c_mktsegment, 'BUILDING') AS bseg"
    )
    plain = a.join(
        b, (F.col("seg") == F.col("bseg")) & (F.col("c_nationkey") == F.col("bn"))
    ).filter("seg IS NULL")
    assert plain.count() == 0
