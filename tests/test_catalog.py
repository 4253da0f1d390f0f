"""Managed-table catalog surface: saveAsTable / SQL / insertInto /
ANALYZE statistics. The reference's Hive-catalog seam
(`session.py` enableHiveSupport) exists so users can address tables
by name; these tests pin that the name-based surface and the
CBO-statistics loop actually work against the session warehouse."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_save_as_table_sql_round_trip(spark):
    spark.sql("DROP TABLE IF EXISTS t_cat_demo")
    spark.range(0, 100).withColumn("v", F.col("id") * 2).write.saveAsTable(
        "t_cat_demo"
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM t_cat_demo").first().n == 100
    # name appears in the catalog listing
    assert any(
        t.name == "t_cat_demo" for t in spark.catalog.listTables()
    )
    # append via insertInto: name-based write path
    spark.range(100, 150).withColumn("v", F.col("id") * 2).write.insertInto(
        "t_cat_demo"
    )
    assert spark.table("t_cat_demo").count() == 150
    spark.sql("DROP TABLE t_cat_demo")
    assert not any(
        t.name == "t_cat_demo" for t in spark.catalog.listTables()
    )


def test_analyze_statistics_feed_size_estimates(spark):
    """ANALYZE TABLE COMPUTE STATISTICS closes the CBO loop: the
    catalog-recorded size/row stats reach Catalyst's plan estimate —
    the same estimate the planner's broadcast threshold is checked
    against, which is how a managed 100 TB table gets accurate (not
    file-size-guessed) broadcast decisions."""
    spark.sql("DROP TABLE IF EXISTS t_cat_stats")
    spark.range(0, 10_000).withColumn(
        "pad", F.concat_ws("-", F.lit("x" * 32), F.col("id"))
    ).write.saveAsTable("t_cat_stats")
    spark.sql("ANALYZE TABLE t_cat_stats COMPUTE STATISTICS")

    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED t_cat_stats").collect()
    }
    stats = desc.get("Statistics", "")
    assert "rows" in stats, desc  # row count recorded by ANALYZE

    plan = spark.table("t_cat_stats")._jdf.queryExecution().optimizedPlan()
    assert int(plan.stats().sizeInBytes()) > 0
    spark.sql("DROP TABLE t_cat_stats")
