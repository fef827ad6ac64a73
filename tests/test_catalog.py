"""The typed table read keeps column pruning and filter pushdown, also
through a temp view (the query registry's SQL runs over such views)."""

from kafka_firehose_nozzle_spark.catalog import read_table

SF = "/root/testdata/sf0.001"


def test_view_keeps_column_pruning_and_pushdown(spark):
    read_table(spark, SF, "lineitem").createOrReplaceTempView("lineitem")
    df = spark.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters: [")[1].split("]")[0]
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    # projection pruned to the two referenced columns, not the table
    assert "l_extendedprice" not in read_schema
