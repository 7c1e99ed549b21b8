"""Physical-plan assertions: the plans we designed for are the plans we get.

Locks in the scale properties the docstrings claim: predicate pushdown
reaching the parquet scan, column pruning, broadcast joins for dims,
partial (map-side) aggregation, top-k via TakeOrderedAndProject, and
whole-stage codegen on the hot relational paths.
"""

import pytest
from pyspark.sql import functions as F

from ctcityscraper_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


class TestPushdownAndPruning:
    def test_pricing_summary_pushes_filter_and_prunes(self, spark):
        plan = plan_of(spark, "pricing_summary")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
        # projection pruned to exactly the needed columns
        scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "l_comment" not in scan_line
        assert "l_orderkey" not in scan_line  # not referenced by the query

    def test_scan_filter_project_pushdown(self, spark):
        import re

        plan = plan_of(spark, "scan_filter_project")
        assert "GreaterThanOrEqual(l_shipdate" in plan
        # the DataFilters dump truncates; assert via the Filter node
        assert re.search(r"l_quantity#\d+ > 45\.0", plan)

    def test_scd2_history_entity_filter_reaches_scan(self, spark, tmp_store):
        import datetime as dt

        from ctcityscraper_spark.operators.scd2 import history

        df = spark.createDataFrame([("u1", 1.0)], "uuid string, v double")
        tmp_store.write_batch("t", df, scraped_at=dt.datetime(2024, 1, 1))
        plan = history(tmp_store.scan("t"), "u1")._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(uuid,u1)" in plan
        assert "rangepartitioning" not in plan


class TestJoinStrategies:
    @pytest.mark.parametrize(
        "name",
        ["join_agg_by_segment", "join_star_three_way", "top_revenue_orders",
         "regional_customer_revenue"],
    )
    def test_dims_broadcast(self, spark, name):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} should broadcast its dims"

    def test_anti_join_planned(self, spark):
        plan = plan_of(spark, "anti_join_customers_without_orders")
        assert "LeftAnti" in plan

    def test_semi_join_planned(self, spark):
        plan = plan_of(spark, "semi_join_parts_in_lineitem")
        assert "LeftSemi" in plan


class TestAggAndTopK:
    def test_partial_aggregation_before_shuffle(self, spark):
        # HashAggregate appears twice: partial (map-side) + final
        plan = plan_of(spark, "pricing_summary")
        assert plan.count("HashAggregate") >= 2

    def test_topk_is_take_ordered(self, spark):
        plan = plan_of(spark, "topk_orders")
        assert "TakeOrderedAndProject" in plan  # partial top-k, no full sort

    def test_whole_stage_codegen_on_hot_path(self, spark):
        # AQE shows codegen spans only in the FINAL plan — execute first
        df = QUERIES["pricing_summary"].fn(spark, SF)
        df.collect()
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        # codegen spans render as "*(n)" stage markers in the final plan
        assert re.search(r"\*\(\d+\) HashAggregate", plan)


class TestSqlSurface:
    """SURVEY §3.3: `spark.sql()` gives the SQL-text path for free — the
    same semantics are reachable as SQL text over registered views, and
    the plans are the ones the DataFrame API produces."""

    def test_sql_text_matches_dataframe_result(self, spark):
        from ctcityscraper_spark.plans.tables import register_views
        from ctcityscraper_spark.plans.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        register_views(spark, sf)
        sql_rows = spark.sql(
            """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
            """
        ).collect()
        df_rows = (
            QUERIES["pricing_summary"]
            .fn(spark, sf)
            .select("l_returnflag", "l_linestatus", "count_order")
            .collect()
        )
        assert [(r[0], r[1], r[2]) for r in sql_rows] == [
            (r[0], r[1], r[2]) for r in df_rows
        ]

    def test_sql_window_scd2_current(self, spark, tmp_path):
        """The reference's documented latest-state SQL (README.md:126-128)
        runs verbatim-shaped through spark.sql over an appended table."""
        from ctcityscraper_spark.operators.scd2 import current

        rows = [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-02 00:00:00"),
            (2, "c", "2024-01-01 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "uuid int, val string, scraped_at string").withColumn(
            "scraped_at", F.col("scraped_at").cast("timestamp")
        )
        df.createOrReplaceTempView("props")
        got = spark.sql(
            """
            SELECT uuid, val FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY uuid
                                           ORDER BY scraped_at DESC) AS rn
              FROM props) WHERE rn = 1 ORDER BY uuid
            """
        ).collect()
        assert [(r.uuid, r.val) for r in got] == [(1, "b"), (2, "c")]
        api = current(df, key="uuid").select("uuid", "val").orderBy("uuid").collect()
        assert [(r.uuid, r.val) for r in api] == [(1, "b"), (2, "c")]


class TestJoinStrategyControl:
    """Join-strategy hints: the engine exposes Catalyst's full strategy
    surface, and each hint actually lands in the physical plan — the knob
    a 100 TB operator reaches for when AQE's default guess is wrong."""

    def _plan(self, spark, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def _sides(self, spark):
        left = spark.range(0, 50_000).selectExpr("id AS k", "id * 2 AS va")
        right = spark.range(0, 5_000).selectExpr("id AS k", "id + 1 AS vb")
        return left, right

    def test_broadcast_hint(self, spark):
        left, right = self._sides(spark)
        plan = self._plan(spark, left.join(right.hint("broadcast"), "k"))
        assert "BroadcastHashJoin" in plan

    def test_merge_hint(self, spark):
        left, right = self._sides(spark)
        plan = self._plan(spark, left.join(right.hint("merge"), "k"))
        assert "SortMergeJoin" in plan

    def test_shuffle_hash_hint(self, spark):
        left, right = self._sides(spark)
        plan = self._plan(spark, left.join(right.hint("shuffle_hash"), "k"))
        assert "ShuffledHashJoin" in plan
