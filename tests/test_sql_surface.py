"""Spark 4 SQL-surface tranche: the UDF must be Catalyst-inlined (JVM
fast path), the pipe query must produce the classic-SQL plan, and no
query built from SQL text leaves a session temp view behind."""

from __future__ import annotations

from kafka_streams_example_spark import registry
from kafka_streams_example_spark.sources import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sql_udf_is_inlined_not_a_python_stage(spark):
    """The SQL UDF body must expand into the plan at analysis time:
    no Python evaluation node, the quantity filter still pushed to the
    parquet scan, and the aggregate map-side partial."""
    df = registry.QUERIES["sql_scalar_udf_revenue"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_quantity" in pushed, pushed
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_pipe_syntax_plans_like_classic_sql(spark):
    """FROM |> WHERE |> AGGREGATE must compile to the same physical
    shape as the classic GROUP BY statement (same aggregate keys, the
    discount range reaching the scan) — the pipe is front-end only."""
    df = registry.QUERIES["pipe_syntax_shipmode_stats"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "l_returnflag" in plan and "l_linestatus" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_discount" in pushed, pushed
    classic = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_quantity), 2) AS total_qty,
               round(avg(l_extendedprice), 6) AS avg_price
        FROM {lineitem}
        WHERE l_discount BETWEEN 0.02 AND 0.08
        GROUP BY l_returnflag, l_linestatus
        """,
        lineitem=load_table(spark, SF_SMOKE, "lineitem"),
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, classic.collect()))


_SQL_TEXT_QUERIES = (
    "contamination_blast_radius",
    "udtf_word_windows",
    "grouping_sets_revenue",
    "approx_top_k_events",
    "lateral_top_orders_per_segment",
    "sql_scalar_udf_revenue",
    "pipe_syntax_shipmode_stats",
    "sql_q6_revenue_delta",
)


def test_sql_text_queries_leave_no_temp_views(spark):
    """A query that reads frames through SQL text passes them as
    ``spark.sql(text, name=df)``, so its build registers no session-global
    view name that a later build or caller could collide with. The builds
    run in a new session of the same context, whose temp views no earlier
    test can have registered."""
    session = spark.newSession()

    def temp_views() -> set[str]:
        return {t.name for t in session.catalog.listTables() if t.isTemporary}

    before = temp_views()
    for name in _SQL_TEXT_QUERIES:
        registry.QUERIES[name](session, SF_SMOKE)
    assert temp_views() == before
