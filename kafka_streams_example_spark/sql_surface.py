"""Spark 4 SQL surface: SQL scalar UDFs and pipe syntax.

- sql_scalar_udf_revenue:  a CREATE TEMPORARY FUNCTION ... RETURN
                           scalar SQL UDF used inside an aggregate —
                           unlike Python UDFs, Catalyst inlines the body
                           into the plan (whole-stage codegen, pushdown
                           intact), so user-defined business logic stays
                           on the JVM fast path.
- pipe_syntax_shipmode_stats: the same relational logic written in
                           Spark 4's SQL pipe syntax (FROM ... |> WHERE
                           ... |> AGGREGATE) — surface parity for the
                           new composition style.

Scale notes: both compile to the exact plans their classic-SQL
equivalents produce (scan -> filter -> partial/final hash aggregate);
the pipe operator and the SQL UDF are purely front-end constructs and
leave no runtime artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_example_spark.registry import register
from kafka_streams_example_spark.sources.files import load_table

# --------------------------------------------------------------------------
# sql_scalar_udf_revenue — Catalyst-inlined SQL UDF
# --------------------------------------------------------------------------


@register(
    "sql_scalar_udf_revenue",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
           AS gross_revenue
FROM lineitem
WHERE l_quantity >= 5
GROUP BY l_returnflag
""",
)
def sql_scalar_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag gross revenue computed through a scalar SQL UDF
    (CREATE TEMPORARY FUNCTION ... RETURN expr, Spark 4). The oracle
    inlines the identical expression — and so does Catalyst: the UDF
    body is expanded at analysis time, keeping whole-stage codegen and
    scan pushdown intact (the property row-at-a-time Python UDFs lose).

    100 TB shape: identical to the hand-inlined query — one scan with
    the quantity filter pushed down, map-side partial aggregation on a
    3-value key."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gross_rev(p DOUBLE, d DOUBLE, t DOUBLE)"
        " RETURNS DOUBLE RETURN p * (1.0 - d) * (1.0 + t)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(gross_rev(l_extendedprice, l_discount, l_tax)), 2)
                   AS gross_revenue
        FROM {lineitem}
        WHERE l_quantity >= 5
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# pipe_syntax_shipmode_stats — Spark 4 SQL pipe syntax
# --------------------------------------------------------------------------


@register(
    "pipe_syntax_shipmode_stats",
    """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_quantity), 2) AS total_qty,
       round(avg(l_extendedprice), 6) AS avg_price
FROM lineitem
WHERE l_discount BETWEEN 0.02 AND 0.08
GROUP BY l_returnflag, l_linestatus
""",
)
def pipe_syntax_shipmode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q1-style summary written in Spark 4's SQL pipe syntax
    (FROM |> WHERE |> AGGREGATE ... GROUP BY) — surface parity for the
    pipelined composition style; the oracle is the classic-SQL
    equivalent and Catalyst produces the identical plan for both.

    100 TB shape: scan with the discount range pushed down, map-side
    partial aggregation on a low-cardinality composite key."""
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_discount BETWEEN 0.02 AND 0.08
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
                     round(sum(l_quantity), 2) AS total_qty,
                     round(avg(l_extendedprice), 6) AS avg_price
           GROUP BY l_returnflag, l_linestatus
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )
