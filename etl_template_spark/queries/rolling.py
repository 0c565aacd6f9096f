"""q_rolling_stats — event-time RANGE-frame rolling statistics (round
8): per-customer 7-day rolling spend over the daily order series.

The existing window family frames by ROWS (q_win_frame) — physical
neighbors — which silently lies on sparse series: "the last 7 rows"
spans months for a customer who orders rarely.  The time-series answer
is a RANGE frame keyed by EVENT TIME: every output row aggregates
exactly the trailing 7 calendar days, however many rows that is.  Both
engines order by an integer epoch-day so the frame bound (``RANGE
BETWEEN 6 PRECEDING AND CURRENT ROW``) means the same thing — Spark's
``rangeBetween`` is numeric, DuckDB would otherwise need an INTERVAL
bound, and the integer key makes the two provably identical.

Scale shape: one date-grained hash aggregate over the fact table
(partial map-side combine into |customers × active days| groups), then
windows partitioned BY CUSTOMER — thousands of small independent
partitions, no global sort, no self-join (the naive formulation is a
range self-join; the window form does it in one pass per partition).
Rolling sums route through decimal(30,6) so the trailing-window
accumulation order never changes a bit.

Reference parity: no window surface exists in the reference (SURVEY
§2A); declared engine surface per §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import dec, dsum
from ..io import load_table
from ..registry import register


@register(
    "q_rolling_stats",
    oracle="""
    WITH daily AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS epoch_day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS spend
      FROM orders GROUP BY 1, 2, 3)
    SELECT o_custkey, d, spend,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
           CAST(SUM(CAST(spend AS DECIMAL(30,6))) OVER w AS DOUBLE) AS roll_sum,
           round(CAST(SUM(CAST(spend AS DECIMAL(30,6))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 6) AS roll_avg
    FROM daily
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "window"),
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-7-day order spend (count / sum / mean) at
    daily grain — the moving-aggregate feature every churn/LTV feature
    pipeline computes, framed by event time so gaps count as gaps."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.withColumn("d", F.col("o_orderdate").cast("date"))
        .groupBy(
            "o_custkey",
            "d",
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias(
                "epoch_day"
            ),
        )
        .agg(dsum("o_totalprice").alias("spend"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    # dsum is a grouped aggregate; the WINDOW applies the same decimal
    # discipline inline (sum of decimal casts, cast back to double)
    roll_sum = F.sum(dec("spend")).over(w).cast("double")
    roll_n = F.count(F.lit(1)).over(w).cast("bigint")
    return daily.select(
        "o_custkey",
        "d",
        "spend",
        roll_n.alias("roll_n"),
        roll_sum.alias("roll_sum"),
        F.round(roll_sum / roll_n, 6).alias("roll_avg"),
    )
