"""Scalar function families (SURVEY.md §2B: q_fn_string/date/math/cond/
array/map_json).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
inside whole-stage codegen, no Python in the row loop.  These are the
building blocks the reference's per-record Go closures (etl.go:54-60)
become; a projection over 100 TB is embarrassingly parallel as long as
it stays JVM-side.

Cross-engine notes: libm-backed functions (log, pow, sqrt) can differ
from DuckDB in the last ulp, so their outputs are rounded to 6 decimals
on both sides; integer-returning date parts are cast to INT on the
DuckDB side (DuckDB widens to BIGINT/HUGEINT by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import dec
from ..io import load_table
from ..registry import register


@register(
    "q_fn_string",
    oracle=r"""
    SELECT
      c_custkey,
      'Processed_' || c_name || '_Individually'     AS processedName,
      upper(c_name)                                  AS uname,
      lower(c_mktsegment)                            AS lseg,
      trim('  ' || c_name || ' ')                    AS trimmed,
      substring(c_name, 1, 8)                        AS prefix8,
      CAST(length(c_name) AS INT)                    AS name_len,
      regexp_extract(c_name, '#(\d+)', 1)            AS cust_digits,
      regexp_replace(c_name, '0+', '0', 'g')         AS squeezed,
      CAST(length(string_split(c_name, '0')) AS INT) AS n_zero_splits,
      replace(c_mktsegment, 'MACH', 'MECH')          AS replaced,
      lpad(CAST(c_custkey AS VARCHAR), 12, '0')      AS padded_key
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("function",),
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions, incl. the reference's transform
    ('Processed_<name>_Individually', etl.go:57)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.lit("Processed_"), F.col("c_name"), F.lit("_Individually")).alias(
            "processedName"
        ),
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.length("c_name").alias("name_len"),
        F.regexp_extract("c_name", r"#(\d+)", 1).alias("cust_digits"),
        F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
        F.size(F.split("c_name", "0", -1)).alias("n_zero_splits"),
        F.replace(F.col("c_mktsegment"), F.lit("MACH"), F.lit("MECH")).alias("replaced"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
    )


@register(
    "q_fn_date",
    oracle="""
    SELECT
      o_orderkey,
      CAST(year(o_orderdate) AS INT)                       AS o_year,
      CAST(month(o_orderdate) AS INT)                      AS o_month,
      CAST(day(o_orderdate) AS INT)                        AS o_day,
      CAST(dayofweek(o_orderdate) AS INT) + 1              AS o_dow,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)  AS month_start,
      CAST(o_orderdate AS DATE)                            AS o_date,
      o_orderdate + INTERVAL 30 DAY                        AS due_ts,
      CAST(date_diff('day', CAST(o_orderdate AS DATE),
                     DATE '2000-01-01') AS INT)            AS days_to_y2k,
      CAST(epoch(o_orderdate) AS BIGINT)                   AS epoch_s,
      strftime(o_orderdate, '%Y-%m')                       AS ym
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("function",),
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions: parts, truncation, interval arithmetic,
    day-diff, epoch, formatting. (DuckDB's dayofweek is 0-based Sunday;
    Spark's is 1-based — oracle adds 1.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.dayofweek("o_orderdate").alias("o_dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("o_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_y2k"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)), 2) AS DOUBLE) AS net_price,
      abs(l_discount - 0.05)                              AS disc_dev,
      CAST(ceil(l_extendedprice / 1000) AS BIGINT)        AS price_kilo_ceil,
      CAST(floor(l_quantity / 7) AS BIGINT)               AS qty_bucket,
      round(power(l_quantity, 2), 6)                      AS qty_sq,
      round(ln(l_extendedprice + 1), 6)                   AS log_price,
      round(sqrt(l_quantity), 6)                          AS qty_sqrt,
      CAST(l_quantity AS INT) % 5                         AS qty_mod,
      greatest(l_discount, l_tax)                         AS max_rate,
      CAST(sign(l_discount - 0.05) AS DOUBLE)             AS disc_sign
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("function",),
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions; libm-backed outputs rounded to 6 decimals so both
    engines agree bit-for-bit (see module docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(dec("l_extendedprice * (1 - l_discount)"), 2)
        .cast("double")
        .alias("net_price"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_kilo_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        (F.col("l_quantity").cast("int") % 5).alias("qty_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@register(
    "q_fn_cond",
    oracle="""
    SELECT
      o_orderkey,
      CASE WHEN o_totalprice > 300000 THEN 'high'
           WHEN o_totalprice > 100000 THEN 'mid'
           ELSE 'low' END                                    AS price_tier,
      coalesce(nullif(o_orderstatus, 'P'), 'PENDING')        AS status_norm,
      least(o_totalprice, 250000.0)                          AS capped_price,
      greatest(o_totalprice - 250000.0, 0.0)                 AS overflow,
      CASE WHEN o_orderpriority LIKE '1-%'
             OR o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END AS is_priority
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("function",),
)
def q_fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions: CASE WHEN, coalesce/nullif, least/greatest."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("capped_price"),
        F.greatest(F.col("o_totalprice") - 250000.0, F.lit(0.0)).alias("overflow"),
        F.when(
            F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"), 1
        )
        .otherwise(0)
        .alias("is_priority"),
    )


@register(
    "q_fn_array",
    oracle="""
    SELECT
      vec_id,
      CAST(length(embedding) AS INT)                                        AS dim,
      embedding[1]                                                          AS e_first,
      embedding[64]                                                         AS e_last,
      round(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)       AS sq_norm,
      round(CAST(list_max(embedding) AS DOUBLE), 6)                         AS e_max,
      CAST(length(list_filter(embedding, x -> x > 0)) AS INT)               AS n_pos
    FROM embeddings
    ORDER BY vec_id
    """,
    tags=("function", "array"),
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over array<float>: size, element access, and
    higher-order transform/filter/aggregate (JVM-side lambda functions —
    the scale path for vector columns, no Python round-trip)."""
    e = load_table(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("e_first"),
        F.element_at("embedding", 64).alias("e_last"),
        F.round(sq_norm, 6).alias("sq_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("e_max"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@register(
    "q_fn_map_json",
    oracle="""
    SELECT
      event_id,
      json_extract_string(props, '$.k')                    AS k_str,
      CAST(json_extract(props, '$.k') AS INT)              AS k_int,
      CASE WHEN CAST(json_extract(props, '$.k') AS INT) >= 50
           THEN 'hi' ELSE 'lo' END                         AS k_bucket
    FROM events
    ORDER BY event_id
    """,
    tags=("function", "json"),
)
def q_fn_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: parse the JSON ``props`` string with
    get_json_object (path probe) and from_json (typed struct)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.when(parsed.getField("k") >= 50, "hi").otherwise("lo").alias("k_bucket"),
    )
