"""Source / sink operators (SURVEY.md §2B: q_scan_*, q_sink_versioned).

Reference parity: R1 (JSONL scan with declared schema, FAILFAST —
tools.go:516-552), R3/R4/R7 (versioned datasets — tools.go:343-444).

The JSONL/CSV fixtures are derived deterministically from the parquet
tables into a scratch dir, so the DuckDB oracle can state the same
result directly over the parquet views — the comparison then proves the
round-trip through the text format is lossless.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import dec
from ..io import load_table, read_csv, read_jsonl, read_versioned, write_versioned
from ..registry import register

_SCRATCH = os.path.join(tempfile.gettempdir(), "etl_template_spark_fixtures")


def _scratch(sf_dir: str, table: str, name: str) -> str:
    """Scratch path for a derived text fixture, keyed by a content
    fingerprint (mtime_ns + size) of the source parquet — a regenerated
    fixture gets a fresh path instead of silently reusing stale data,
    and two sf roots sharing a basename can't collide."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(_SCRATCH, f"{tag}-{st.st_mtime_ns:x}-{st.st_size:x}", name)


def _derived_ready(path: str) -> bool:
    # Spark's commit protocol writes _SUCCESS last; its presence means a
    # complete committed write (a concurrent or crashed writer leaves none).
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


@register(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 45
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("source",),
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan: the projection and predicate both reach the
    scan node (ReadSchema carries 4 of 11 columns, PushedFilters carries
    the quantity bound) — verified in tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .where(F.col("l_quantity") >= 45)
    )


@register(
    "q_scan_jsonl",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 0
    ORDER BY c_custkey
    """,
    tags=("source",),
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL scan with declared schema + FAILFAST (reference R1 semantics,
    tools.go:516-552: typed records, die on first malformed line).

    The fixture is derived from ``customer`` once per scale factor; the
    oracle reads the parquet view directly, so a match proves the JSONL
    round-trip (including shortest-repr doubles) is lossless."""
    path = _scratch(sf_dir, "customer", "customer_jsonl")
    if not _derived_ready(path):
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        ).write.mode("overwrite").json(path)
    schema = "c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string"
    df = read_jsonl(spark, path, schema, mode="FAILFAST")
    return df.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment").where(
        F.col("c_acctbal") > 0
    )


@register(
    "q_scan_csv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("source",),
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with header + declared schema (never inferSchema)."""
    path = _scratch(sf_dir, "nation", "nation_csv")
    if not _derived_ready(path):
        load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
            "header", "true"
        ).csv(path)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    return read_csv(spark, path, schema, header=True)


@register(
    "q_scan_orc",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    WHERE s_acctbal > 1000
    ORDER BY s_suppkey
    """,
    tags=("source",),
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (columnar alternative to parquet; same pushdown/pruning
    machinery).  Fixture derived once from ``supplier``; the oracle reads
    the parquet view, so a match proves the ORC round-trip is lossless."""
    path = _scratch(sf_dir, "supplier", "supplier_orc")
    if not _derived_ready(path):
        load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .where(F.col("s_acctbal") > 1000)
    )


@register(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders
    WHERE year(o_orderdate) = 1997
    ORDER BY o_orderkey
    """,
    tags=("sink", "source"),
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned dataset: write orders partitioned by
    year, read back ONE partition.  The year filter prunes at the
    directory level (PartitionFilters in the scan node — zero IO for
    other years), which is the layout discipline that matters most at
    100 TB: partition by the dominant filter key.  Oracle reads the
    unpartitioned parquet with the same predicate — a match proves the
    partitioned round-trip preserves content."""
    path = _scratch(sf_dir, "orders", "orders_by_year")
    if not _derived_ready(path):
        load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        ).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_year"
        ).write.mode("overwrite").partitionBy("o_year").parquet(path)
        # partitionBy writes no _SUCCESS in subdirs; root has it
    return (
        spark.read.parquet(path)
        .where(F.col("o_year") == 1997)
        .select("o_orderkey", "o_custkey", "o_totalprice", F.col("o_year").cast("int"))
    )


@register(
    "q_sink_versioned",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("sink",),
)
def q_sink_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned sink + latest-version read-back (R3/R7, tools.go:343-444).

    Writes ``supplier`` twice under ``output/<step>/v=N`` (atomic mkdir
    claim, fixing the reference's list-then-increment race) and returns
    the latest read-back.  The oracle reads the SOURCE parquet — a hash
    match proves the full sink → latest-resolution → scan round-trip is
    lossless AND that v=2 (the full table) superseded the filtered v=1;
    a stale latest-version resolution would surface as missing rows."""
    root = tempfile.mkdtemp(prefix="etl_versioned_")
    sup = load_table(spark, sf_dir, "supplier")
    write_versioned(sup.where(F.col("s_suppkey") % 2 == 0), root, "suppliers")
    write_versioned(sup, root, "suppliers")  # v=2 supersedes
    return read_versioned(spark, root, "suppliers").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@register(
    "q_scan_pyds",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE n_regionkey = 2
    ORDER BY n_nationkey
    """,
    tags=("source",),
)
def q_scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source scan (datasource.py): ``nation`` is
    committed once through the ``etl_versioned`` connector's atomic
    version-claim writer, then read back through its row-group-parallel
    reader with the region predicate PUSHED into the connector
    (pyarrow evaluates it before rows reach Spark).  Oracle reads the
    original parquet — a match proves the connector round-trip and its
    pushdown are lossless."""
    from ..datasource import FORMAT_NAME, register_versioned_source
    from ..io import latest_version

    register_versioned_source(spark)
    root = _scratch(sf_dir, "nation", "nation_versioned")
    if latest_version(root, "nation") is None:
        load_table(spark, sf_dir, "nation").write.format(FORMAT_NAME).option(
            "step", "nation"
        ).mode("append").save(root)
    return (
        spark.read.format(FORMAT_NAME)
        .option("step", "nation")
        .load(root)
        .where(F.col("n_regionkey") == 2)
    )


@register(
    "q_scan_text",
    oracle="""
    SELECT text AS value,
           length(string_split(text, ' ')) AS n_tokens
    FROM documents
    ORDER BY value
    """,
    tags=("source", "llm"),
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-lines source (``spark.read.text``): one row per line,
    single ``value`` column — the entry format of most web-scale
    training corpora (one document per line, metadata joined later by
    content hash).  Fixture derived from ``documents.text`` once per
    scale factor; the oracle reads the parquet view, so a match proves
    the text round-trip is byte-lossless.  Line-splitting parallelizes
    by HDFS-style byte ranges, so a single huge file still fans out
    across executors."""
    path = _scratch(sf_dir, "documents", "documents_txt")
    if not _derived_ready(path):
        load_table(spark, sf_dir, "documents").select("text").write.mode(
            "overwrite"
        ).text(path)
    return spark.read.text(path).select(
        "value",
        F.size(F.split("value", " ", -1)).alias("n_tokens"),
    )


@register(
    "q_compact_versioned",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("sink", "etl"),
)
def q_compact_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end (io.py::compact_versioned):
    ``supplier`` is committed as a deliberately fragmented version
    (16 files), compacted into a new sorted version, and read back.
    The oracle reads the original parquet — a match proves compaction
    is lossless; tests/test_io.py additionally asserts the file-count
    and clustered-layout (row-group min/max) properties."""
    from ..io import compact_versioned

    root = tempfile.mkdtemp(prefix="etl_compact_")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    write_versioned(sup.repartition(16), root, "suppliers")
    compact_versioned(spark, root, "suppliers", sort_by=["s_suppkey"])
    return read_versioned(spark, root, "suppliers")


@register(
    "q_sink_zorder",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    ORDER BY l_orderkey, l_partkey, l_linenumber
    """,
    tags=("sink", "etl"),
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered versioned write + read-back (layout.py): lineitem is
    clustered on the interleaved (l_orderkey, l_partkey) Morton value,
    range-sorted, committed, and read back.  The oracle reads the
    source parquet — a match proves the re-layout is lossless;
    tests/test_io.py asserts the physical property (row-group min/max
    pruning effective on BOTH dimensions)."""
    from ..layout import Z_COL, with_zorder

    root = tempfile.mkdtemp(prefix="etl_zorder_")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    z = with_zorder(li, ["l_orderkey", "l_partkey"], bits=16)
    write_versioned(z, root, "li_z", sort_by=[Z_COL], sort_partitions=8)
    return read_versioned(spark, root, "li_z").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


@register(
    "q_delete_versioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey % 100 != 0
    ORDER BY o_orderkey
    """,
    tags=("sink", "etl"),
)
def q_delete_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted delete end-to-end (io.py::delete_versioned — the
    right-to-be-forgotten shape): ``orders`` is committed, every row of
    the customers with ``o_custkey % 100 == 0`` is deleted via one
    anti-join rewrite into a NEW immutable version, and the survivor
    set is read back.  The oracle states the complement directly over
    the source — a match proves the rewrite deleted exactly the
    requested keys and nothing else (the prior version keeps the full
    data for audit; tests/test_io.py asserts that immutability)."""
    from ..io import delete_versioned

    root = tempfile.mkdtemp(prefix="etl_delete_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_versioned(o, root, "orders")
    doomed = o.select("o_custkey").where(F.col("o_custkey") % 100 == 0)
    delete_versioned(spark, root, "orders", doomed, on="o_custkey")
    return read_versioned(spark, root, "orders")


@register(
    "q_scan_versioned_merged",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal,
           CAST(NULL AS DOUBLE) AS acctbal_eur,
           1 AS _version
    FROM supplier
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal,
           CAST(round(CAST(s_acctbal AS DECIMAL(30, 6)) * 0.9, 2) AS DOUBLE)
             AS acctbal_eur,
           2 AS _version
    FROM supplier
    ORDER BY _version, s_suppkey
    """,
    tags=("source", "etl"),
)
def q_scan_versioned_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution across versions
    (io.py::read_versioned_merged): v=1 is written with the original
    supplier columns, v=2 with a new ``acctbal_eur`` column; the merged
    read unions the schemas (old rows null-fill the new column) and
    exposes ``_version`` for directory-level pruning.  The oracle
    states the union explicitly — a match proves no column is dropped,
    no row is double-read, and old data surfaces under the evolved
    schema exactly as NULLs."""
    root = tempfile.mkdtemp(prefix="etl_evolve_")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    write_versioned(sup, root, "suppliers")
    write_versioned(
        sup.withColumn(
            "acctbal_eur",
            F.round(dec("s_acctbal") * F.lit("0.9").cast("decimal(3,1)"), 2).cast("double"),
        ),
        root,
        "suppliers",
    )
    from ..io import read_versioned_merged

    return read_versioned_merged(spark, root, "suppliers").select(
        "s_suppkey", "s_name", "s_acctbal", "acctbal_eur",
        F.col("_version").cast("int").alias("_version"),
    )
