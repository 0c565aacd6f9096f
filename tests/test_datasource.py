"""The ``etl_versioned`` Python Data Source: batch round-trip, version
pinning, row-group partition parallelism, filter pushdown, atomic
commit, and the versions-as-micro-batches stream reader."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_template_spark.datasource import (
    FORMAT_NAME,
    VersionedDataSource,
    register_versioned_source,
)
from etl_template_spark.io import latest_version, list_versions, write_versioned


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_versioned_source(spark)


def _seed(spark, root, step="seed", n=100):
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("bucket"), (F.col("id") * 2.5).alias("x")
    )
    df.write.format(FORMAT_NAME).option("step", step).mode("append").save(root)
    return df


def test_write_then_read_roundtrip(spark, tmp_path):
    root = str(tmp_path)
    df = _seed(spark, root)
    back = (
        spark.read.format(FORMAT_NAME).option("step", "seed").load(root)
    )
    assert sorted(back.columns) == sorted(df.columns)
    assert sorted(r.id for r in back.collect()) == list(range(100))


def test_every_write_creates_next_immutable_version(spark, tmp_path):
    root = str(tmp_path)
    _seed(spark, root, n=10)
    _seed(spark, root, n=20)
    assert list_versions(root, "seed") == [1, 2]
    v0 = (
        spark.read.format(FORMAT_NAME)
        .option("step", "seed").option("version", "1").load(root)
    )
    v1 = (
        spark.read.format(FORMAT_NAME)
        .option("step", "seed").option("version", "2").load(root)
    )
    assert (v0.count(), v1.count()) == (10, 20)
    # unpinned read resolves latest
    assert (
        spark.read.format(FORMAT_NAME).option("step", "seed").load(root).count() == 20
    )


def test_interop_with_jvm_versioned_writer(spark, sf_dir, tmp_path):
    """A version committed by the JVM parquet path (write_versioned) is
    readable through the connector and vice versa — same layout.  The
    JVM writer stores timestamps as INT96; the connector must scan them
    back as the same instants, not just count rows."""
    root = str(tmp_path)
    orders = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .orderBy("o_orderkey")
        .limit(50)
        .withColumn("ts", F.col("o_orderdate").cast("timestamp"))
    )
    write_versioned(orders, root, "orders_step")
    back = (
        spark.read.format(FORMAT_NAME).option("step", "orders_step").load(root)
    )
    assert back.count() == 50
    got = sorted((r["o_orderkey"], r["ts"]) for r in back.select("o_orderkey", "ts").collect())
    want = sorted((r["o_orderkey"], r["ts"]) for r in orders.select("o_orderkey", "ts").collect())
    assert got == want
    # connector-committed version readable by plain parquet scan
    _seed(spark, root, step="py_step", n=5)
    v = latest_version(root, "py_step")
    assert spark.read.parquet(os.path.join(root, "py_step", f"v={v}")).count() == 5


def test_row_group_partitions_parallelize(spark, tmp_path):
    root = str(tmp_path)
    # 8 shuffle partitions → several task files → several input partitions
    spark.range(1000).repartition(8).write.format(FORMAT_NAME).option(
        "step", "wide"
    ).mode("append").save(root)
    back = spark.read.format(FORMAT_NAME).option("step", "wide").load(root)
    assert back.rdd.getNumPartitions() > 1
    assert back.count() == 1000


def test_filter_pushdown_correctness(spark, tmp_path):
    root = str(tmp_path)
    _seed(spark, root)
    back = spark.read.format(FORMAT_NAME).option("step", "seed").load(root)
    got = sorted(
        r.id
        for r in back.where(
            (F.col("bucket") == 3) & (F.col("id") >= 10) & (F.col("id") < 80)
        ).collect()
    )
    want = [i for i in range(10, 80) if i % 7 == 3]
    assert got == want
    # IN + null-check path
    assert (
        back.where(F.col("bucket").isin(0, 6) & F.col("x").isNotNull()).count()
        == sum(1 for i in range(100) if i % 7 in (0, 6))
    )


def test_failed_write_commits_nothing(spark, tmp_path):
    root = str(tmp_path)
    _seed(spark, root, n=10)
    bad = spark.range(10).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.when(F.col("id") < 5, F.col("id") * 1.0)
        .otherwise(F.raise_error("boom"))
        .alias("x"),
    )
    with pytest.raises(Exception, match="boom"):
        bad.write.format(FORMAT_NAME).option("step", "seed").mode("append").save(root)
    # the guarantee: no version was committed by the failed job.  (A
    # cancelled task may recreate its _staging-* dir after driver-side
    # abort() sweeps it — harmless litter: readers match only v=N dirs.)
    assert list_versions(root, "seed") == [1]
    # and the failed job does not perturb subsequent writes or reads
    _seed(spark, root, n=4)
    assert list_versions(root, "seed") == [1, 2]
    assert (
        spark.read.format(FORMAT_NAME).option("step", "seed").load(root).count() == 4
    )


def test_stream_versions_as_microbatches(spark, tmp_path):
    root = str(tmp_path)
    _seed(spark, root, n=3)
    _seed(spark, root, n=4)
    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("step", "seed")
        .option("startingOffsets", "earliest")
        .load(root)
        .writeStream.format("memory")
        .queryName("versioned_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM versioned_stream").collect()[0].n
    assert got == 7  # both historical versions replayed


def test_stream_offset_stops_at_uncommitted_claim(spark, tmp_path):
    """An in-flight writer's claim (dir without _SUCCESS) must HOLD the
    offset: advancing past it would skip the version's rows forever once
    its writer commits.  The offset moves only through the contiguous
    committed prefix, and the held-back versions arrive together in a
    later micro-batch after the claim commits."""
    from etl_template_spark.datasource import VersionedStreamReader

    root = str(tmp_path)
    _seed(spark, root, n=3)  # v=1 committed
    _seed(spark, root, n=4)  # v=2 committed
    claim = os.path.join(root, "seed", "v=3")
    os.makedirs(claim)  # in-flight writer: claimed, not committed
    _seed(spark, root, n=5)  # v=4 committed, beyond the open claim

    r = VersionedStreamReader(root, "seed", "earliest")
    it, off = r.read({"version": -1})
    assert off == {"version": 2}  # held at the committed prefix
    assert len(list(it)) == 7  # v1 + v2 only

    # a second batch before the claim commits delivers nothing new
    it2, off2 = r.read(off)
    assert off2 == {"version": 2} and list(it2) == []

    # latest-mode stream starting now must also begin at the prefix
    assert VersionedStreamReader(root, "seed").initialOffset() == {"version": 2}

    # writer finishes: drop a parquet file + _SUCCESS into the claim
    spark.range(2).write.mode("overwrite").parquet(os.path.join(claim, "part"))
    import glob
    import shutil

    for f in glob.glob(os.path.join(claim, "part", "*.parquet")):
        shutil.move(f, os.path.join(claim, os.path.basename(f)))
    shutil.rmtree(os.path.join(claim, "part"))
    with open(os.path.join(claim, "_SUCCESS"), "w"):
        pass

    it3, off3 = r.read(off2)
    assert off3 == {"version": 4}  # both v3 and v4 released together
    assert len(list(it3)) == 2 + 5


def test_partitioned_version_rejected_loudly(spark, tmp_path):
    """r10 review: a hive-partitioned version used to come back as a
    zero-row, empty-schema frame with NO error (the connector lists
    only top-level files) — a silently-empty downstream job.  It must
    raise and point at the native reader instead."""
    root = str(tmp_path)
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("split")
    )
    write_versioned(df, root, "parted", partition_by=["split"])
    with pytest.raises(Exception, match="hive-partitioned"):
        spark.read.format(FORMAT_NAME).option("step", "parted").load(
            root
        ).collect()


def test_row_group_stats_prune_partitions(spark, tmp_path):
    """r10 review: pushed comparison filters must prune whole row
    groups from the PLAN via parquet min/max statistics (the module
    docstring's claim, now implemented), and the pruned scan must stay
    exact."""
    from etl_template_spark.datasource import VersionedReader, _supported
    from pyspark.sql.datasource import EqualTo, GreaterThan

    root = str(tmp_path)
    # several single-row-group files with disjoint id ranges: filters on
    # id can prove most groups irrelevant from stats alone
    for lo in (0, 1000, 2000, 3000):
        spark.range(lo, lo + 100).coalesce(1).write.format(FORMAT_NAME).option(
            "step", "rg"
        ).mode("append").save(root)
    # the versioned layout keeps each write separate; read merges ONE
    # version only, so build one multi-file version via the JVM writer
    big = spark.range(0, 4000).withColumn(
        "bucket", (F.col("id") / 1000).cast("int")
    ).repartitionByRange(4, "id")
    write_versioned(big, root, "rg4")

    r = VersionedReader(root, "rg4", None)
    all_parts = r.partitions()
    r.pushFilters([GreaterThan(attribute=("id",), value=2999)])
    pruned = r.partitions()
    assert 0 < len(pruned) < len(all_parts), (len(pruned), len(all_parts))
    # and the full read through Spark stays exact
    back = spark.read.format(FORMAT_NAME).option("step", "rg4").load(root)
    assert back.where(F.col("id") > 2999).count() == 1000
    assert back.where(F.col("id") == 1500).count() == 1


def test_nested_leaf_cannot_shadow_filtered_column(spark, tmp_path):
    """r10 ADVICE: stats pruning must key off the parquet leaf's full
    dotted PATH, not its leaf NAME.  With a struct whose leaf shares a
    name with a filtered top-level column and appears FIRST in schema
    order (here ``s.id`` before ``id``), a leaf-name ``names.index``
    would resolve the filter to the struct leaf's min/max and prune a
    row group that actually matches — silent row loss."""
    from etl_template_spark.datasource import VersionedReader
    from pyspark.sql.datasource import GreaterThan

    root = str(tmp_path)
    # struct leaf s.id spans [0, 100); top-level id spans [5000, 5100).
    # A filter id > 4999 matches EVERY row, but s.id's stats (max 99)
    # would "prove" no row matches if the wrong leaf is consulted.
    df = spark.range(100).select(
        F.struct(F.col("id")).alias("s"), (F.col("id") + 5000).alias("id")
    )
    write_versioned(df.coalesce(1), root, "shadow")

    r = VersionedReader(root, "shadow", None)
    all_parts = r.partitions()
    r.pushFilters([GreaterThan(attribute=("id",), value=4999)])
    kept = r.partitions()
    assert len(kept) == len(all_parts), (
        "struct leaf s.id shadowed top-level id: matching row group pruned"
    )
    # and the end-to-end read stays exact
    back = spark.read.format(FORMAT_NAME).option("step", "shadow").load(root)
    assert back.where(F.col("id") > 4999).count() == 100
    # pruning on the real top-level column still works alongside the struct
    r.pushFilters([GreaterThan(attribute=("id",), value=999999)])
    assert r.partitions()[0].row_group == -1  # everything provably pruned
