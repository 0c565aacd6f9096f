"""``etl_versioned`` — a Spark 4 Python Data Source for the versioned
step layout (``<root>/<step>/v=<N>/``, io.py's R3/R4/R7 model).

A user of the reference reads "the latest version of a step" as a
first-class source; this connector gives that verb to ``spark.read``
itself instead of a helper function:

    spark.dataSource.register(VersionedDataSource)
    df = (spark.read.format("etl_versioned")
          .option("step", "MainLoop").load(root))            # latest
    df = ... .option("version", "3").load(root)              # pinned (R4)
    df.write.format("etl_versioned").option("step", "out").save(root)

Scale design (the part that matters at 100 TB):

- **Planning** resolves the version ONCE on the driver — every task
  reads the same immutable ``v=N`` snapshot (no torn reads if a writer
  commits mid-job).
- **One input partition per parquet row group**, so a 1000-executor
  cluster parallelizes a single large version exactly like the native
  parquet source.
- **Filter pushdown** (``pushFilters``): comparison/null/IN predicates
  are evaluated by pyarrow against row-group statistics first (pruning
  whole groups) and then row-level — Spark re-applies nothing that we
  accept, and everything we decline comes back as a post-scan Filter.
- **Writes are staged then atomically claimed**: tasks write parquet to
  a hidden staging dir, and only the driver-side ``commit`` claims the
  next version number (atomic ``mkdir``, io.py:160-175) and moves files
  in — a failed job leaves no committed version, mirroring the
  reference's cleanup-on-failure semantics (etl.go:90-95, 124-130).
  Paths must live on storage all tasks share (as for any file sink).
- **Each version is a micro-batch**: ``readStream`` on the same format
  tails the step — offsets are version numbers, replay between offsets
  is exact (versions are immutable), so restarts are consistent.

The connector is pure-Python (pyarrow I/O) and therefore NOT the fast
path for bulk scans — ``read_versioned`` (JVM parquet scan) is.  It is
the EXTENSION template: swap the pyarrow calls to read any system Spark
has no native connector for, keeping partition parallelism, pushdown,
and atomic commit.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .io import claim_next_version, latest_version, list_versions

FORMAT_NAME = "etl_versioned"


def _version_dir(root: str, step: str, version: int) -> str:
    return os.path.join(root, step, f"v={version}")


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _open_parquet(path: str):
    """``pq.ParquetFile`` with INT96 timestamps read as microseconds.
    Spark's JVM writer (``io.write_versioned``, ``Pipeline``) stores
    timestamps as INT96, which pyarrow otherwise reads as
    ``timestamp[ns]`` — an Arrow type Spark rejects
    (``UNSUPPORTED_ARROWTYPE``) when the column is scanned."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path, coerce_int96_timestamp_unit="us")


def _reject_partitioned(path: str, step: str) -> None:
    """Fail LOUDLY on a hive-partitioned version (r10 review): this
    connector lists only top-level data files, so a version written
    with ``partition_by`` used to come back as a zero-row, empty-schema
    frame with no error — a silently-empty downstream job.  Partitioned
    versions belong to the native JVM scan (``io.read_versioned``),
    which does partition discovery and pruning; say so instead of
    returning nothing."""
    try:
        entries = os.listdir(path)
    except OSError:
        return
    part_dirs = [
        e
        for e in entries
        if "=" in e
        and not e.startswith(("_", "."))
        and os.path.isdir(os.path.join(path, e))
    ]
    if part_dirs:
        raise ValueError(
            f"etl_versioned: step {step!r} version at {path!r} is "
            f"hive-partitioned ({part_dirs[0]}, ...) — this pure-Python "
            "connector reads flat versions only; use "
            "etl_template_spark.io.read_versioned (native parquet scan "
            "with partition discovery/pruning) for partitioned steps"
        )


def _resolve(options) -> tuple[str, str, int | None]:
    root = options.get("path")
    step = options.get("step")
    if not root or not step:
        raise ValueError(
            "etl_versioned requires .load(<root>) and .option('step', <name>)"
        )
    v = options.get("version")
    return root, step, (int(v) if v is not None else None)


def _arrow_filter(filters: list[Filter]):
    """Translate accepted Spark filters to one pyarrow compute
    expression (conjunction).  Only called with filters ``_supported``
    accepted, so the translation is total."""
    import pyarrow.compute as pc

    expr = None
    for f in filters:
        col = pc.field(f.attribute[0])
        if isinstance(f, EqualTo):
            e = col == f.value
        elif isinstance(f, GreaterThan):
            e = col > f.value
        elif isinstance(f, GreaterThanOrEqual):
            e = col >= f.value
        elif isinstance(f, LessThan):
            e = col < f.value
        elif isinstance(f, LessThanOrEqual):
            e = col <= f.value
        elif isinstance(f, In):
            e = col.isin(list(f.value))
        elif isinstance(f, IsNull):
            e = col.is_null()
        elif isinstance(f, IsNotNull):
            e = ~col.is_null()
        else:  # pragma: no cover - guarded by _supported
            raise AssertionError(f"unsupported filter reached translation: {f}")
        expr = e if expr is None else expr & e
    return expr


def _supported(f: Filter) -> bool:
    return (
        isinstance(
            f,
            (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                LessThan,
                LessThanOrEqual,
                In,
                IsNull,
                IsNotNull,
            ),
        )
        and len(f.attribute) == 1  # top-level columns only, no struct paths
    )


def _rg_can_match(rg_meta, names: list[str], filters: list[Filter]) -> bool:
    """Row-group statistics pruning at PLANNING time (r10 review — the
    module docstring promised it; now it is true): return False only
    when some accepted filter provably matches NO row of the group, so
    the partition is never scheduled.  Conservative by construction:
    pruning decisions use min/max only for plain int/float stats
    (parquet string stats may be truncated; mixed-type comparisons lie)
    and keep the group whenever a column or its statistics are absent.
    Accepted filters are still re-applied row-level at read()."""
    num = (int, float)
    for f in filters:
        try:
            idx = names.index(f.attribute[0])
        except ValueError:
            continue  # filter on a column this file lacks: keep
        col = rg_meta.column(idx)
        stats = col.statistics
        if stats is None:
            continue
        if isinstance(f, IsNull):
            if stats.null_count == 0:  # None (stats absent) ≠ 0: keep
                return False
            continue
        if isinstance(f, IsNotNull):
            # an all-null group (every row null in this column) can
            # never satisfy IsNotNull; null_count None = unknown = keep
            if (
                stats.null_count is not None
                and rg_meta.num_rows > 0
                and stats.null_count == rg_meta.num_rows
            ):
                return False
            continue
        if not (stats.has_min_max and isinstance(stats.min, num) and isinstance(stats.max, num)):
            continue
        lo, hi = stats.min, stats.max
        if isinstance(f, In):
            vals = [v for v in f.value if isinstance(v, num)]
            if len(vals) == len(f.value) and all(v < lo or v > hi for v in vals):
                return False
        elif not isinstance(f.value, num):
            continue
        elif isinstance(f, EqualTo):
            if f.value < lo or f.value > hi:
                return False
        elif isinstance(f, GreaterThan):
            if hi <= f.value:
                return False
        elif isinstance(f, GreaterThanOrEqual):
            if hi < f.value:
                return False
        elif isinstance(f, LessThan):
            if lo >= f.value:
                return False
        elif isinstance(f, LessThanOrEqual):
            if lo > f.value:
                return False
    return True


@dataclass
class RowGroupPartition(InputPartition):
    file: str
    row_group: int


class VersionedReader(DataSourceReader):
    """Batch reader: one partition per parquet row group of the
    resolved immutable version."""

    def __init__(self, root: str, step: str, version: int | None):
        if version is None:
            version = latest_version(root, step)
            if version is None:
                raise FileNotFoundError(
                    f"no versions for step {step!r} under {root!r}"
                )
        self._path = _version_dir(root, step, version)
        if not os.path.isdir(self._path):
            raise FileNotFoundError(f"version dir does not exist: {self._path}")
        _reject_partitioned(self._path, step)
        self._filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]):
        accepted, declined = [], []
        for f in filters:
            (accepted if _supported(f) else declined).append(f)
        self._filters = accepted
        return declined  # Spark re-applies these after the scan

    def partitions(self):
        parts = []
        for f in _parquet_files(self._path):
            md = _open_parquet(f).metadata
            # Full dotted paths, not leaf names: a nested struct leaf can
            # share its NAME with a filtered top-level column (e.g. struct
            # `s.x` vs column `x`), and `names.index("x")` on leaf names
            # would resolve to whichever leaf comes first in parquet
            # schema order — applying the WRONG column's min/max stats
            # and pruning a row group that actually contains matches
            # (silent row loss).  `_supported` admits only single-part
            # attributes, so a path-equality lookup matches exactly the
            # top-level column or nothing (r10 ADVICE).
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                if _rg_can_match(md.row_group(rg), names, self._filters):
                    parts.append(RowGroupPartition(file=f, row_group=rg))
        # an empty committed version still needs one (empty) partition
        return parts or [RowGroupPartition(file="", row_group=-1)]

    def read(self, partition: RowGroupPartition):
        if partition.row_group < 0:
            return iter(())
        pf = _open_parquet(partition.file)
        table = pf.read_row_group(partition.row_group)
        expr = _arrow_filter(self._filters)
        if expr is not None:
            table = table.filter(expr)
        return iter(table.to_batches())


@dataclass
class _Committed(WriterCommitMessage):
    files: list[str] = field(default_factory=list)


class VersionedWriter(DataSourceArrowWriter):
    """Arrow writer: tasks stage parquet files; only the driver-side
    ``commit`` claims a version number and publishes them."""

    def __init__(self, root: str, step: str):
        self._root = root
        self._step = step
        # staging id fixed at plan time so all tasks of this job agree
        self._staging = os.path.join(root, step, f"_staging-{uuid.uuid4().hex}")

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        os.makedirs(self._staging, exist_ok=True)
        tc = TaskContext.get()
        out = os.path.join(
            self._staging, f"part-{tc.partitionId():05d}-{uuid.uuid4().hex}.parquet"
        )
        batches = list(iterator)
        if not batches:
            return _Committed(files=[])
        table = pa.Table.from_batches(batches)
        pq.write_table(table, out)
        return _Committed(files=[out])

    def commit(self, messages):
        version, path = claim_next_version(self._root, self._step)
        n = 0
        for m in messages:
            for f in m.files:
                shutil.move(f, os.path.join(path, os.path.basename(f)))
                n += 1
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(self._staging, ignore_errors=True)


class VersionedStreamReader(SimpleDataSourceStreamReader):
    """Each committed version is one micro-batch; offsets are version
    numbers.  Versions are immutable, so ``readBetweenOffsets`` replays
    exactly and restarts are consistent."""

    def __init__(self, root: str, step: str, starting: str = "latest"):
        self._root = root
        self._step = step
        self._starting = starting

    def initialOffset(self) -> dict:
        if self._starting == "earliest":
            return {"version": -1}  # first batch replays all history
        # default: start AFTER the newest COMMITTED version at stream
        # start — an in-flight claim beyond it is future data, not history
        committed = self._max_committed()
        return {"version": -1 if committed is None else committed}

    def _max_committed(self) -> int | None:
        """Greatest version of the contiguous committed prefix.

        Versions are claimed (dir created) before they are committed
        (_SUCCESS written), so the directory listing can contain a gap:
        v=7 committed, v=8 claimed by an in-flight writer, v=9 committed.
        Advancing the offset past 8 would skip 8's rows forever once its
        writer commits — so the offset only ever moves through the
        contiguous prefix of committed versions (here: 7), and 8/9 are
        delivered together by a later micro-batch once 8 commits.  A
        writer that dies after claiming but before committing stalls the
        stream at its claim until the claim is GC'd (prune_versions),
        which is the correct at-least-once posture: stall loudly rather
        than lose the batch silently."""
        hi: int | None = None
        # committed_only=False: the contiguous-prefix scan must SEE the
        # uncommitted claim to stop before it (the filtered listing
        # would silently skip the hole and lose its rows on commit)
        for v in sorted(list_versions(self._root, self._step, committed_only=False)):
            d = _version_dir(self._root, self._step, v)
            if os.path.isfile(os.path.join(d, "_SUCCESS")):
                hi = v
            else:
                break
        return hi

    def _rows_between(self, lo: int, hi: int) -> list[tuple]:
        # materialized (not a generator): Spark's prefetch cache copies
        # and pickles the returned iterator between planning and commit
        rows: list[tuple] = []
        for v in sorted(vv for vv in list_versions(self._root, self._step) if lo < vv <= hi):
            d = _version_dir(self._root, self._step, v)
            if not os.path.isfile(os.path.join(d, "_SUCCESS")):
                continue  # uncommitted claim — not yet visible
            _reject_partitioned(d, self._step)
            for f in _parquet_files(d):
                for batch in _open_parquet(f).iter_batches():
                    rows.extend(tuple(r.values()) for r in batch.to_pylist())
        return rows

    def read(self, start: dict):
        lo = start["version"]
        committed = self._max_committed()
        hi = lo if committed is None else max(lo, committed)
        return iter(self._rows_between(lo, hi)), {"version": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows_between(start["version"], end["version"]))


class VersionedDataSource(DataSource):
    """See module docstring.  Register per session with
    ``spark.dataSource.register(VersionedDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        root, step, version = _resolve(self.options)
        if version is None:
            version = latest_version(root, step)
        if version is None:
            raise FileNotFoundError(f"no versions for step {step!r} under {root!r}")
        vdir = _version_dir(root, step, version)
        _reject_partitioned(vdir, step)
        files = _parquet_files(vdir)
        if not files:
            return StructType([])
        return from_arrow_schema(_open_parquet(files[0]).schema_arrow)

    def reader(self, schema) -> VersionedReader:
        root, step, version = _resolve(self.options)
        return VersionedReader(root, step, version)

    def writer(self, schema, overwrite: bool) -> VersionedWriter:
        # every write — append or overwrite — creates the NEXT immutable
        # version; history is never mutated (R7 semantics)
        root, step, _ = _resolve(self.options)
        return VersionedWriter(root, step)

    def simpleStreamReader(self, schema) -> VersionedStreamReader:
        root, step, _ = _resolve(self.options)
        starting = self.options.get("startingoffsets", "latest")
        return VersionedStreamReader(root, step, starting)


def register_versioned_source(spark) -> None:
    """Idempotently register the connector on a session."""
    try:
        # runtime-settable; required for pushFilters to be honored on
        # sessions not built by session.get_spark (e.g. the driver's)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(VersionedDataSource)
