"""Order-insensitive row digests, checked against the DuckDB oracles.

A query's digest is ``(rows, sum of hi 32 bits, sum of lo 32 bits)`` of a
64-bit hash per row, so it does not depend on row order or partitioning.
The benchmark computes it with one aggregate over the query's DataFrame,
executed again after the timed noop write, so the hashing stays out of the
timed work.  The reference digest comes from the query's DuckDB oracle
SQL: its result is loaded into Spark and hashed by the same expression.

Columns are canonicalised by *kind*, the classes the oracle-differential
test compares on (integers, floats, booleans, strings, dates, timestamps,
nested), taken from the Spark side's types so both sides hash the same
representation: integers as bigint, floats and decimals as double (with
-0.0 folded into 0.0), dates and timestamps as text, nested values as their
string form.  Float comparison is therefore bit-exact, as in that test.

References depend only on the fixture bytes, the oracle SQL and the Spark
output types, so they are cached on disk under those keys.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}


def _kind(dtype: str) -> str:
    dt = dtype.lower()
    if dt in _SPARK_INT:
        return "int"
    if dt in ("float", "double") or dt.startswith("decimal"):
        return "float"
    if dt == "boolean":
        return "bool"
    if dt in ("string", "binary"):
        return "raw"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    return "nested"


def _canon(name: str, dtype: str):
    c = F.col(f"`{name}`")
    kind = _kind(dtype)
    if kind == "int":
        return c.cast("bigint")
    if kind == "float":
        return c.cast("double") + F.lit(0.0)
    if kind == "bool":
        return c.cast("int")
    if kind == "date":
        return c.cast("string")
    if kind == "ts":
        return F.date_format(c.cast("timestamp_ntz"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if kind == "raw":
        return c
    return c.cast(dtype).cast("string")


def _digest_exprs(dtypes: list[tuple[str, str]]):
    parts = []
    for name, dtype in sorted(dtypes, key=lambda nd: nd[0].lower()):
        col = _canon(name, dtype)
        parts += [col, col.isNull()]
    h = F.xxhash64(*parts) if parts else F.lit(0).cast("bigint")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.shiftright(h, 32)), F.lit(0)).alias("hi"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
    ]


def row_digest(df: DataFrame, dtypes: list[tuple[str, str]] | None = None) -> list[int]:
    """``[rows, hi, lo]`` of ``df``, canonicalised by ``dtypes`` (default:
    ``df``'s own)."""
    row = df.agg(*_digest_exprs(df.dtypes if dtypes is None else dtypes)).first()
    return [int(row["rows"]), int(row["hi"]), int(row["lo"])]


class References:
    """Reference digests for one fixture directory, cached in a JSON file."""

    def __init__(self, spark, fixture_dir: str, cache_path: str, fixture_digest: str):
        self._spark = spark
        self._dir = fixture_dir
        self._path = cache_path
        self._fixture_digest = fixture_digest
        self._duck = None
        try:
            with open(cache_path) as fh:
                self._cache = json.load(fh)
        except (OSError, ValueError):
            self._cache = {}
        self._dirty = False

    def _key(self, name: str, oracle: str, dtypes: list[tuple[str, str]]) -> str:
        text = json.dumps([self._fixture_digest, name, oracle, dtypes])
        return hashlib.sha256(text.encode()).hexdigest()

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for f in sorted(os.listdir(self._dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self._dir, f).replace("'", "''")
                    self._duck.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                    )
        return self._duck

    def digest(self, name: str, oracle: str, dtypes: list[tuple[str, str]]) -> list[int]:
        key = self._key(name, oracle, dtypes)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        table = self._duckdb().sql(oracle).arrow()
        table = table.rename_columns([c.lower() for c in table.column_names])
        want = {n.lower() for n, _ in dtypes}
        if set(table.column_names) != want:
            raise AssertionError(
                f"oracle columns {sorted(table.column_names)} != spark columns {sorted(want)}"
            )
        value = row_digest(self._spark.createDataFrame(table), [(n.lower(), t) for n, t in dtypes])
        self._cache[key] = value
        self._dirty = True
        return value

    def save(self) -> None:
        """Close the DuckDB connection and write new digests to the cache."""
        if self._duck is not None:
            self._duck.close()
            self._duck = None
        if not self._dirty:
            return
        tmp = f"{self._path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self._cache, fh)
        os.replace(tmp, self._path)
        self._dirty = False
