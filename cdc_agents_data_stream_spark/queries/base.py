"""Shared helpers for the declared, oracle-checkable queries.

Every query is a ``(spark, sf_dir) -> DataFrame`` callable paired with an
ANSI-SQL oracle string DuckDB runs on the same parquet tables. Cross-engine
hash parity rules used throughout:

- event/order timestamps are emitted as **epoch milliseconds BIGINT**
  (``unix_millis`` / ``epoch_ms``) — parquet stores ns, Spark truncates to
  µs, so raw timestamp values would differ;
- money aggregates are computed in **exact DECIMAL arithmetic** and cast to
  DOUBLE once at the end — float summation order is engine-dependent,
  decimal sums are not;
- ratios/averages are **rounded** to a fixed scale;
- ranks / row numbers / counts are cast to **BIGINT** on both sides;
- every computed column carries the **same alias** in Spark and SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# SQL confs that change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# path -> (file identity, inference confs, schema): one entry per path,
# replaced whole, so concurrent loads read a consistent entry without a lock
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file Spark reads under a
    local ``path`` (its hidden-path rule: a ``.`` or ``_`` prefix, unless
    the name holds ``=``; parquet summary files count), sorted; None when
    ``path`` is not a local file or directory (a URI included)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None

    def visible(n: str) -> bool:
        return not n.startswith((".", "_")) or "=" in n or n in ("_metadata", "_common_metadata")

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if visible(d)]
        for n in filter(visible, files):
            st = os.stat(os.path.join(root, n))
            out.append((os.path.relpath(os.path.join(root, n), path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema Spark inferred once per
    table version. Without a schema Spark runs a footer-inference job on
    every read (34-40 ms per table on a 4-core host; 4-10 ms with the
    schema given). A rewritten table, or a change to an inference conf, is
    inferred again; a path that is not local is inferred on every read."""
    ident = _file_identity(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(path)
    if ident is not None and hit is not None and hit[:2] == (ident, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    if ident is not None:
        _SCHEMAS[path] = (ident, confs, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet, which vanilla Spark
        # rejects outright (PARQUET_TYPE_ILLEGAL). nanosAsLong is a
        # runtime-settable SQL conf, so set it here — the contract must work
        # on ANY caller-supplied session, not only ones built by session.py.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # With nanosAsLong Spark reads ts as a bigint of epoch-nanoseconds.
        # Normalize to a µs-precision timestamp. Oracles must order by
        # epoch_us(ts) so both engines sort at µs precision.
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV — ns values overflow double precision, so no `/`
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # Testdata generations vary in parquet timestamp flavor: ns (handled
    # above), µs-with-UTC (reads as TIMESTAMP), µs-no-tz (reads as
    # TIMESTAMP_NTZ, which unix_millis/datetime arithmetic reject). DuckDB
    # treats the naive values as UTC instants, so re-tag NTZ columns as
    # TIMESTAMP here — sessions run UTC, making the cast an identity re-tag
    # and keeping every downstream query engine-agnostic.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def ms(col_name: str):
    """Epoch-millis BIGINT from a timestamp column; tolerates TIMESTAMP_NTZ
    (session TZ is UTC, so the cast is an identity re-tag)."""
    return F.unix_millis(F.col(col_name).cast("timestamp"))


class Q:
    """A declared query: Spark callable + optional DuckDB oracle SQL."""

    def __init__(self, fn, oracle: str | None, doc: str = ""):
        self.fn = fn
        self.oracle = oracle
        self.doc = doc
