"""Table catalog over the Parquet star schema.

The engine's storage layer is Parquet-backed DataFrames (replacing the
reference's Postgres tables + JDBC scans,
/root/reference/dags/spark_script_sinasc.py:23-25).  Loading is lazy and
column-pruned/filter-pushed by Catalyst; at cluster scale the same call
works on a partitioned table directory.

Every warehouse and catalog table is read through :func:`read_table`.  A
bare ``spark.read.parquet(path)`` infers the schema from the file footers
with a Spark job of its own (~150-210 ms), on every call; ``read_table``
infers it once per table version and then reads with the declared schema,
which starts no job.
"""

from __future__ import annotations

import os
import posixpath
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

# Driver-generated synthetic star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_T = TypeVar("_T")

# (path, key) -> (stamp, value), the newest table version's only.  Process-
# wide: every engine session sets the same Parquet read confs (session.py).
# Two callers racing on one entry at worst both compute it; an entry stored
# under an older stamp is recomputed on the next call.
_MEMO: dict[tuple[str, str], tuple[tuple[int, int], object]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    """A local table's version: (inode, mtime) of its file or directory.

    Every Spark write to a table directory (overwrite, append, dynamic
    partition overwrite) adds or removes entries at its top level, which
    moves its mtime; a table swapped in by rename is a new inode.  Remote
    paths, globs and missing paths have no stamp."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns


def memo_on_stamp(path: str, key: str, compute: Callable[[], _T]) -> _T:
    """``compute()`` once per version of the table at ``path``; every time
    for a path without a stamp.

    Only a table's metadata or values derived from a small dimension belong
    here, never a DataFrame: a file listing must stay per call so that a
    reader sees each new ``dt=`` day."""
    stamp = _stamp(path)
    if stamp is None:
        return compute()
    hit = _MEMO.get((path, key))
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = compute()
    _MEMO[(path, key)] = (stamp, value)
    return value


def read_table(spark: SparkSession, *path: str) -> DataFrame:
    """Read the Parquet table at ``posixpath.join(*path)``, inferring its
    schema once per table version (:func:`memo_on_stamp`); the files are
    still listed on every call.  A remote or missing path is read as
    before, so it raises what ``spark.read.parquet`` raises."""
    p = posixpath.join(*path)
    if _stamp(p) is None:
        return spark.read.parquet(p)
    schema = memo_on_stamp(p, "schema", lambda: spark.read.parquet(p).schema)
    return spark.read.schema(schema).parquet(p)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = read_table(spark, sf_dir, f"{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong=true it arrives
    # as nanos-since-epoch.  Truncate to micros (DuckDB does the same).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_compute(df: DataFrame) -> DataFrame:
    """Re-spread a narrow scan before compute-heavy per-row work.

    Parquet files with a single row group cannot be split, so a small file
    scans as ~1 task no matter how many cores exist — and any expensive
    per-row expression chain (n-gram hashing, signature computation)
    serializes behind it.  When the scan yields fewer partitions than the
    cluster's parallelism, shuffle the (tiny) rows across all cores first;
    when the input is already wide — every real multi-file/multi-row-group
    table at scale — this is a no-op, so the operator keeps its
    shuffle-free plan on a 1000-executor cluster.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
