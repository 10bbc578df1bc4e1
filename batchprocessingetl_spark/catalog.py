"""Catalog of named parquet sources.

The reference hard-codes one HDFS path per layer
(``/root/reference/src/raw/raw_layer.py:34``,
``src/staging/staging_layer.py:21``); here the catalog is a thin,
general mapping name -> parquet path under a scale-factor directory,
registered as temp views so both the DataFrame API and ``spark.sql``
see the same tables (SURVEY.md §3.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Session settings that change the types parquet schema inference
# returns for the same file; part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# (abs path, st_mtime_ns, st_size, inference confs) -> inferred schema.
# Inference costs one Spark job per read; a rewritten file changes its
# mtime/size, so it gets a new key and is inferred again, never read
# with a stale schema.
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of this file version under these inference settings.
    A directory dataset (whose files can change under an unchanged
    directory stat) or a non-local path is inferred on every read."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one named table; Catalyst prunes columns and
    pushes predicates into the parquet reader automatically. The
    parquet schema is inferred (one Spark job) on the first load of a
    file version only; later loads pass the cached schema and fire no
    job.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
    only reads as an epoch-nanos long (legacy conf); convert to a
    microsecond timestamp with integer arithmetic (truncation — the
    same ns->us semantics DuckDB applies), keeping the conversion a
    narrow, codegen'd projection."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # timestamp semantics (year()/date_trunc/window) must be
    # timezone-stable even under a caller-owned SparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # a caller-owned vanilla session infers TIMESTAMP_NTZ for
            # micros-precision parquet; epoch functions (unix_micros)
            # require LTZ. Session tz is pinned UTC above, so this cast
            # is value-preserving wall-clock-wise.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view for the SQL entry surface."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
