"""Batch sources (SURVEY.md §2.1 S1-S6).

The reference hand-rolls every scan: JSON-lines via
``textFile().map(json.loads)`` (reference Assignment1/task1.py:17-19),
CSV via header-filter + ``split(',')`` (Assignment2/task1.py:21-35),
headerless numeric CSV (Assignment5/bfr.py:40-43). Here each becomes a
schema-pinned ``spark.read`` so the scan is vectorized, prunable, and
pushdown-capable.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S1: JSON-lines scan with pinned schema (no inference pass —
    one read of the data, deterministic types)."""
    return spark.read.schema(schema).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S2/S3: CSV with header (schema optional) or headerless numeric
    CSV (schema required — never inferSchema in production paths)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif not header:
        raise ValueError("headerless CSV requires an explicit schema")
    else:
        reader = reader.option("inferSchema", "false")  # all-string
    return reader.csv(path)


# (path, st_mtime_ns, st_size) -> the schema Spark inferred for it
_PARQUET_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan whose schema is inferred once per file per process.

    A bare ``spark.read.parquet`` runs a schema-inference job (footer
    reads) on every call. Here the first read of a file infers its
    schema; later reads of the unchanged file (same path, mtime and
    size) pass that schema to the reader and run no job. Types still
    come from the file, so a file rewritten with other columns or types
    is inferred again. The schema is the one inferred under the session
    conf of the first read; ``load_table`` sets ``nanosAsLong`` before
    every ``events`` read. Only a local regular file is memoized: a
    directory's mtime and size miss rewrites of the part files inside
    it, and a path ``os.stat`` cannot see (``hdfs://``, ``s3a://``) is
    inferred on every read.

    ``catalog.TABLES`` is not the batch schema: it is the table-name
    check in ``load_table`` and the schema a file stream over a table
    is read with (streaming sources cannot infer one).
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[key] = df.schema
    return df


def read_chunked_dir(
    spark: SparkSession, paths: list[str], fmt: str = "csv", **options
) -> list[DataFrame]:
    """S4: ordered chunk list (one DataFrame per chunk) for
    incremental algorithms (BFR rounds, reference
    Assignment5/bfr.py:19-21,331-338). Deterministic: caller passes
    the sorted path list. The streaming twin is a file source with
    maxFilesPerTrigger=1 (see streaming/)."""
    return [spark.read.format(fmt).options(**options).load(p) for p in paths]


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan — Spark-native (vectorized reader, predicate
    pushdown, column pruning), the other columnar interchange format
    a large ingest pipeline meets besides parquet. Schema rides in
    the file footer; no inference pass."""
    return spark.read.orc(path)


def read_json_lines_gz(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S1 over gzip: web-scale text corpora ship as *.jsonl.gz; the
    Hadoop codec layer decompresses transparently off the extension,
    so this is read_json_lines with one operational caveat pinned in
    the docstring — gzip is NOT splittable, so one .gz file = one
    task. At 100 TB the parallelism comes from MANY files (the
    standard corpus layout: thousands of shard files), never from
    splitting one; re-shard or recompress (zstd/bzip2) anything
    monolithic before it hits the cluster."""
    return spark.read.schema(schema).json(path)
