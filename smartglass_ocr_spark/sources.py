"""Sources & sinks for the span corpus (SURVEY.md §2.1 S1-S5).

The canonical storage is parquet/Iceberg, but a 100 TB ingest edge
sees more shapes: JSONL crawl dumps, CSV flat exports. Readers here
pin the schema explicitly — streaming and 10^12-row batch scans must
never pay (or trust) schema inference — and writers round-trip
losslessly (verified in tests).

Bucketing: :func:`write_bucketed` persists a table bucketed by a join
key so later equi-joins/groupBys on that key need NO exchange — the
scan itself is the shuffle (SURVEY.md §4: co-located joins). The
plan-shape test pins the no-Exchange property.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from smartglass_ocr_spark.corpus import DOCS_SCHEMA

FLAT_SCHEMA = "doc_id bigint, text string"


def read_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Span-corpus reader, schema pinned. ``fmt``: parquet | json
    (JSONL, one doc per line). CSV cannot carry the nested spans
    array — use :func:`read_flat_documents` for flat exports."""
    if fmt == "parquet":
        return spark.read.schema(DOCS_SCHEMA).parquet(path)
    if fmt == "json":
        return spark.read.schema(DOCS_SCHEMA).json(path)
    raise ValueError(f"unsupported documents format: {fmt}")


def write_documents(df: DataFrame, path: str, fmt: str = "parquet",
                    mode: str = "overwrite") -> None:
    if fmt == "parquet":
        df.write.mode(mode).parquet(path)
    elif fmt == "json":
        df.write.mode(mode).json(path)
    else:
        raise ValueError(f"unsupported documents format: {fmt}")


def read_flat_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Flat (doc_id, text) reader: parquet | csv | json. CSV uses
    explicit quoting/escaping so embedded newlines survive."""
    if fmt == "parquet":
        return spark.read.schema(FLAT_SCHEMA).parquet(path)
    if fmt == "json":
        return spark.read.schema(FLAT_SCHEMA).json(path)
    if fmt == "csv":
        return (
            spark.read.schema(FLAT_SCHEMA)
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(path)
        )
    raise ValueError(f"unsupported flat format: {fmt}")


def write_flat_documents(df: DataFrame, path: str, fmt: str = "parquet",
                         mode: str = "overwrite") -> None:
    if fmt == "parquet":
        df.write.mode(mode).parquet(path)
    elif fmt == "json":
        df.write.mode(mode).json(path)
    elif fmt == "csv":
        (
            df.write.mode(mode)
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .csv(path)
        )
    else:
        raise ValueError(f"unsupported flat format: {fmt}")


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 16,
                   sort: bool = True) -> None:
    """Persist as a bucketed (+sorted) managed table. Joins and
    groupBys on ``key`` between tables bucketed the same way read
    co-located buckets and skip the exchange entirely — at 100 TB
    this turns the nightly fact-to-fact join from a full shuffle
    into a scan."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # with a session-scoped in-memory catalog the DROP above cannot
    # see tables written by earlier sessions, but their managed
    # location under the warehouse survives and blocks saveAsTable —
    # clear it (an HMS/Iceberg catalog tracks this itself)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    loc = os.path.join(warehouse, table.split(".")[-1].lower())
    if warehouse and os.path.isdir(loc):
        shutil.rmtree(loc)
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
