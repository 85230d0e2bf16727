"""Batch source/sink surface (SURVEY.md §2.2 sources/sinks table).

Thin, typed wrappers over ``spark.read``/``df.write`` that encode the
scale posture once:

- schemas are explicit (never ``inferSchema`` on a 100 TB CSV);
- parquet writes partition by a column when one is named and target a
  sane file count (repartition before write, so a 1000-executor job
  doesn't emit a million 1 MB files);
- binary blobs come in through ``binaryFile`` with a path-pointer column
  (the multimodal pattern, operators/multimodal.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, columns: Optional[list[str]] = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    *,
    header: bool = True,
    sep: str = ",",
    quote: str = '"',
    escape: str = "\\",
) -> DataFrame:
    """CSV scan with explicit schema (quote/escape options mirror the
    reference's csv_line_reader semantics, config.py:235-280 — applied by
    Spark's reader instead of a char loop)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("sep", sep)
        .option("quote", quote)
        .option("escape", escape)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_binary_files(spark: SparkSession, path: str, glob: Optional[str] = None) -> DataFrame:
    """Blob ingestion: (path, modificationTime, length, content) rows."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    target_files: Optional[int] = None,
) -> None:
    if target_files:
        df = df.repartition(target_files, *(partition_by or []))
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
