"""Batch file sources.

Reference: modules/affile (file()/wildcard-file()/stdin/pipe drivers).
All of those deliver raw lines; in Spark that's ``spark.read.text`` with
glob paths. wildcard-file(recursive(yes)) matches its filename-pattern
in every subdirectory of base-dir, which a glob cannot say: see
``recursive_reader``.
Columnar formats (parquet) are first-class here because at 100 TB the
engine's own storage should be columnar, not line-oriented.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def recursive_reader(reader, path: str):
    """wildcard-file(recursive(yes)) on a batch or stream reader: `path`
    is base-dir/filename-pattern, and every file under base-dir whose
    NAME matches the pattern is read, at any depth (modules/affile
    wildcard-file monitors each subdirectory). Returns (reader, path
    to load). Reading the glob itself with recursiveFileLookup would
    only descend into subdirectories whose own names match."""
    base, pattern = os.path.split(path)
    reader = reader.option("recursiveFileLookup", "true").option("pathGlobFilter", pattern)
    return reader, base


def text_lines(spark: SparkSession, path: str, recursive: bool = False) -> DataFrame:
    """file()/wildcard-file() — one row per line in column `raw`."""
    reader = spark.read
    if recursive:
        reader, path = recursive_reader(reader, path)
    return reader.text(path).withColumnRenamed("value", "raw")


def parquet_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def csv_table(spark: SparkSession, path: str, schema: str | None = None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def json_table(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the benchmark tables from a scale-factor directory."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


def mbox_messages(
    df,
    line_col: str = "raw",
    order_col: str = "line_no",
    group_col: str | None = None,
):
    """mbox() source (reference: scl/mbox/mbox.conf): a mailbox file
    read with multi-line-mode(prefix-suffix) and
    multi-line-prefix('^From ') — every 'From ' envelope line starts a
    new message, everything up to the next one is its body. The conf
    is a parameterization of the file source; here it is the same
    parameterization of the multiline reassembler (one row per mail,
    newline-joined)."""
    from syslog_ng_spark.operators.multiline import reassemble_multiline

    return reassemble_multiline(
        df,
        line_col=line_col,
        order_col=order_col,
        group_col=group_col,
        mode="prefix",
        prefix=r"^From ",
    )
