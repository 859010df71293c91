"""Sources & sinks (SURVEY §2.1 R1-R7).

The reference reads FASTA/FASTQ files + a tab-delimited genotype table and
writes TSV to stdout (src/sketchy.rs:474,:538-559,:99-101). Spark mappings:
columnar tables in/out, with the genotype TSV reader kept verbatim
(``spark.read.csv(sep='\\t', header=True)``) and the >30k-file stdin
manifest (src/sketchy.rs:137-148) becoming a manifest DataFrame.
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

FILES_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
_ARROW_TYPES = {
    "string": pa.string(), "long": pa.int64(), "double": pa.float64(),
    "array<long>": pa.list_(pa.int64()), "array<int>": pa.list_(pa.int32()),
}


def struct_type(ddl: str) -> StructType:
    """The flat DDL schema ``"name type, ..."`` (types: ``_ARROW_TYPES``)
    as a StructType built in Python, where Spark's parse is a JVM call."""
    fields = [f.split() for f in ddl.split(", ")]
    return from_arrow_schema(
        pa.schema([(name, _ARROW_TYPES[t]) for name, t in fields])
    )


def load_files(spark: SparkSession, path: str) -> DataFrame:
    """R1: scan of the files table (parquet; Iceberg in production —
    `spark.read.format('iceberg').load(...)` is a one-line swap)."""
    return spark.read.schema(FILES_SCHEMA).parquet(path)


def documents_as_files(docs: DataFrame) -> DataFrame:
    """Adapt the driver's documents table to the input_hint shape
    (FIXTURES §6: text->content, synthesize repo/path/commit)."""
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5("text").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def manifest_from_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """R3: file-list manifest (the stdin path-list for >30k files,
    src/sketchy.rs:137-148) as a DataFrame the scan can join/filter on."""
    return spark.createDataFrame([(p,) for p in paths], "path string")


def read_metadata_tsv(spark: SparkSession, path: str) -> DataFrame:
    """R6: genotype-table analogue — tab-delimited, header row, column 0
    is the identifier (docs/index.md:85-91)."""
    df = spark.read.csv(path, sep="\t", header=True)
    first = df.columns[0]
    return df.withColumnRenamed(first, "file_id")


def write_results(df: DataFrame, path: str, partition_by: list[str] | None = None
                  ) -> None:
    """R7: results sink. Partitioning by low-cardinality metadata columns
    (e.g. lang) gives partition pruning to downstream readers."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
