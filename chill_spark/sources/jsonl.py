"""JSONL (newline-delimited JSON) source/sink.

The interchange format of LLM training corpora. Spark's native ``json``
source IS line-delimited JSON: splittable, parallel scan per file
chunk, predicate pushdown on partition columns, corrupt-record capture.
The reference only reads delimited text + Excel (Partrans.py:235-236,
ParseHLD.py:8-49); JSONL belongs to the north-star pipeline surface.

Scale notes:
- ALWAYS pass an explicit schema on read: schema inference runs a full
  extra scan of 100 TB before the real one.
- Corrupt lines go to ``_corrupt_record`` (PERMISSIVE) so one bad line
  doesn't kill a 1000-executor job; quarantine them like the CSV
  reject channel (HlxTools.py:315-350 analog).
- Writes support ``partition_by`` + compression (gzip for interchange,
  none/zstd for rescan-heavy staging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    quarantine_corrupt: bool = True,
) -> DataFrame:
    """Read JSONL with an explicit schema (pass one — see module doc).
    With ``quarantine_corrupt`` the corrupt-record column is declared so
    bad lines surface as rows instead of nulling silently."""
    r = spark.read
    if schema is not None:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if quarantine_corrupt and CORRUPT_COL not in schema.fieldNames():
            schema = schema.add(CORRUPT_COL, "string")
        r = r.schema(schema)
    return (
        r.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
    quarantine_corrupt: bool = True,
) -> DataFrame:
    """Streaming JSONL source (corpus intake): the same explicit-schema
    + corrupt-record contract as ``read_jsonl``, over readStream — so a
    quality-filter/dedup-prep plan runs identically in batch and as a
    continuously-ingesting stream. Schema is REQUIRED (streaming can't
    infer)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if quarantine_corrupt and CORRUPT_COL not in schema.fieldNames():
        schema = schema.add(CORRUPT_COL, "string")
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        r.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad) of a frame read with the corrupt-record column:
    the parsed rows without that column, and the corrupt lines as one
    ``rejected_line`` column (the intakes' quarantine shape). Writes
    nothing. An intake that also rejects parsed rows unions them into
    ``bad`` and makes ONE quarantine write per batch: a second
    batch-keyed write to the same dir would dynamic-overwrite the
    first."""
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("rejected_line")
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return good, bad
