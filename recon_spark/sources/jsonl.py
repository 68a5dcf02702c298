"""JSONL ingestion — the arrival format of most raw web-corpus drops
(Common Crawl derivatives, Dolma shards, API exports) before a pipeline
parquet-izes them. Spark-native: ``spark.read.json`` with an EXPLICIT
schema (never inference — a schema-inference pass reads the whole 100 TB
input twice and silently unions drifting shards), PERMISSIVE mode, and a
corrupt-record audit column so bad lines are COUNTED and quarantined
instead of silently dropped (DROPMALFORMED) or killing the job
(FAILFAST).

The one Spark gotcha this module encapsulates: a query that references
ONLY the corrupt-record column raises AnalysisException by design
(since Spark 2.3 — the raw-record column is populated during parsing,
so filtering on it alone would let Spark skip parsing entirely and
return nothing). The split/audit helpers keep a data column in every
such plan, which is the documented recipe.

Scale shape: one line-splittable text scan (gzip shards are the usual
non-splittable caveat — prefer zstd/uncompressed for parallel ingest);
schema projection happens in the parser, so unreferenced JSON fields
cost parse time but no memory downstream. Compose with
``sinks.compact`` for the parquet-ization landing step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import staging

CORRUPT_COL = "_corrupt_record"


def jsonl_schema_with_corrupt(schema: T.StructType) -> T.StructType:
    """The user schema + the corrupt-record capture column."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema-enforced PERMISSIVE JSONL scan: well-formed lines parse
    into the schema (missing fields -> NULL, extra fields ignored);
    malformed lines yield a row with every schema field NULL and the
    raw line captured in ``_corrupt_record``.

    The returned frame is staged (:mod:`recon_spark.staging`): Spark
    refuses any query whose referenced columns are only the internal
    corrupt-record column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    unless the parsed result is cached first, and the split/audit
    helpers are exactly such queries."""
    return staging.stage(
        spark.read.schema(jsonl_schema_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_jsonl(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows with the audit column dropped,
    and the quarantined raw lines ``(raw_line)`` for a bad-records
    sink. Both plans keep data columns alongside the corrupt column
    (the Spark corrupt-record-only-reference restriction)."""
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, bad


def jsonl_audit(df: DataFrame) -> DataFrame:
    """1-row ingest report: total lines, corrupt lines, corrupt-rate
    micros — the accept/reject number before promoting a drop to the
    corpus. One aggregate pass."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(F.col(CORRUPT_COL)).cast("long").alias("n_corrupt"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(
                F.count(F.col(CORRUPT_COL)).cast("double")
                / F.count(F.lit(1))
                * 1_000_000.0
            ).cast("long"),
        ).alias("corrupt_rate_micros"),
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL sink (one object per line) — the round-trip partner, for
    pipelines that hand corpora back to JSONL-consuming tools."""
    df.write.mode(mode).json(path)
