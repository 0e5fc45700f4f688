"""Schema-enforced CSV ingest with corrupt-record accounting — the
source-format robustness surface.

The reference ingests whatever GDAL can open and trusts the driver to
reject garbage (`gdalos_trans.py` open path); a 100-TB Spark pipeline
ingesting vendor CSV drops must instead parse against a DECLARED schema
in PERMISSIVE mode, route malformed rows to a corrupt-record column,
and account for them — silently nulled fields are how training corpora
rot. `csv_ingest_audit` stages a deterministic CSV copy of `events`
with a known corruption pattern (every event_id % 97 == 13 row carries
a non-numeric value token), parses it back through the real Spark CSV
reader, and reports per-type good/corrupt counts and the exact-cents
sum of the good rows. The oracle computes the same report from the
parquet truth and the corruption rule — certifying that the CSV path
parses, nulls, and flags EXACTLY the declared rows.

Scale: the staged file stands in for the vendor drop; the parse is a
map-only scan (the CSV reader splits by byte range on uncompressed
files) and the report is one partial-aggregated groupBy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gdalos_spark.datamodel import (
    load,
    publish_staged_dir,
    scratch_dir,
    source_fingerprint,
)

CORRUPT_MOD = 97
CORRUPT_REM = 13

_CSV_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("_corrupt_record", StringType()),
    ]
)


def _stage_lines(
    spark: SparkSession, sf_dir: str, kind: str, line_col, ext: str
) -> str:
    """Stage `events` as text lines (`line_col` per row) once per events
    fingerprint, as `part0.<ext>`, `part1.<ext>`, ... under the `kind`
    scratch dir. Publication goes through `publish_staged_dir`: a
    restage builds the new parts in a hidden sibling and swaps it in, so
    a failed restage leaves the published store as it was."""

    def build(d: str) -> None:
        # Spark's own output (and its _SUCCESS/.crc files) stays in
        # publish_staged_dir's temp dir, which is removed after the swap
        spark_out = d + "_spark"
        load(spark, sf_dir, "events").select(line_col.alias("value")).write.text(
            spark_out
        )
        os.makedirs(d)
        parts = sorted(f for f in os.listdir(spark_out) if f.endswith(".txt"))
        for i, f in enumerate(parts):
            os.replace(os.path.join(spark_out, f), os.path.join(d, f"part{i}.{ext}"))

    return publish_staged_dir(
        build,
        scratch_dir(kind, sf_dir),
        source_fingerprint(f"{sf_dir}/events.parquet"),
    )


def _stage_csv(spark: SparkSession, sf_dir: str) -> str:
    """Write events as CSV once per sf_dir: value rendered from the exact
    DECIMAL(18,2) so the double round-trips bit-exactly, ts as epoch
    micros (no timestamp codec in a text format), and the corruption rule
    applied to the value token."""
    bad = (F.col("event_id") % CORRUPT_MOD) == CORRUPT_REM
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.unix_micros("ts").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.when(bad, F.lit("N/A")).otherwise(
            F.col("value").cast("decimal(18,2)").cast("string")
        ),
    )
    return _stage_lines(spark, sf_dir, "gdalos_csv", line, "csv")


def csv_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: rows ingested, rows flagged corrupt by the
    PERMISSIVE parser, the exact-cents sum of the good values cast to
    dollars, plus whole-row coverage stats (id sum, user sum, max epoch
    micros) — the acceptance report a vendor-drop ingest job emits
    before the data is allowed downstream.

    The coverage stats are not decoration: Spark's CSV corrupt-record
    detection only sees the columns the plan actually parses
    (spark.sql.csv.parser.columnPruning), so an audit that reads only
    `_corrupt_record` reports ZERO corruption — the malformed `value`
    token is never tokenized. Referencing every schema column in the
    output forces the full-row parse under any downstream projection of
    the audit, which is exactly what an ingest gate needs."""
    staged = _stage_csv(spark, sf_dir)
    df = (
        spark.read.schema(_CSV_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(staged)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("bigint")).alias("n_corrupt"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(),
                    F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("cents"),
            F.sum("event_id").alias("id_sum"),
            F.sum("user_id").alias("user_sum"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_corrupt",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("good_value_sum"),
            "id_sum",
            "user_sum",
            "max_ts_us",
        )
        .orderBy("event_type")
    )


CSV_INGEST_AUDIT_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % {CORRUPT_MOD} = {CORRUPT_REM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN event_id % {CORRUPT_MOD} = {CORRUPT_REM} THEN 0
                     ELSE CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                END) AS DOUBLE) / 100.0 AS good_value_sum,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(SUM(user_id) AS BIGINT) AS user_sum,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# jsonl_ingest_audit — the JSON-lines twin of the CSV audit
# ---------------------------------------------------------------------------
#
# JSONL is the lingua franca of training-data interchange (every dump in
# export_jsonl_shards' world comes back in through a reader like this).
# Same contract as csv_ingest_audit: declared schema, PERMISSIVE mode,
# corrupt-record column, and an acceptance report that references every
# schema column so the whole row is always parsed.

JSON_CORRUPT_MOD = 89
JSON_CORRUPT_REM = 7


def _stage_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Write events as JSON-lines once per sf_dir: the corruption rule
    truncates the corrupted rows' JSON mid-object (a torn write — the
    failure mode JSONL drops actually exhibit)."""
    bad = (F.col("event_id") % JSON_CORRUPT_MOD) == JSON_CORRUPT_REM
    obj = F.concat(
        F.lit('{"event_id":'), F.col("event_id").cast("string"),
        F.lit(',"ts_us":'), F.unix_micros("ts").cast("string"),
        F.lit(',"user_id":'), F.col("user_id").cast("string"),
        F.lit(',"event_type":"'), F.col("event_type"),
        F.lit('","value":'), F.col("value").cast("decimal(18,2)").cast("string"),
        F.lit("}"),
    )
    line = F.when(bad, F.substring(obj, 1, 25)).otherwise(obj)
    return _stage_lines(spark, sf_dir, "gdalos_jsonl", line, "jsonl")


def jsonl_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: rows ingested, rows flagged corrupt by the
    PERMISSIVE JSON parser (torn objects), exact-cents sum of the good
    values, plus whole-row coverage stats. Unlike the CSV case a torn
    JSON object loses ALL its fields (including event_type), so corrupt
    rows land in a NULL event_type group — which is itself the point
    the report certifies: field-level salvage is a CSV property, not a
    JSON one."""
    staged = _stage_jsonl(spark, sf_dir)
    df = (
        spark.read.schema(_CSV_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staged)
    )
    # a torn object parses to all-NULL fields; give those rows a literal
    # group key (NULL keys don't sort across engines' comparators)
    df = df.withColumn(
        "event_type",
        F.when(F.col("_corrupt_record").isNotNull(), "_corrupt").otherwise(
            F.col("event_type")
        ),
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("bigint")).alias("n_corrupt"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(),
                    F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("cents"),
            F.sum("event_id").alias("id_sum"),
            F.sum("user_id").alias("user_sum"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_corrupt",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("good_value_sum"),
            "id_sum",
            "user_sum",
            "max_ts_us",
        )
        .orderBy("event_type")
    )


JSONL_INGEST_AUDIT_SQL = f"""
WITH tagged AS (
  SELECT *, event_id % {JSON_CORRUPT_MOD} = {JSON_CORRUPT_REM} AS bad FROM events
)
SELECT CASE WHEN bad THEN '_corrupt' ELSE event_type END AS event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN bad THEN 0
                     ELSE CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                END) AS DOUBLE) / 100.0 AS good_value_sum,
       CAST(SUM(CASE WHEN bad THEN NULL ELSE event_id END) AS BIGINT) AS id_sum,
       CAST(SUM(CASE WHEN bad THEN NULL ELSE user_id END) AS BIGINT) AS user_sum,
       CAST(MAX(CASE WHEN bad THEN NULL ELSE epoch_us(ts) END) AS BIGINT) AS max_ts_us
FROM tagged
GROUP BY 1
ORDER BY 1
"""
