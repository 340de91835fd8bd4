"""End-to-end landmarks pipeline: the reference's bronze→silver ingest
followed by the analytics its lake exists for (SURVEY §7 Phase 1).

The reference stops at writing massaged CSV back to S3
(CSVIngest.java:253-269); the analytics tier (Athena/Glue-style SQL over
the processed zone) is implied but absent. This module is that tier:
ingest the raw CSV once, then run typed SQL over the partitioned silver
parquet — including parsing the reference's string-typed dates
(`06/29/1999 12:00:00 AM +0000`, testData.csv:2) into real timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_landmarks_datalake_spark.ingest.csv_ingest import ingest_csv
from nyc_landmarks_datalake_spark.schema.sidecar import partition_keys

#: the reference fixture's date format (FIXTURES.md §1)
LANDMARKS_DATE_FMT = "M/d/yyyy h:mm:ss a Z"


def ingest_landmarks(
    spark: SparkSession,
    csv_path: str,
    sidecar_path: str,
    silver_dir: str,
) -> DataFrame:
    """Ingest the CSV into ``silver_dir`` and read it back with the schema
    just written, partition keys last (the order a partitioned read
    gives), so the read-back infers nothing from the files. The written
    schema carries the sidecar's ``partition_key`` flags as field
    metadata, so the sidecar is not loaded twice."""
    written = ingest_csv(spark, csv_path, sidecar_path, silver_dir)
    pkeys = partition_keys(written.schema)
    fields = [f for f in written.schema if f.name not in pkeys]
    schema = T.StructType(fields + [written.schema[k] for k in pkeys])
    return spark.read.schema(schema).parquet(silver_dir)


def landmarks_per_borough(silver: DataFrame) -> DataFrame:
    """SELECT BOROUGH, count(*) ... GROUP BY 1 ORDER BY 2 DESC — the
    Phase-1 proof query (SURVEY §7)."""
    return (
        silver.groupBy("BOROUGH")
        .agg(F.count(F.lit(1)).alias("n_landmarks"))
        .orderBy(F.desc("n_landmarks"), F.asc("BOROUGH"))
    )


def designations_per_year(silver: DataFrame) -> DataFrame:
    """Parses DESIG_DATE strings into timestamps (the reference leaves
    all 28 columns as strings — §1.2) and aggregates by year."""
    ts = F.to_timestamp(F.col("DESIG_DATE"), LANDMARKS_DATE_FMT)
    return (
        silver.filter(F.col("DESIG_DATE").isNotNull() & (F.col("DESIG_DATE") != ""))
        .select(F.year(ts).alias("desig_year"))
        .filter(F.col("desig_year").isNotNull())
        .groupBy("desig_year")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("desig_year")
    )


def largest_landmarks(silver: DataFrame, k: int = 10) -> DataFrame:
    """Top-k by Shape_area (string-typed in the sidecar → cast)."""
    area = F.col("Shape_area").cast("double")
    return (
        silver.filter(area.isNotNull())
        .select("LP_NUMBER", "AREA_NAME", "BOROUGH", area.alias("shape_area"))
        .orderBy(F.desc("shape_area"), F.asc("LP_NUMBER"))
        .limit(k)
    )
