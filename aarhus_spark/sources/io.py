"""IO seam (SURVEY.md §7 Iceberg note, §2.1 S1/S2).

All table input goes through these functions so the engine above is
identical whether the source is a local parquet directory (sandbox)
or an Iceberg catalog table (production: configure
``org.apache.iceberg.spark.SparkCatalog`` and pass
``iceberg:cat.db.pages``). The DataFrame shape is the contract
(BASELINE.json input_hint):

    pages(url string, warc_ts timestamp, html binary,
          text string, lang string)

Filters applied downstream (lang, non-empty text) reach the scan as
pushed predicates either way; with Iceberg, hidden partitions
``days(warc_ts)`` / ``bucket(url)`` additionally give partition
pruning — nothing above this seam changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """S1 pages scan. ``source`` is either ``iceberg:<cat.db.table>``
    (production) or a parquet path/dir (sandbox)."""
    if source.startswith("iceberg:"):
        return spark.read.table(source[len("iceberg:"):])
    return spark.read.schema(PAGES_SCHEMA).parquet(source)


def read_queries(spark: SparkSession, source: str) -> DataFrame:
    """S2 query-set source: (query_id, qtext) required; the documented
    per-query OPTIONAL columns — ``neg_qtext`` (bool.must_not),
    ``must_qtext`` (bool.must), ``exclude`` (span_not) — are kept and
    typed when present (a fixed 2-column read used to drop them
    silently, making the CLI's per-query bool columns unreachable)."""
    from pyspark.sql import functions as F
    if source.startswith("iceberg:"):
        df = spark.read.table(source[len("iceberg:"):])
    else:
        df = spark.read.parquet(source)
    missing = {"query_id", "qtext"} - set(df.columns)
    if missing:
        raise ValueError(f"queries source lacks columns {sorted(missing)}")
    cols = [F.col("query_id").cast("long").alias("query_id"),
            F.col("qtext").cast("string").alias("qtext")]
    for opt in ("neg_qtext", "must_qtext", "exclude"):
        if opt in df.columns:
            cols.append(F.col(opt).cast("string").alias(opt))
    return df.select(*cols)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver-provided test table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``documents`` table into the authoritative
    pages shape (FIXTURES.md §4 mapping): deterministic url, warc_ts
    derived from doc_id, html NULL (extraction path exercised by the
    synthetic fixture corpus instead)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("https://testdata.local/"), F.col("source"),
                 F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_dt_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
