"""Events store — reference S5 (CSV append sink) plus the scale path.

Canonical store: Parquet partitioned by event date. The reference's
report re-reads its entire CSV per run (its own noted bottleneck,
report.py:89-93); date-partitioned Parquet turns the daily report's day
filter into partition pruning — at 100 TB the report touches one
partition, not the store.

Byte-compat CSV emitter kept for parity with the reference's
``maillogsentinel.csv``: ``;`` delimiter, QUOTE_MINIMAL, header, column
order from parser.py:109-121, `dd/MM/yyyy HH:mm` date strings.

This module is the raw append-only layout: production ingest writes it
and plain ``spark.read.parquet`` or pyarrow readers consume it with no
manifest protocol. It also holds the byte-compat CSV and bucketed
writers. Nothing here rewrites data: MERGE, compaction and Z-order go
through the atomic ``tx_*`` operations of ``sources/txstore.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MAIL_CSV_COLUMNS


def write_events(events: DataFrame, path: str, mode: str = "append") -> None:
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("event_date")


def csv_shape(events: DataFrame) -> DataFrame:
    """Reference CSV column order and date format (parser.py:106-121):
    the projection the CSV mirror and the SQL export both read."""
    return events.select(
        F.col("server"),
        F.date_format("ts", "dd/MM/yyyy HH:mm").alias("date"),
        *[F.col(c) for c in MAIL_CSV_COLUMNS[2:]],
    )


def write_events_csv(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference-compatible CSV shape (parser.py:106-121): all-string,
    `;`-separated, minimal quoting, header."""
    (
        csv_shape(events).write.mode(mode)
        .option("sep", ";")
        .option("header", "true")
        .option("quoteAll", "false")
        .csv(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed, optionally sorted, Parquet table — the co-located-join
    layout for the 100 TB design point.

    Two fact tables bucketed on their join key with the same bucket
    count join WITHOUT a shuffle: each task reads bucket i of both
    sides. With ``sort_cols`` on the join key the merge phase also
    skips its sort. This is the layout choice that removes the
    biggest-ticket exchange (fact⨝fact, e.g. lineitem⨝orders on
    orderkey) from every downstream query, paid once at write time.

    The reference has no analogous concept (single CSV, no partitioning
    — SURVEY §4 "no partitioning/shuffle concept"); this is pure scale
    surface. Requires a catalog table (bucket metadata lives in the
    catalog, not the files): ``path`` pins the data location, and
    ``spark.catalog.dropTable`` does not delete external data.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)

