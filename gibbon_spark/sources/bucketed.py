"""Time-bucketed Parquet storage — the Gorilla block layout, Spark-first.

The reference stores each series as bit-packed blocks keyed by a 2-hour
aligned header time (``src/vec_stream.rs:6-9``, alignment
``examples/csv_to_packed.rs:17``); queries can only skip whole blocks.
Here the same layout is Hive-partitioned Parquet:

    <root>/bucket=2024-01-01 00%3A00%3A00/part-*.parquet

- ``bucket`` = 2-hour tumbling window start → partition pruning gives
  the reader block skipping *plus* parquet row-group stats inside each
  block (strictly better than the reference's addressing);
- Parquet ZSTD + dictionary/delta encodings play the Gorilla codec's
  compression role (SURVEY.md §1.3); ``compression_stats`` reports the
  achieved ratio against the reference's 16 B/row raw-size formula
  (``csv_to_packed.rs:109-113``).

At cluster scale: writes repartition by (bucket, series hash) so each
task writes one partition directory (no small-files explosion), and
readers get both partition pruning on time and series co-location for
per-series windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gibbon_spark.codec.spark_ops import BLOCK_SCHEMA
from gibbon_spark.operators.timeseries import as_timeseries, with_bucket

BUCKET_WIDTH = "2 hours"


def write_bucketed(
    df: DataFrame,
    path: str,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    mode: str = "overwrite",
    series_buckets: int = 8,
) -> None:
    """Normalize to the canonical stream schema and write 2-hour-bucketed
    parquet. ``series_buckets`` caps files per time bucket: rows are
    repartitioned on (bucket, hash(series_id) % N) so a 1000-executor
    write still emits N files per bucket, co-locating each series."""
    norm = as_timeseries(df, series=series, ts=ts, value=value)
    bucketed = with_bucket(norm, width=BUCKET_WIDTH)
    (
        bucketed.repartition(
            F.col("bucket"),
            (F.abs(F.hash("series_id")) % series_buckets).alias("sb"),
        )
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def compact_bucketed(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    series_buckets: int = 8,
) -> None:
    """Rewrite a bucketed store with the batch writer's file discipline.

    A long-running streaming sink appends one file per (micro-batch,
    partition) — thousands of small files per bucket after a day, which
    kills scan throughput (file-open overhead, tiny row groups, no
    useful min/max stats). Compaction re-reads the store, repartitions
    back to ``series_buckets`` files per time bucket, and sorts rows by
    (series, ts) *within* each file so parquet row-group stats become
    tight and per-series window scans read sequentially.

    Writes to ``out_path`` (atomically swappable by the caller) rather
    than in place — Spark cannot safely overwrite a path it is reading.
    """
    df = spark.read.parquet(path)
    (
        df.repartition(
            F.col("bucket"),
            (F.abs(F.hash("series_id")) % series_buckets).alias("sb"),
        )
        .sortWithinPartitions("series_id", "ts")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )


def expire_buckets(path: str, older_than) -> list[str]:
    """Retention: drop whole bucket partition directories older than the
    cutoff (Gorilla keeps a bounded in-memory horizon — ``README.md:1-3``
    paper context; here retention is a metadata-only delete of pruned
    partitions, no data rewrite). Returns the removed bucket values.

    Driver-side directory surgery is correct here because partitions ARE
    the retention unit; nothing scans or shuffles.
    """
    import shutil
    from datetime import datetime
    from urllib.parse import unquote

    cutoff = (
        datetime.fromisoformat(older_than)
        if isinstance(older_than, str)
        else older_than
    )
    removed = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket="):
            continue
        val = unquote(d.split("=", 1)[1])
        if datetime.fromisoformat(val) < cutoff:
            shutil.rmtree(os.path.join(path, d))
            removed.append(val)
    return removed


def read_bucketed(
    spark: SparkSession,
    path: str,
    *,
    start=None,
    end=None,
) -> DataFrame:
    """Read with time-range predicates expressed on the partition column
    so Catalyst prunes whole buckets before listing row groups."""
    df = spark.read.parquet(path)
    if start is not None:
        df = df.filter(F.col("bucket") >= F.date_trunc("hour", F.lit(start).cast("timestamp")) - F.expr("interval 2 hours"))
        df = df.filter(F.col("ts") >= F.lit(start).cast("timestamp"))
    if end is not None:
        df = df.filter(F.col("bucket") < F.lit(end).cast("timestamp"))
        df = df.filter(F.col("ts") < F.lit(end).cast("timestamp"))
    return df


DAY = 86400
BLOCK = 7200  # one Gorilla block: 2 hours of one series
STORE_SCHEMA = f"{BLOCK_SCHEMA}, bucket_day long"


def write_gorilla_store(
    blocks: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    day_files: int | None = None,
) -> None:
    """Persist gorilla-encoded blocks (codec/spark_ops.encode_timeseries
    output: one BinaryType payload per (series, 2h header bucket)) as a
    partitioned on-disk table — the reference's full storage lifecycle
    (``examples/csv_to_packed.rs:15-113`` ingests, packs and stores
    bit-streams keyed by a 2h-aligned header time) as a durable table.

    Layout: one directory per DAY (``bucket_day``) with ``day_files``
    series-hashed files per day, each file sorted by (header_time,
    series_id). A time-range read prunes whole day directories, then
    parquet row-group min/max stats on the sorted ``header_time``
    column skip the 2h blocks inside each file — the reference's block
    skipping at two granularities, with 12x fewer directories/files
    than one-dir-per-2h-bucket (the layout this replaced: 360 dirs of
    one tiny file each at sf0.1, whose per-directory commit + listing
    overhead dominated the store's write AND read wall time). The
    payload stays gorilla-bit-packed; parquet is only the container
    for (key, n_samples, n_bits, payload) rows.

    ``day_files`` caps files per day directory regardless of executor
    count (same discipline as ``write_bucketed``); raise it on a real
    cluster via GS_STORE_DAY_FILES so per-file size stays in the
    128 MB-1 GB band at 100 TB."""
    if day_files is None:
        day_files = int(os.environ.get("GS_STORE_DAY_FILES", "4"))
    (
        blocks.withColumn(
            "bucket_day", F.col("header_time") - F.col("header_time") % DAY
        )
        .repartition(
            F.col("bucket_day"),
            (F.abs(F.hash("series_id")) % day_files).alias("sb"),
        )
        .sortWithinPartitions("header_time", "series_id")
        .write.mode(mode)
        .partitionBy("bucket_day")
        .parquet(path)
    )


def read_gorilla_store(
    spark: SparkSession,
    path: str,
    *,
    start_epoch: int | None = None,
    end_epoch: int | None = None,
) -> DataFrame:
    """Scan a gorilla block store with two-level time pruning: the
    ``bucket_day`` partition filter never lists pruned day directories,
    and the exact ``header_time`` predicate lands on parquet row-group
    stats (files are written sorted by header_time) — together strictly
    the reference's block skipping. A block's header_time is the 2-hour
    floor of every point in it (codec/spark_ops.encode_timeseries), so
    the first block needed is the one at the floor of ``start_epoch``.
    Returns the block frame ready for codec/spark_ops.decode_timeseries;
    its rows may still reach outside [start_epoch, end_epoch).

    The store's schema is declared (``BLOCK_SCHEMA`` plus the
    ``bucket_day`` partition column), not inferred, which saves the
    footer-reading Spark job of parquet schema inference on every read.
    A missing ``path`` still raises ``PATH_NOT_FOUND``; a directory
    with no data files reads as 0 blocks."""
    df = spark.read.schema(STORE_SCHEMA).parquet(path)
    if start_epoch is not None:
        lo = int(start_epoch) - int(start_epoch) % BLOCK
        df = df.filter(F.col("bucket_day") >= lo - lo % DAY)
        df = df.filter(F.col("header_time") >= lo)
    if end_epoch is not None:
        hi = int(end_epoch)
        df = df.filter(F.col("bucket_day") < hi)
        df = df.filter(F.col("header_time") < hi)
    return df.select("series_id", "header_time", "n_samples", "n_bits", "payload")


def storage_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compression_stats(spark: SparkSession, path: str) -> dict:
    """The reference's compression-stats query (``csv_to_packed.rs:107-113``):
    compressed bytes vs raw 16 B/row (u64 ts + f64 value)."""
    n = spark.read.parquet(path).count()
    compressed = storage_bytes(path)
    raw = n * 16
    return {
        "rows": n,
        "compressed_bytes": compressed,
        "raw_bytes": raw,
        "ratio_pct": round(100.0 * compressed / raw, 2) if raw else None,
    }
