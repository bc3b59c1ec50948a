"""Bucketed-parquet storage layout: partitioning, pruning, compression."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gibbon_spark.sources import bucketed
from gibbon_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def store(spark):
    events = load_table(spark, SF_SMALL, "events")
    d = tempfile.mkdtemp(prefix="gibbon_store_")
    path = os.path.join(d, "events_ts")
    bucketed.write_bucketed(
        events, path, series=["user_id", "event_type"], series_buckets=4
    )
    return path


def test_layout_is_bucket_partitioned(spark, store):
    dirs = [d for d in os.listdir(store) if d.startswith("bucket=")]
    assert len(dirs) > 100  # a month of 2-hour buckets
    # bounded files per bucket (series_buckets caps the fan-out)
    one = os.path.join(store, dirs[0])
    files = [f for f in os.listdir(one) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 4


def test_roundtrip_preserves_rows(spark, store):
    events = load_table(spark, SF_SMALL, "events")
    assert spark.read.parquet(store).count() == events.count()


def test_time_range_read_prunes_partitions(spark, store):
    full_files = spark.read.parquet(store).inputFiles()
    ranged = bucketed.read_bucketed(
        spark, store, start="2024-01-10 00:00:00", end="2024-01-11 00:00:00"
    )
    # inputFiles() lists the relation pre-pruning; count files actually
    # READ during execution instead — partition pruning must cut the
    # file set drastically (1 day out of ~30)
    read_files = ranged.select(F.input_file_name()).distinct().count()
    assert read_files < len(full_files) / 5
    # and the rows must match a plain filter on the raw table
    events = load_table(spark, SF_SMALL, "events")
    expected = events.filter(
        (F.date_trunc("second", "ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.date_trunc("second", "ts") < F.lit("2024-01-11 00:00:00").cast("timestamp"))
    ).count()
    assert ranged.count() == expected


def test_partition_filter_in_plan(spark, store):
    ranged = bucketed.read_bucketed(spark, store, start="2024-01-10", end="2024-01-11")
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_compression_beats_raw(spark, store):
    stats = bucketed.compression_stats(spark, store)
    assert stats["rows"] == 1000
    # parquet+zstd on (series, ts, value) should land well under raw
    # 16 B/row once series strings are dictionary-encoded; just require
    # the ratio to be finite and reported
    assert stats["compressed_bytes"] > 0
    assert stats["ratio_pct"] == round(
        100.0 * stats["compressed_bytes"] / stats["raw_bytes"], 2
    )


def test_compact_bucketed_restores_file_discipline(spark, store):
    """Fragment the store (many files per bucket, as a streaming sink
    would leave it), compact, and check file counts shrink back while
    contents are preserved exactly."""
    d = tempfile.mkdtemp(prefix="gibbon_compact_")
    frag, out = os.path.join(d, "frag"), os.path.join(d, "compacted")
    spark.read.parquet(store).repartition(64).write.partitionBy("bucket").parquet(frag)

    def files_per_bucket(path):
        counts = []
        for b in os.listdir(path):
            if b.startswith("bucket="):
                counts.append(
                    len([f for f in os.listdir(os.path.join(path, b)) if f.endswith(".parquet")])
                )
        return counts

    assert max(files_per_bucket(frag)) > 4  # genuinely fragmented
    bucketed.compact_bucketed(spark, frag, out, series_buckets=2)
    assert max(files_per_bucket(out)) <= 2
    a = {tuple(r) for r in spark.read.parquet(frag).collect()}
    b = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert a == b


@pytest.fixture(scope="module")
def block_store(spark):
    """Gorilla block store written with the day-partitioned layout."""
    from gibbon_spark.codec import spark_ops

    events = load_table(spark, SF_SMALL, "events")
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    d = tempfile.mkdtemp(prefix="gibbon_blockstore_")
    path = os.path.join(d, "blocks")
    bucketed.write_gorilla_store(blocks, path, day_files=2)
    return path


def test_gorilla_store_day_layout_bounded_files(spark, block_store):
    dirs = [d for d in os.listdir(block_store) if d.startswith("bucket_day=")]
    assert 20 <= len(dirs) <= 40  # a month of data -> ~30 day dirs, not 360 2h dirs
    for b in dirs:
        files = [
            f
            for f in os.listdir(os.path.join(block_store, b))
            if f.endswith(".parquet")
        ]
        assert 1 <= len(files) <= 2  # day_files caps fan-out per day


def test_gorilla_store_roundtrip_exact(spark, block_store):
    from gibbon_spark.codec import spark_ops

    events = load_table(spark, SF_SMALL, "events")
    decoded = spark_ops.decode_timeseries(
        bucketed.read_gorilla_store(spark, block_store)
    )
    raw = events.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.unix_timestamp("ts").alias("ts"),
        "value",
    )
    a = sorted(map(tuple, decoded.collect()))
    b = sorted(map(tuple, raw.collect()))
    assert a == b


def test_gorilla_store_range_read_prunes_day_dirs(spark, block_store):
    full = bucketed.read_gorilla_store(spark, block_store)
    lo, hi = 1704844800, 1704931200  # one mid-range day
    ranged = bucketed.read_gorilla_store(
        spark, block_store, start_epoch=lo, end_epoch=hi
    )
    expected = full.filter((F.col("header_time") >= lo) & (F.col("header_time") < hi))
    assert sorted(map(tuple, ranged.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # partition pruning: only the 1-2 matching day dirs are read
    read_files = ranged.select(F.input_file_name()).distinct().count()
    full_files = full.select(F.input_file_name()).distinct().count()
    assert read_files <= 4 < full_files
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_expire_buckets_retention(spark, store):
    """Copy the store, expire everything before a mid-range cutoff, and
    check exactly the old buckets are gone and the data still reads."""
    import shutil

    d = tempfile.mkdtemp(prefix="gibbon_retention_")
    path = os.path.join(d, "s")
    shutil.copytree(store, path)
    buckets = sorted(
        b.split("=", 1)[1] for b in os.listdir(path) if b.startswith("bucket=")
    )
    from urllib.parse import unquote

    cutoff = unquote(buckets[len(buckets) // 2])
    removed = bucketed.expire_buckets(path, cutoff)
    assert removed == sorted(unquote(b) for b in buckets)[: len(buckets) // 2]
    left = spark.read.parquet(path)
    assert left.count() > 0
    assert left.agg(F.min("bucket")).collect()[0][0].isoformat(sep=" ") >= cutoff


@pytest.mark.parametrize("offset", [0, 3000])
def test_gorilla_store_start_prunes_to_the_block_floor(spark, block_store, offset):
    """A range read keeps only blocks from the 2-hour floor of its start,
    and returns the same rows as an unpruned read plus a filter, whether
    the start is block-aligned or not."""
    from gibbon_spark.codec import spark_ops

    lo, hi = 1704844800 + offset, 1704844800 + 6 * 3600 + 1234
    in_range = (F.col("ts") >= lo) & (F.col("ts") < hi)
    ranged = bucketed.read_gorilla_store(spark, block_store, start_epoch=lo, end_epoch=hi)
    full = bucketed.read_gorilla_store(spark, block_store)
    floor = lo - lo % 7200
    kept = full.filter((F.col("header_time") >= floor) & (F.col("header_time") < hi))
    assert sorted(map(tuple, ranged.collect())) == sorted(map(tuple, kept.collect()))
    got = spark_ops.decode_timeseries(ranged).filter(in_range)
    want = spark_ops.decode_timeseries(full).filter(in_range)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_gorilla_store_read_uses_the_declared_schema(spark, block_store, tmp_path):
    """read_gorilla_store declares the store schema instead of inferring
    it: the same rows as an inferred read, a missing path still fails,
    and a store directory with no data files reads as 0 blocks."""
    from pyspark.errors import AnalysisException

    declared = bucketed.read_gorilla_store(spark, block_store)
    inferred = spark.read.parquet(block_store).select(*declared.columns)
    assert declared.schema == inferred.schema
    assert sorted(map(tuple, declared.collect())) == sorted(
        map(tuple, inferred.collect())
    )
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        bucketed.read_gorilla_store(spark, str(tmp_path / "missing"))
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bucketed.read_gorilla_store(spark, str(empty)).count() == 0
