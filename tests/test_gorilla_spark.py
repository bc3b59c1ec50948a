"""Distributed Gorilla codec: lossless round-trip, block layout,
deterministic payloads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gibbon_spark.codec import spark_ops
from gibbon_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_SMALL, "events").cache()


def test_roundtrip_is_lossless(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    decoded = spark_ops.decode_timeseries(blocks)
    raw = events.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("ts"),
        "value",
    )
    sym_diff = decoded.exceptAll(raw).count() + raw.exceptAll(decoded).count()
    assert sym_diff == 0
    assert decoded.count() == events.count()


def test_block_per_series_bucket(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"]).cache()
    expected = (
        events.select(
            F.col("user_id").cast("string").alias("s"),
            (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 7200).alias("h"),
        )
        .distinct()
        .count()
    )
    assert blocks.count() == expected
    # block invariants: header 2h-aligned, payload sized to n_bits
    bad = blocks.filter(
        (F.col("header_time") % 7200 != 0)
        | (F.octet_length("payload") != F.ceil(F.col("n_bits") / 8))
    ).count()
    assert bad == 0


def test_encode_is_deterministic(spark, events):
    a = spark_ops.encode_timeseries(events, series=["user_id"])
    b = spark_ops.encode_timeseries(events, series=["user_id"])
    assert a.exceptAll(b).count() == 0


def test_compression_report(spark, events):
    blocks = spark_ops.encode_timeseries(events, series=["user_id"])
    row = spark_ops.compression_report(blocks).collect()[0]
    assert row.rows == events.count()
    assert row.raw_bytes == row.rows * 16
    assert 0 < row.ratio_pct
    # irregular microsecond-jitter data won't hit the paper's 12x, but
    # must still beat raw 16 B/row
    assert row.compressed_bytes < row.raw_bytes

def test_encode_deterministic_under_subsecond_epoch_ties(spark):
    """Regression (round 8, found by the sf1 gorilla_compression_ratio
    oracle): epoch is SECOND-truncated before encoding, so two
    sub-second points can share (series, epoch); with an epoch-only
    sort the xor stream — and the compressed bytes — depended on
    shuffle arrival order (4-byte drift at sf1). The encode sort now
    tiebreaks on value, making the payload reproducible under ANY
    input order. Forced here on small data per the shrink-the-constant
    rule: two ties per second, input presented in opposite orders."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for i in range(8):
        t = base + dt.timedelta(seconds=60 * i)
        rows.append((1, t + dt.timedelta(microseconds=100), 10.0 + i))
        rows.append((1, t + dt.timedelta(microseconds=900), 90.0 - i))
    fwd = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    rev = spark.createDataFrame(rows[::-1], "user_id int, ts timestamp, value double")

    def payloads(df):
        return sorted(
            (r.series_id, r.header_time, r.n_bits, bytes(r.payload))
            for r in spark_ops.encode_timeseries(
                df.repartition(7), series=["user_id"]
            ).collect()
        )

    assert payloads(fwd) == payloads(rev)


def _blocks_frame(spark, n_blocks: int, partitions: int):
    """``n_blocks`` locally encoded blocks of unequal length as a block
    frame in ``partitions`` partitions, plus the expected rows."""
    import numpy as np

    from gibbon_spark.codec.gorilla import encode_block

    rng = np.random.default_rng(n_blocks)
    header = 1_704_067_200
    rows, want = [], []
    for b in range(n_blocks):
        n = 30 if b % 5 else 1 + b % 7
        ts = (header + 3 + 10 * np.arange(n) + rng.integers(0, 2, n)).tolist()
        vs = np.round(rng.normal(50, 5, n), 1).tolist()
        payload, nbits = encode_block(ts, vs, header)
        rows.append((f"s{b}", header, n, nbits, bytearray(payload)))
        want += [(f"s{b}", t, v) for t, v in zip(ts, vs)]
    df = spark.sparkContext.parallelize(rows, partitions).toDF(spark_ops.BLOCK_SCHEMA)
    return df, sorted(want)


def test_decode_identical_on_each_side_of_the_lockstep_threshold(spark):
    from gibbon_spark.codec.gorilla import LOCKSTEP_MIN_WIDTH

    n_blocks = 3 * LOCKSTEP_MIN_WIDTH
    # one partition: a single Arrow batch whose sum(n_samples) is well
    # over LOCKSTEP_MIN_WIDTH x max -> lockstep; one block per partition
    # -> every batch is below it -> the scalar decoder
    lockstep, want = _blocks_frame(spark, n_blocks, 1)
    scalar, _ = _blocks_frame(spark, n_blocks, n_blocks)
    for df in (lockstep, scalar):
        got = sorted(map(tuple, spark_ops.decode_timeseries(df).collect()))
        assert got == want


@pytest.mark.parametrize("partitions", [1, 200])
def test_decode_fails_loudly_on_a_wrong_n_samples(spark, partitions):
    df, _ = _blocks_frame(spark, 200, partitions)
    bad = df.withColumn(
        "n_samples",
        F.when(F.col("series_id") == "s7", F.col("n_samples") + 1).otherwise(
            F.col("n_samples")
        ),
    )
    with pytest.raises(Exception, match="n_samples says"):
        spark_ops.decode_timeseries(bad).collect()


def test_codec_tasks_skip_the_per_task_zip_reread(spark):
    """Spark's worker calls importlib.invalidate_caches() at the start of
    every task; once a codec task has applied lazy_zip_invalidation, that
    call no longer re-reads the zip archives on the worker's sys.path
    (pyspark.zip, the spark-core jar), and decode output is unchanged."""
    from gibbon_spark.codec.worker_imports import lazy_zip_invalidation

    spark_ops._ship_codec_by_value()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        lazy_zip_invalidation()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "reads": [len(reads)]})

    got = spark.range(2, numPartitions=2).mapInPandas(probe, "zips long, reads long")
    for row in got.collect():
        assert row.zips > 0 and row.reads == 0
    df, want = _blocks_frame(spark, 8, 4)
    assert sorted(map(tuple, spark_ops.decode_timeseries(df).collect())) == want
