"""Distributed Gorilla block encode/decode over DataFrames.

The storage unit matches the reference: one compressed block per
(series, 2-hour bucket) — exactly Gorilla's per-series block keyed by
header time (``vec_stream.rs:6-9``, ``csv_to_packed.rs:16-18``). Encode
is a ``mapInPandas`` over partitions shuffled and sorted by that key
(one shuffle, the same partitioning the bucketed store and per-series
windows use); decode is a ``mapInPandas`` back to rows, with no
shuffle. Both sides work on whole Arrow batches of blocks with numpy:
``encode_blocks_vectorized`` packs every block of a batch in one pass,
and ``decode_blocks_vectorized`` decodes the blocks of a batch in
lockstep. Blocks are independent, so both sides scale embarrassingly:
100 TB = many blocks, never a big one (2 h × one series).

The codec modules (``gorilla`` and ``worker_imports``) are shipped to
executors BY VALUE via cloudpickle's ``register_pickle_by_value`` —
executors need no importable copy of gibbon_spark.

Both partition functions first call ``lazy_zip_invalidation``: Spark's
Python worker runs ``importlib.invalidate_caches()`` at the start of
every task, which on Python 3.10/3.11 eagerly re-reads every zip archive
on the worker's ``sys.path`` (~0.2 s a task, more than a one-block point
read decodes in). After the first codec task on a worker, that call
only drops the cached directories, as on 3.12+.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_SCHEMA = (
    "series_id string, header_time long, n_samples int, n_bits long, payload binary"
)
ROWS_SCHEMA = "series_id string, ts long, value double"


def _ship_codec_by_value() -> None:
    import gibbon_spark.codec.gorilla as gorilla_mod
    import gibbon_spark.codec.worker_imports as worker_imports_mod

    try:
        from pyspark.cloudpickle import register_pickle_by_value
    except ImportError:  # pragma: no cover - older cloudpickle
        return
    register_pickle_by_value(gorilla_mod)
    register_pickle_by_value(worker_imports_mod)


def encode_timeseries(
    df: DataFrame,
    *,
    series: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """(any table) → gorilla blocks: one row per (series, 2h bucket) with
    the bit-packed payload. Rows are sorted (ts, then input order proxy)
    inside each block — the order-dependence the codec requires
    (SURVEY.md 'hard parts')."""
    _ship_codec_by_value()
    from gibbon_spark.codec.gorilla import encode_blocks_vectorized
    from gibbon_spark.codec.worker_imports import lazy_zip_invalidation
    from gibbon_spark.operators.timeseries import as_timeseries

    norm = as_timeseries(df, series=series, ts=ts, value=value)
    keyed = norm.select(
        "series_id",
        F.unix_timestamp("ts").alias("epoch"),
        "value",
        (F.unix_timestamp("ts") - (F.unix_timestamp("ts") % 7200)).alias(
            "header_time"
        ),
    )
    # One shuffle on the series key, blocks assembled by streaming each
    # sorted partition through mapInPandas. NOT applyInPandas-per-group:
    # blocks are tiny (2 h of one series), and per-group Arrow round-trip
    # overhead (~5 ms) would dwarf the encode itself by 100×. A block
    # that straddles two Arrow batches is carried over to the next batch
    # (groups are contiguous because partitions are sorted).
    # partition on the full block key, not just series: low-cardinality
    # series sets (15 users here) would cap parallelism and skew; blocks
    # are independent, so hashing them across all partitions is free.
    # value is the final sort key: epoch is SECOND-truncated, so two
    # sub-second points can share it (first seen at sf1 — 16 collisions
    # in 1M rows), and an epoch-only sort leaves the xor stream — hence
    # the compressed bytes — dependent on shuffle arrival order. With
    # the value tiebreak the encode is total UP TO the IEEE bit pattern:
    # -0.0 sorts equal to +0.0, so a zero-sign tiebreak (sign of 1/v)
    # pins that last double pair whose compare-equal values are
    # bit-distinct. Remaining (series, epoch, value-bits) ties are
    # bit-identical rows, which xor to 0 in any order. NaNs (the other
    # compare-equal/bit-distinct class) are ordered last as a group;
    # distinct NaN *payloads* in one (series, second) would still be
    # order-ambiguous — accepted precondition: the ingest contract is
    # real telemetry (testdata generator emits no NaN), and a NaN xor
    # stream is semantically meaningless anyway.
    zero_sign = (
        F.when(F.isnan("value"), F.lit(2))
        .when((F.col("value") == 0.0) & (F.lit(1.0) / F.col("value") < 0), F.lit(-1))
        .otherwise(F.lit(0))
    )
    parts = keyed.repartition("series_id", "header_time").sortWithinPartitions(
        "series_id", "header_time", "epoch", "value", zero_sign
    )

    def encode_partition(batches):
        lazy_zip_invalidation()
        import numpy as np
        import pandas as pd

        def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
            # whole-batch vectorized encode: every block in the Arrow
            # batch is packed in one numpy pass (bit-identical to the
            # scalar per-block codec; see encode_blocks_vectorized)
            sid = pdf["series_id"].to_numpy()
            ht = pdf["header_time"].to_numpy(dtype=np.int64)
            is_start = np.ones(len(pdf), dtype=bool)
            is_start[1:] = (sid[1:] != sid[:-1]) | (ht[1:] != ht[:-1])
            payloads, nbits, start_idx = encode_blocks_vectorized(
                pdf["epoch"].to_numpy(dtype=np.int64),
                pdf["value"].to_numpy(dtype=np.float64),
                ht,
                is_start,
            )
            ends = np.concatenate([start_idx[1:], [len(pdf)]])
            return pd.DataFrame(
                {
                    "series_id": sid[start_idx],
                    "header_time": ht[start_idx],
                    "n_samples": (ends - start_idx).astype("int32"),
                    "n_bits": nbits,
                    "payload": payloads,
                }
            )

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_sid = pdf["series_id"].iloc[-1]
            last_ht = pdf["header_time"].iloc[-1]
            is_last = (pdf["series_id"] == last_sid) & (
                pdf["header_time"] == last_ht
            )
            complete = pdf[~is_last]
            carry = pdf[is_last]
            if len(complete):
                yield encode_groups(complete)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return parts.mapInPandas(encode_partition, BLOCK_SCHEMA)


def decode_timeseries(blocks: DataFrame) -> DataFrame:
    """gorilla blocks → (series_id, ts epoch-seconds, value) rows.

    Each Arrow batch is decoded in one of two ways, chosen from the
    batch itself: blocks in lockstep (``decode_blocks_vectorized``, one
    numpy step per record of the longest block) when
    ``sum(n_samples) >= LOCKSTEP_MIN_WIDTH * max(n_samples)``, else the
    scalar ``decode_block`` per block. Every block must decode to
    exactly ``n_samples`` records ending exactly at ``n_bits``; any
    mismatch raises instead of returning a partial block."""
    _ship_codec_by_value()
    from gibbon_spark.codec.gorilla import (
        LOCKSTEP_MIN_WIDTH,
        decode_block,
        decode_blocks_vectorized,
    )
    from gibbon_spark.codec.worker_imports import lazy_zip_invalidation

    def decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        payloads = pdf["payload"].tolist()
        nbits = pdf["n_bits"].to_numpy(dtype=np.int64)
        header_times = pdf["header_time"].to_numpy(dtype=np.int64)
        n_samples = pdf["n_samples"].to_numpy(dtype=np.int64)
        if len(pdf) and n_samples.sum() >= LOCKSTEP_MIN_WIDTH * n_samples.max():
            ts, values = decode_blocks_vectorized(
                payloads, nbits, header_times, n_samples
            )
        else:
            ts_parts, v_parts = [], []
            for k, (payload, nb, ht, n) in enumerate(
                zip(payloads, nbits.tolist(), header_times.tolist(), n_samples.tolist())
            ):
                # decode_block ends exactly at n_bits or raises, so the
                # record count is the one check left to make
                ts_k, v_k = decode_block(payload, nb, ht)
                if len(ts_k) != n:
                    raise ValueError(
                        f"block {k}: n_bits holds {len(ts_k)} records, "
                        f"n_samples says {n}"
                    )
                ts_parts += ts_k
                v_parts += v_k
            ts = np.array(ts_parts, dtype=np.uint64).view(np.int64)
            values = np.array(v_parts, dtype=np.float64)
        return pd.DataFrame(
            {
                "series_id": np.repeat(pdf["series_id"].to_numpy(), n_samples),
                "ts": ts,
                "value": values,
            }
        )

    def decode_partition(batches):
        lazy_zip_invalidation()
        for pdf in batches:
            yield decode_batch(pdf)

    # mapInPandas keeps decode embarrassingly parallel (no shuffle)
    return blocks.mapInPandas(decode_partition, ROWS_SCHEMA)


def compression_report(blocks: DataFrame) -> DataFrame:
    """The reference's compression-stats query over distributed blocks
    (``csv_to_packed.rs:107-113``): compressed bytes vs 16 B/row raw."""
    return blocks.agg(
        F.sum("n_samples").alias("rows"),
        F.sum(F.octet_length("payload")).alias("compressed_bytes"),
        (F.sum("n_samples") * 16).alias("raw_bytes"),
        F.round(
            100.0 * F.sum(F.octet_length("payload")) / (F.sum("n_samples") * 16)
            + F.lit(1e-9),
            2,
        ).alias("ratio_pct"),
    )
