"""Compressed block store: points ⇄ per-(bucket, metric, chunk) blocks.

The engine analogue of beamium's size-capped ``.metrics`` batch files
(/root/reference/src/scraper.rs:221-303 writes chunks,
src/router.rs:135-146 reads them back): a chunk of one series' points is
one row holding two opaque binary columns (delta-of-delta ts block,
Gorilla-XOR val block). Chunking is by time (default 1 hour), the
``chunk_start`` of the north_rule's explicit (bucket, chunk) partitioning.

Encode = ``applyInPandas`` over (bucket, metric, labels-free) groups —
inside each group the codec is pure vectorized numpy over Arrow batches;
no per-row Python. Decode = ``mapInPandas`` so a scan of the block table
streams back points partition-parallel without a shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beamium_spark.operators.codec import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)

CODEC_NAME = "dod+gorilla-xor/mb128"

BLOCK_SCHEMA = (
    "bucket int, metric string, chunk_start timestamp, n_points int, "
    "ts_block binary, val_block binary, codec string"
)

POINT_SCHEMA = "bucket int, metric string, ts timestamp, value double"


def encode_blocks(points: DataFrame, chunk: str = "1 hour") -> DataFrame:
    """points(bucket, metric, ts, value, ...) → blocks table.

    One output row per (bucket, metric, chunk_start); points are sorted by
    ts inside the block (order is the codec's delta axis).

    Physical strategy: one explicit shuffle keyed (bucket, metric, chunk)
    — the north_rule partitioning — with a partition-local sort, then
    ``mapInPandas`` encodes *whole partitions*: group boundaries are found
    with a vectorized factorize and each block is one numpy codec call.
    (A per-group ``applyInPandas`` pays one Arrow round-trip per block —
    measured ~15× slower with tiny sandbox blocks; per-partition batching
    amortizes it and is the shape that holds at 10^12 docs, where a
    partition carries many complete blocks.)
    """
    trunc = {"1 hour": "hour", "1 day": "day", "1 minute": "minute"}[chunk]
    chunked = points.select(
        "bucket",
        "metric",
        F.date_trunc(trunc, "ts").alias("chunk_start"),
        F.col("ts"),
        "value",
    )
    # no partition count: AQE can coalesce a column-keyed repartition to
    # the data's size, so a small tick encodes in one Python task
    dist = chunked.repartition("bucket", "metric", "chunk_start").sortWithinPartitions(
        "bucket", "metric", "chunk_start", "ts"
    )

    def _encode_partition(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
        vals = pdf["value"].to_numpy(dtype="float64")
        import numpy as np

        # vectorized group boundaries over the sorted composite key —
        # column-wise int/code comparisons, never per-row string building
        # (the old string-concat key cost ~1 s/2.4M rows of pure Python)
        bv = pdf["bucket"].to_numpy()
        mv = pd.factorize(pdf["metric"])[0]
        cv = pdf["chunk_start"].to_numpy(dtype="datetime64[ns]").astype("int64")
        diff = (bv[1:] != bv[:-1]) | (mv[1:] != mv[:-1]) | (cv[1:] != cv[:-1])
        change = np.flatnonzero(diff) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        out = {
            "bucket": pdf["bucket"].to_numpy()[starts],
            "metric": pdf["metric"].to_numpy()[starts],
            "chunk_start": pdf["chunk_start"].to_numpy()[starts],
            "n_points": ends - starts,
            "ts_block": [encode_timestamps(ts_us[s:e]) for s, e in zip(starts, ends)],
            "val_block": [encode_values(vals[s:e]) for s, e in zip(starts, ends)],
            "codec": CODEC_NAME,
        }
        yield pd.DataFrame(out)

    return dist.mapInPandas(_encode_partition, schema=BLOCK_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """blocks → points(bucket, metric, ts, value): the symmetric readback
    used by the tier-exact verification path."""

    def _decode(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            # one numpy codec call per block, then ONE output frame per
            # Arrow batch: keys repeated via np.repeat, point arrays
            # np.concatenate'd — no per-block DataFrame construction (the
            # old shape built + concat'd one frame per block, per-row
            # pandas overhead a 100-TB readback cannot afford)
            ts_list = [decode_timestamps(b) for b in pdf["ts_block"]]
            val_list = [decode_values(b) for b in pdf["val_block"]]
            n = np.array([len(t) for t in ts_list])
            yield pd.DataFrame(
                {
                    "bucket": np.repeat(pdf["bucket"].to_numpy(), n),
                    "metric": np.repeat(pdf["metric"].to_numpy(dtype=object), n),
                    "ts": pd.to_datetime(np.concatenate(ts_list) * 1000),  # µs → ns
                    "value": np.concatenate(val_list),
                }
            )

    return blocks.mapInPandas(_decode, schema=POINT_SCHEMA)


def block_stats(blocks: DataFrame) -> DataFrame:
    """Compression accounting per metric: raw vs encoded bytes (raw =
    16 bytes/point: int64 ts + float64 value)."""
    return (
        blocks.groupBy("metric")
        .agg(
            F.sum("n_points").alias("points"),
            F.sum(F.length("ts_block") + F.length("val_block")).alias("encoded_bytes"),
            (F.sum("n_points") * 16).alias("raw_bytes"),
        )
        .withColumn(
            "ratio", F.round(F.col("raw_bytes") / F.col("encoded_bytes"), 2)
        )
    )
