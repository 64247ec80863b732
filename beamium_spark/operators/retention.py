"""Retention: TTL and size-cap eviction per tier.

Beamium's sink scanner deletes files older than ``ttl`` unsent (default
1 h, /root/reference/src/sink.rs:101-146, conf src/conf.rs:350-359) and,
while the sink dir exceeds ``size`` (default 1 GiB, src/conf.rs:361-372),
pops the **oldest** queue entries and deletes them (src/sink.rs:172-222),
incrementing ``beamium_skip_ttl`` / ``beamium_skip_max_size``
(src/sink.rs:23-40).

Engine mapping: a retention *policy* per tier — the 1m tier keeps hours,
1h keeps days, 1d keeps forever — applied as partition-level deletes
(TTL) and an oldest-first running-size cutoff (size cap). Both return the
evicted count for the counters table.

Scale: TTL is a partition listing + directory unlink, with the evicted
rows counted from the parquet footers (no data read, no Spark job); the
size cap needs one global ordering of chunk sizes — computed over the
*block accounting* (bytes per chunk), thousands of rows at 10^12-doc
scale, never the data itself.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ttl_cutoff_key(now_ts: str, ttl_hours: float) -> str:
    """The first ``chunk_key`` (``yyyy-MM-dd-HH``) a TTL keeps: the hour
    of ``now − ttl``, rounded up when ``now − ttl`` falls inside an hour.
    ``ttl_hours`` may be fractional (the reference accepts bare seconds
    and sub-hour humanized ttls like '30m', src/conf.rs:350-359); it is
    carried in whole seconds."""
    now = dt.datetime.fromisoformat(now_ts)
    if now.tzinfo is not None:  # the store's keys are UTC wall time
        now = now.astimezone(dt.timezone.utc).replace(tzinfo=None)
    cutoff = now - dt.timedelta(seconds=int(round(ttl_hours * 3600)))
    hour = cutoff.replace(minute=0, second=0, microsecond=0)
    if hour < cutoff:
        hour += dt.timedelta(hours=1)
    return hour.strftime("%Y-%m-%d-%H")


def ttl_evict(store, table: str, now_ts: str, ttl_hours: float) -> dict:
    """Evict every row with ``chunk_start < now − ttl`` by unlinking whole
    partitions. Returns counters (beamium_skip_ttl analogue):
    ``expired_partitions`` and ``expired_rows``; ``expired_rows`` counts
    every evicted row, whole partitions included, read from the parquet
    footers before the unlink.

    Exact because every writer's ``chunk_start`` is hour-truncated or
    coarser (tiers, blocks, histogram and distinct tiers, alert
    episodes, daemon sinks), so each ``chunk_key=yyyy-MM-dd-HH``
    partition holds a single ``chunk_start`` and is either wholly
    expired or wholly kept. No Spark job runs."""
    cutoff = ttl_cutoff_key(now_ts, ttl_hours)
    rows = store.rows_older_than(table, cutoff)
    parts = store.drop_partitions_older_than(table, cutoff)
    return {"expired_partitions": parts, "expired_rows": rows}


def size_cap_plan(chunk_sizes: DataFrame, cap_bytes: int) -> DataFrame:
    """chunk_sizes(chunk_start, bytes) → chunks to evict, oldest-first,
    so that the retained total is ≤ cap (src/sink.rs:185-222 semantics:
    evict oldest while over cap).

    Running sum over newest-first ordering: a chunk is KEPT while the
    cumulative bytes including it stay within cap.
    """
    w = Window.orderBy(F.desc("chunk_start")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        chunk_sizes.withColumn("running", F.sum("bytes").over(w))
        .filter(F.col("running") > cap_bytes)
        .select("chunk_start", "bytes")
    )


def size_cap_evict(
    store, table: str, cap_bytes: int, size_col: str | None = None,
    size_expr=None,
) -> dict:
    """Apply the size cap to a stored tier/block table. Sizes come from the
    table's own accounting (``size_col`` column name, or ``size_expr`` — a
    Column like length(ts_block)+length(val_block) for Gorilla blocks),
    else a fixed per-row estimate. Returns counters
    (beamium_skip_max_size analogue)."""
    if not store.exists(table):
        return {"evicted_chunks": 0, "evicted_rows": 0}
    df = store.read(table)
    if size_expr is not None:
        sizes = df.groupBy("chunk_start").agg(F.sum(size_expr).alias("bytes"))
    elif size_col:
        sizes = df.groupBy("chunk_start").agg(F.sum(size_col).alias("bytes"))
    else:
        sizes = df.groupBy("chunk_start").agg((F.count("*") * 64).alias("bytes"))
    doomed = size_cap_plan(sizes, cap_bytes)
    chunks = [r["chunk_start"] for r in doomed.collect()]
    rows = 0
    if chunks:
        rows = store.delete_where(
            table, F.col("chunk_start").isin(chunks)
        )
    return {"evicted_chunks": len(chunks), "evicted_rows": rows}
