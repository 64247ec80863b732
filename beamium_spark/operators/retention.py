"""Retention: TTL and size-cap eviction per tier.

Beamium's sink scanner deletes files older than ``ttl`` unsent (default
1 h, /root/reference/src/sink.rs:101-146, conf src/conf.rs:350-359) and,
while the sink dir exceeds ``size`` (default 1 GiB, src/conf.rs:361-372),
pops the **oldest** queue entries and deletes them (src/sink.rs:172-222),
incrementing ``beamium_skip_ttl`` / ``beamium_skip_max_size``
(src/sink.rs:23-40).

Engine mapping: a retention *policy* per tier — the 1m tier keeps hours,
1h keeps days, 1d keeps forever. Both limits are a cutoff ``chunk_key``
followed by one unlink of every hour partition before it: the TTL's
cutoff is ``now − ttl``; the size cap's is the oldest partition that
still fits when partitions are kept newest-first. Oldest-first eviction
always removes a prefix of the key order, so the cap is just an earlier
cutoff. Sizes are the partitions' parquet bytes on disk, as beamium sums
the file sizes of its sink directory (earlier versions estimated 64 B
per row, or summed encoded block lengths for ``blocks``). Both return
the evicted counts for the counters table.

Scale: a partition listing + directory unlinks, with the evicted rows
counted from the parquet footers — no data read, no Spark job.
"""

from __future__ import annotations

import datetime as dt

from beamium_spark.sources.tables import KEY_FORMAT


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
    return hour.strftime(KEY_FORMAT)


def _evict_before(store, table: str, cutoff_key: str) -> tuple[int, int]:
    """The one eviction primitive: (partitions, rows) unlinked before
    ``cutoff_key``, the rows counted from the footers first."""
    rows = store.rows_older_than(table, cutoff_key)
    return store.drop_partitions_older_than(table, cutoff_key), rows


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
    parts, rows = _evict_before(store, table, ttl_cutoff_key(now_ts, ttl_hours))
    return {"expired_partitions": parts, "expired_rows": rows}


def size_cap_plan(sizes: dict[str, int], cap_bytes: int) -> list[str]:
    """chunk_key → bytes, to the keys to evict, oldest first, so that
    the kept total is ≤ cap (src/sink.rs:185-222: evict the oldest while
    over cap). Walking newest-first, a partition is KEPT while the
    running total including it stays within the cap; every older one is
    evicted."""
    kept = 0
    keys = sorted(sizes, reverse=True)
    for i, key in enumerate(keys):
        kept += sizes[key]
        if kept > cap_bytes:
            return keys[i:][::-1]
    return []


def size_cap_evict(store, table: str, cap_bytes: int) -> dict:
    """Apply the size cap to a stored table, measured in parquet bytes on
    disk per partition. Evicts through the TTL's primitive, with the
    hour after the newest doomed partition as the cutoff. Returns
    counters (beamium_skip_max_size analogue). No Spark job runs."""
    sizes = {k: nbytes for k, (_, nbytes) in store.partitions(table).items()}
    doomed = size_cap_plan(sizes, cap_bytes)
    if not doomed:
        return {"evicted_chunks": 0, "evicted_rows": 0}
    newest = dt.datetime.strptime(doomed[-1], KEY_FORMAT)
    cutoff = (newest + dt.timedelta(hours=1)).strftime(KEY_FORMAT)
    parts, rows = _evict_before(store, table, cutoff)
    return {"evicted_chunks": parts, "evicted_rows": rows}
