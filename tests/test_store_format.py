"""The tier store owns its parquet layout.

Every parquet file ``ParquetTierStore`` writes has zstd pages and no
min/max statistics on the opaque block blobs (``ts_block``/``val_block``),
whatever the session's ``spark.sql.parquet.compression.codec``; the
clustering columns ``bucket`` and ``metric`` keep theirs for pruning.
A ``chunk_key`` partition's files hold no ``chunk_start`` (a read derives
it from the key), no dictionary page on the columns whose values do not
repeat, and rows sorted series-first (metric, bucket, window_start).
Files written before this layout (snappy, with blob statistics, with
``chunk_start``, dictionary-encoded doubles, bucket-first rows) stay
readable beside it, and a compaction re-encodes them.
"""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from beamium_spark.sources.tables import ParquetTierStore

BLOBS = {"ts_block", "val_block"}
#: ``window_start`` is not here: Spark writes timestamps as INT96, for
#: which parquet keeps no min/max in any layout
PRUNED = {"bucket", "metric"}
#: columns whose values almost never repeat: no dictionary page
NO_DICT = {"sum_value", "min_value", "max_value"} | BLOBS


def _column_chunks(root):
    """(file, column name, column chunk metadata) of every parquet file
    under ``root``."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    assert files, root
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                yield path, col.path_in_schema, col


def _has_min_max(col):
    return col.is_stats_set and col.statistics.has_min_max


def _assert_store_layout(root):
    seen = set()
    for path, name, col in _column_chunks(root):
        seen.add(name)
        assert col.compression == "ZSTD", (path, name, col.compression)
        if name in BLOBS:
            assert not _has_min_max(col), (path, name)
        if name in PRUNED:
            assert _has_min_max(col), (path, name)
    return seen


def _assert_chunk_layout(root):
    """``_assert_store_layout`` for a ``chunk_key``-partitioned table,
    plus: no ``chunk_start`` column and no dictionary page on ``NO_DICT``."""
    seen = _assert_store_layout(root)
    for path, name, col in _column_chunks(root):
        assert "chunk_key=" in path, path
        assert name != "chunk_start", path
        if name in NO_DICT:
            assert not col.has_dictionary_page, (path, name)
    return seen


def _sort_keys(path, cols):
    t = pq.read_table(path, columns=list(cols))
    return list(zip(*[t.column(c).to_pylist() for c in cols]))


def _blocks(s, rows):
    """A block-store-shaped frame: (bucket, metric, window_start) keys
    and two binary blobs."""
    return s.createDataFrame(
        [(b, m, ws, bytes([b]) * 40, bytes([b + 1]) * 40) for b, m, ws in rows],
        "bucket int, metric string, window_start string, "
        "ts_block binary, val_block binary",
    ).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    ).withColumn("chunk_start", F.date_trunc("hour", "window_start"))


@pytest.fixture()
def gzip_spark(spark):
    """A host session whose parquet codec is gzip: the store's files must
    not follow it."""
    s = spark.newSession()
    s.conf.set("spark.sql.parquet.compression.codec", "gzip")
    return s


def test_every_store_write_has_the_store_layout(gzip_spark, tmp_path):
    s = gzip_spark
    store = ParquetTierStore(s, str(tmp_path / "store"))
    rows = [(1, "doc_count", "2025-01-01 00:01:00"),
            (2, "byte_size", "2025-01-01 00:02:00"),
            (3, "doc_count", "2025-01-01 01:05:00"),
            (4, "doc_count", "2025-01-01 02:05:00")]

    store.write_chunks(_blocks(s, rows), "blocks")
    assert _assert_store_layout(store.path("blocks")) >= BLOBS | PRUNED
    store.compact_chunks("blocks")
    _assert_store_layout(store.path("blocks"))
    # partitioned delete: hour 1 emptied and unlinked, hour 0 rewritten
    assert store.delete_where("blocks", F.col("bucket").isin(2, 3)) == 2
    _assert_store_layout(store.path("blocks"))
    assert sorted(r["bucket"] for r in store.read("blocks").collect()) == [1, 4]

    # the streaming epoch sink's write
    store.overwrite_partition(
        _blocks(s, rows[:2]).withColumn("epoch_id", F.lit(0)), "epochs", "epoch_id"
    )
    _assert_store_layout(store.path("epochs"))

    # unpartitioned append, then delete_where's whole-table rewrite
    store.append(_blocks(s, rows).drop("chunk_start"), "flat")
    store.append(_blocks(s, rows[:1]).drop("chunk_start"), "flat")
    _assert_store_layout(store.path("flat"))
    assert store.delete_where("flat", F.col("bucket") == 1) == 2
    _assert_store_layout(store.path("flat"))
    assert store.read("flat").count() == 3


def test_older_snappy_partition_reads_evicts_and_compacts(spark, tmp_path):
    """A partition written before the store owned its layout (snappy,
    blob statistics kept) sits beside zstd partitions: reads and
    ``query()`` see every row, the size cap counts its bytes, and
    compaction re-encodes it."""
    from beamium_spark.operators.retention import size_cap_evict
    from beamium_spark.plans.job import JobConf, RollupJob
    from beamium_spark.plans.query import query
    from beamium_spark.sources.synth import ensure_web_pages

    state = str(tmp_path / "s")
    job = RollupJob(spark, ensure_web_pages(0.0003), state,
                    JobConf(bucket_mode="site", write_blocks=False))
    job.run(max_chunks=3)
    store = ParquetTierStore(spark, state)
    table, path = "rollup_1m", store.path("rollup_1m")
    span = ("2025-01-01T00:00:00", "2025-01-04T00:00:00")

    def _snapshot():
        return (
            sorted(tuple(r) for r in store.read(table).collect()),
            sorted(tuple(r) for r in query(store, "doc_count", *span,
                                           step="1 minute").collect()),
        )

    rows_before, series_before = _snapshot()
    assert series_before
    k0, k1, k2 = sorted(store.partitions(table))

    # rewrite the middle hour outside the store, as an older store did
    old = store.read(table).filter(F.col("chunk_key") == k1)
    old = spark.createDataFrame(old.collect(), old.schema)
    old.write.mode("overwrite").option("compression", "snappy").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("chunk_key").parquet(path)
    codecs = {
        os.path.basename(os.path.dirname(f)): col.compression
        for f, _, col in _column_chunks(path)
    }
    assert codecs == {f"chunk_key={k0}": "ZSTD", f"chunk_key={k1}": "SNAPPY",
                      f"chunk_key={k2}": "ZSTD"}

    assert _snapshot() == (rows_before, series_before)

    # a cap that holds exactly the two newest partitions evicts the oldest
    sizes = {k: b for k, (_, b) in store.partitions(table).items()}
    k0_rows = store.read(table).filter(F.col("chunk_key") == k0).count()
    got = size_cap_evict(store, table, sizes[k1] + sizes[k2])
    assert got == {"evicted_chunks": 1, "evicted_rows": k0_rows}
    assert sorted(store.partitions(table)) == [k1, k2]

    kept = sorted(tuple(r) for r in store.read(table).collect())
    store.compact_chunks(table)
    _assert_store_layout(path)
    assert sorted(tuple(r) for r in store.read(table).collect()) == kept


def _tier(s, rows):
    """A 1m-tier-shaped frame; the doubles differ on every row."""
    return s.createDataFrame(
        [(b, m, ws, 2, b + 0.1 * i, b - 0.3 * i, b + 0.7 * i)
         for i, (b, m, ws) in enumerate(rows)],
        "bucket int, metric string, window_start string, cnt long, "
        "sum_value double, min_value double, max_value double",
    ).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    ).withColumn("chunk_start", F.date_trunc("hour", "window_start"))


def test_chunk_writes_keep_no_derivable_byte(spark, tmp_path):
    """Tier, block and router-sink writes, compaction and ``delete_where``
    leave files with no ``chunk_start`` and no dictionary on the doubles
    or blobs; a read gives back every row with ``chunk_start`` = its hour."""
    from beamium_spark.conf import EngineConf, SinkConf
    from beamium_spark.plans.router import route_multicast

    store = ParquetTierStore(spark, str(tmp_path / "store"))
    rows = [(b, m, f"2025-01-01 0{h}:{mi:02d}:00")
            for h in range(3) for b in (2, 1) for m in ("doc_count", "byte_size")
            for mi in range(0, 60, 15)]
    tier = _tier(spark, rows)
    store.write_chunks(tier, "rollup_1m")
    store.write_chunks(_blocks(spark, rows), "blocks")
    assert _assert_chunk_layout(store.path("rollup_1m")) >= NO_DICT - BLOBS | PRUNED
    assert _assert_chunk_layout(store.path("blocks")) >= BLOBS | PRUNED

    def _rows(df):
        return sorted(tuple(r) for r in df.select(*tier.columns).collect())

    assert _rows(store.read("rollup_1m")) == _rows(tier)

    points = spark.createDataFrame(
        [("node_cpu", f"2025-01-01 0{h}:05:00", float(h)) for h in range(3)],
        "metric string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    route_multicast(points, EngineConf(sinks=[SinkConf(name="all", table="sink")]), store)
    _assert_chunk_layout(store.path("sink"))
    got = store.read("sink")
    assert got.filter(F.col("chunk_start") != F.date_trunc("hour", "ts")).count() == 0
    assert got.count() == 3

    for table in ("rollup_1m", "blocks"):
        store.compact_chunks(table)
        _assert_chunk_layout(store.path(table))
    assert _rows(store.read("rollup_1m")) == _rows(tier)
    doomed = F.col("metric") == "byte_size"
    assert store.delete_where("rollup_1m", doomed) == tier.filter(doomed).count()
    _assert_chunk_layout(store.path("rollup_1m"))
    assert _rows(store.read("rollup_1m")) == _rows(tier.filter(~doomed))


def test_older_layout_partition_reads_evicts_and_compacts(spark, tmp_path):
    """A partition in the layout before this one (``chunk_start`` in its
    files, dictionary-encoded doubles, bucket-first rows) sits beside
    new partitions: reads, ``query()``, TTL and size-cap eviction and
    compaction give what they give on a copy of the uniform table, and
    compaction rewrites the old partition in the new layout."""
    import datetime as dt
    import shutil

    from beamium_spark.operators.retention import size_cap_evict, ttl_evict
    from beamium_spark.plans.job import JobConf, RollupJob
    from beamium_spark.plans.query import query
    from beamium_spark.sources.synth import ensure_web_pages

    state, ref = str(tmp_path / "s"), str(tmp_path / "ref")
    RollupJob(spark, ensure_web_pages(0.0003), state,
              JobConf(bucket_mode="site", write_blocks=False)).run(max_chunks=4)
    shutil.copytree(state, ref)
    store, uniform = ParquetTierStore(spark, state), ParquetTierStore(spark, ref)
    table, path = "rollup_1m", store.path("rollup_1m")
    k0, k1, k2, k3 = sorted(store.partitions(table))
    span = ("2025-01-01T00:00:00", "2025-01-04T00:00:00")

    def _snapshot(st):
        return (
            sorted(tuple(r) for r in st.read(table).collect()),
            sorted(tuple(r) for r in query(st, "doc_count", *span,
                                           step="1 minute").collect()),
        )

    # rewrite k2 outside the store, as the earlier layout had it
    old = store.read(table).filter(F.col("chunk_key") == k2)
    old = spark.createDataFrame(old.collect(), old.schema)
    old.coalesce(1).sortWithinPartitions(
        "chunk_key", "bucket", "metric", "window_start"
    ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "chunk_key"
    ).parquet(path)
    (old_file,) = glob.glob(os.path.join(path, f"chunk_key={k2}", "*.parquet"))
    names = {n for _, n, _ in _column_chunks(os.path.dirname(old_file))}
    assert "chunk_start" in names
    assert any(col.has_dictionary_page for _, n, col in
               _column_chunks(os.path.dirname(old_file)) if n in NO_DICT)
    keys = _sort_keys(old_file, ("bucket", "metric", "window_start"))
    assert keys == sorted(keys)
    assert [(m, b, w) for b, m, w in keys] != sorted((m, b, w) for b, m, w in keys)

    assert _snapshot(store) == _snapshot(uniform)
    assert store.read(table).schema == uniform.read(table).schema

    # TTL cuts at k1; the cap then holds exactly k2 (old) and k3
    now = (dt.datetime.strptime(k1, "%Y-%m-%d-%H") + dt.timedelta(hours=1)).isoformat()
    assert ttl_evict(store, table, now, 1.0) == ttl_evict(uniform, table, now, 1.0)

    def _cap(st):
        sizes = {k: b for k, (_, b) in st.partitions(table).items()}
        return size_cap_evict(st, table, sizes[k2] + sizes[k3])

    got = _cap(store)
    assert got["evicted_chunks"] == 1 and got == _cap(uniform)
    assert sorted(store.partitions(table)) == [k2, k3]
    assert _snapshot(store) == _snapshot(uniform)

    store.compact_chunks(table)
    _assert_chunk_layout(path)
    (new_file,) = glob.glob(os.path.join(path, f"chunk_key={k2}", "*.parquet"))
    keys = _sort_keys(new_file, ("metric", "bucket", "window_start"))
    assert keys == sorted(keys)
    assert _snapshot(store) == _snapshot(uniform)


def test_chunk_start_is_a_timestamp_under_an_ntz_session(bare_spark, tmp_path):
    """``chunk_start`` comes back as a ``TimestampType`` at its chunk's
    hour even when the session's default timestamp type is NTZ."""
    from pyspark.sql import types as T

    s = bare_spark  # session-scoped: the conf is unset again below
    s.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        store = ParquetTierStore(s, str(tmp_path / "store"))
        store.write_chunks(_tier(s, [(1, "doc_count", "2025-01-01 00:10:00"),
                                     (1, "doc_count", "2025-01-01 05:20:00")]), "t")
        for st in (store, ParquetTierStore(s, store.root)):  # written, then inferred
            got = st.read("t")
            assert got.schema["chunk_start"].dataType == T.TimestampType()
            hours = got.select(F.date_format("chunk_start", "yyyy-MM-dd-HH"), "chunk_key")
            assert sorted(tuple(r) for r in hours.collect()) == [
                ("2025-01-01-00", "2025-01-01-00"), ("2025-01-01-05", "2025-01-01-05")]
    finally:
        s.conf.unset("spark.sql.timestampType")
