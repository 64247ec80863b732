"""The tier store owns its parquet layout.

Every parquet file ``ParquetTierStore`` writes has zstd pages and no
min/max statistics on the opaque block blobs (``ts_block``/``val_block``),
whatever the session's ``spark.sql.parquet.compression.codec``; the
clustering columns ``bucket`` and ``metric`` keep theirs for pruning.
Files written before this layout (snappy, with blob statistics) stay
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
