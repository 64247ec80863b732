"""Regression: ParquetTierStore writes must be self-contained.

Round-3 gate failure: the store's partitioned overwrites relied on
``spark.sql.sources.partitionOverwriteMode=dynamic`` being set in the
SESSION (our ``get_spark`` factory sets it) — but a host application's
SparkSession defaults to STATIC mode, under which
``mode("overwrite").partitionBy(...)`` replaces the WHOLE table with the
written frame. For the streaming epoch sink that meant every epoch
truncated all prior epochs: after the final watermark-flush epoch only
sentinel windows remained (CORRECTNESS_r03 stream_rollup_1m: 0 rows).

Fix: the dynamic mode is set per-writer (`.option("partitionOverwriteMode",
"dynamic")`), which takes precedence over the session conf. These tests
drive every partitioned write path inside a session with STATIC mode
forced on, exactly reproducing a foreign host session.
"""

import pyspark.sql.functions as F
import pytest

from beamium_spark.sources.tables import ParquetTierStore


@pytest.fixture()
def static_spark(spark):
    """A session whose SQLConf has the Spark DEFAULT (static) partition
    overwrite mode — the foreign-host-session scenario. ``newSession()``
    shares the SparkContext but gets its own SQLConf; we force static
    explicitly in case builder-level confs propagated."""
    s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert s.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    return s


def _batch(s, bucket, ws):
    return s.createDataFrame(
        [(bucket, "doc_count", ws, 3, 3.0, 1.0, 1.0)],
        "bucket int, metric string, window_start string, cnt long, "
        "sum_value double, min_value double, max_value double",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))


def test_two_epoch_sink_survives_static_session(static_spark, tmp_path):
    """Two streaming epochs through epoch_fenced_sink in a static-mode
    session: both epochs' rows must survive (pre-fix: epoch 2 truncated
    epoch 1 → only the last epoch's rows remained)."""
    from beamium_spark.streaming.rollup_stream import epoch_fenced_sink

    store = ParquetTierStore(static_spark, str(tmp_path / "store"))
    sink = epoch_fenced_sink(store)
    sink(_batch(static_spark, 1, "2025-01-01 00:01:00"), 0)
    sink(_batch(static_spark, 2, "2025-01-01 00:02:00"), 1)
    got = store.read("stream_rollup_1m")
    assert got.count() == 2
    assert {r["epoch_id"] for r in got.select("epoch_id").collect()} == {0, 1}
    # replay of epoch 1 is still idempotent (overwrites only its partition)
    sink(_batch(static_spark, 2, "2025-01-01 00:02:00"), 1)
    assert store.read("stream_rollup_1m").count() == 2


def test_incremental_write_chunks_static_session(static_spark, tmp_path):
    """Two incremental write_chunks passes targeting different chunk hours
    must coexist; a replay of one chunk replaces only that chunk."""
    store = ParquetTierStore(static_spark, str(tmp_path / "store"))
    a = _batch(static_spark, 1, "2025-01-01 00:01:00").withColumn(
        "chunk_start", F.date_trunc("hour", "window_start")
    )
    b = _batch(static_spark, 1, "2025-01-01 01:01:00").withColumn(
        "chunk_start", F.date_trunc("hour", "window_start")
    )
    store.write_chunks(a, "t1m")
    store.write_chunks(b, "t1m")
    assert store.read("t1m").count() == 2  # pre-fix: 1 (b clobbered a)
    # replay chunk b with 2 rows: chunk a untouched
    b2 = b.union(
        _batch(static_spark, 2, "2025-01-01 01:05:00").withColumn(
            "chunk_start", F.date_trunc("hour", "window_start")
        )
    )
    store.write_chunks(b2, "t1m")
    got = store.read("t1m")
    assert got.count() == 3
    assert got.filter(F.col("chunk_key") == "2025-01-01-00").count() == 1


def test_delete_where_and_compact_static_session(static_spark, tmp_path):
    """delete_where's partition rewrite and compact_chunks' rewrite must
    not clobber untouched partitions in a static-mode session."""
    store = ParquetTierStore(static_spark, str(tmp_path / "store"))
    rows = [
        _batch(static_spark, i, f"2025-01-01 {h:02d}:01:00").withColumn(
            "chunk_start", F.date_trunc("hour", "window_start")
        )
        for i, h in [(1, 0), (2, 1), (3, 2)]
    ]
    df = rows[0].union(rows[1]).union(rows[2])
    store.write_chunks(df, "t1m")
    assert store.read("t1m").count() == 3
    # delete one row from hour-1 partition: hours 0 and 2 must survive
    n = store.delete_where("t1m", F.col("bucket") == 2)
    assert n == 1
    got = store.read("t1m")
    assert got.count() == 2
    assert {r["chunk_key"] for r in got.select("chunk_key").collect()} == {
        "2025-01-01-00",
        "2025-01-01-02",
    }
    # compact a single chunk: the other chunk must survive
    stats = store.compact_chunks("t1m", chunks=["2025-01-01-00"])
    assert stats["chunks"] == 1
    assert store.read("t1m").count() == 2


def test_store_requires_a_utc_session(spark, tmp_path):
    """Chunk keys and decoded block timestamps are formatted in the
    session zone, so a store refuses any zone that is not UTC."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    with pytest.raises(ValueError, match="requires UTC"):
        ParquetTierStore(s, str(tmp_path / "ny"))
    s.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    ParquetTierStore(s, str(tmp_path / "utc"))
