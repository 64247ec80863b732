"""Retention semantics (FIXTURES.md F-4 scenario 4): TTL evicts exactly the
expired windows; size cap drops oldest-first (reference src/sink.rs:101-146,
172-222)."""

import pyspark.sql.functions as F
import pytest

from beamium_spark.operators.retention import size_cap_plan, ttl_evict, size_cap_evict
from beamium_spark.plans.job import JobConf, RetentionPolicy, RollupJob
from beamium_spark.sources.synth import ensure_web_pages


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    j = RollupJob(
        spark,
        ensure_web_pages(0.0003),
        str(tmp_path_factory.mktemp("ret") / "s"),
        JobConf(bucket_mode="site", write_blocks=False),
    )
    j.run()
    return j


def test_ttl_evicts_exactly_expired(spark, job):
    # data spans 3 days from 2025-01-01; pretend "now" is end of day 3
    before = job.tier("rollup_1m").count()
    kept_expected = (
        job.store.read("rollup_1m")
        .filter(F.col("chunk_start") >= F.lit("2025-01-02 00:00:00").cast("timestamp"))
        .count()
    )
    out = ttl_evict(job.store, "rollup_1m", "2025-01-04T00:00:00", ttl_hours=48)
    after = job.tier("rollup_1m").count()
    assert after == kept_expected
    assert out["expired_partitions"] + out["expired_rows"] > 0
    assert after < before
    # reruns are stable (nothing more to evict)
    out2 = ttl_evict(job.store, "rollup_1m", "2025-01-04T00:00:00", ttl_hours=48)
    assert out2["expired_partitions"] == 0 and out2["expired_rows"] == 0


def test_size_cap_plan_oldest_first():
    sizes = {"2025-01-01-02": 100, "2025-01-01-00": 100,
             "2025-01-01-03": 100, "2025-01-01-01": 100}
    got = sorted(size_cap_plan(sizes, cap_bytes=250))
    # newest 2 chunks fit within 250; the two OLDEST are evicted
    assert got == ["2025-01-01-00", "2025-01-01-01"]


def test_size_cap_evict_on_store(spark, job):
    per_chunk = job.store.read("rollup_1h").groupBy("chunk_start").count().collect()
    assert len(per_chunk) > 1
    on_disk = [nbytes for _, nbytes in job.store.partitions("rollup_1h").values()]
    cap = sum(on_disk) // 3  # keep roughly the newest third
    out = size_cap_evict(job.store, "rollup_1h", cap_bytes=cap)
    assert out["evicted_chunks"] > 0
    assert out["evicted_rows"] > 0
    # survivors exist and are strictly the NEWEST chunks (oldest-first evict)
    kept = {
        r["chunk_start"]
        for r in job.store.read("rollup_1h").select("chunk_start").distinct().collect()
    }
    assert kept
    evicted = {r["chunk_start"] for r in per_chunk} - kept
    assert evicted and max(evicted) < min(kept)
    # evict-everything path: the table reads as cleanly absent, and a rerun
    # is a stable no-op (src/sink.rs:185-222 drains then idles)
    size_cap_evict(job.store, "rollup_1h", cap_bytes=0)
    assert not job.store.exists("rollup_1h")
    out3 = size_cap_evict(job.store, "rollup_1h", cap_bytes=0)
    assert out3 == {"evicted_chunks": 0, "evicted_rows": 0}


def test_size_cap_blocks_uses_block_accounting(spark, tmp_path):
    """The blocks size cap sums the partitions' parquet bytes on disk, as
    every table's cap does, and evicts oldest chunks first."""
    from beamium_spark.plans.job import JobConf, RetentionPolicy, RollupJob

    j = RollupJob(
        spark,
        ensure_web_pages(0.0003),
        str(tmp_path / "s"),
        JobConf(
            bucket_mode="site",
            write_blocks=True,
            retention={"blocks": RetentionPolicy(cap_bytes=1)},
        ),
    )
    j.run()
    chunks_before = (
        j.store.read("blocks").select("chunk_start").distinct().count()
    )
    assert chunks_before > 1
    out = j.apply_retention("2025-01-04T00:00:00")
    # cap of 1 byte: even the newest chunk exceeds it -> everything evicted
    assert out["blocks"]["evicted_chunks"] == chunks_before
    assert not j.store.exists("blocks")


def test_compact_chunks_merges_small_files(spark, tmp_path):
    import datetime as dt

    from beamium_spark.sources.tables import ParquetTierStore

    store = ParquetTierStore(spark, str(tmp_path / "s"))
    t0 = dt.datetime(2025, 1, 1)
    # five incremental appends into the same two chunks -> many small files
    for i in range(5):
        df = spark.createDataFrame(
            [
                (0, "m", t0, t0, float(i)),
                (0, "m", t0 + dt.timedelta(hours=1), t0 + dt.timedelta(hours=1), float(i)),
            ],
            "bucket int, metric string, window_start timestamp, "
            "chunk_start timestamp, value double",
        ).withColumn("chunk_key", F.date_format("chunk_start", "yyyy-MM-dd-HH"))
        df.write.mode("append").partitionBy("chunk_key").parquet(store.path("t"))
    before = store.chunk_file_counts("t")
    assert all(n >= 5 for n in before.values())
    data_before = sorted(tuple(r) for r in store.read("t").drop("chunk_key").collect())

    out = store.compact_chunks("t")
    assert out["chunks"] == 2
    assert out["files_after"] < out["files_before"]
    after = store.chunk_file_counts("t")
    assert all(n == 1 for n in after.values())
    data_after = sorted(tuple(r) for r in store.read("t").drop("chunk_key").collect())
    assert data_after == data_before


def test_compact_chunks_subset_only_touches_named(spark, tmp_path):
    import datetime as dt

    from beamium_spark.sources.tables import ParquetTierStore

    store = ParquetTierStore(spark, str(tmp_path / "s"))
    t0 = dt.datetime(2025, 1, 1)
    for i in range(3):
        df = spark.createDataFrame(
            [
                (0, "m", t0, t0, float(i)),
                (0, "m", t0 + dt.timedelta(hours=1), t0 + dt.timedelta(hours=1), float(i)),
            ],
            "bucket int, metric string, window_start timestamp, "
            "chunk_start timestamp, value double",
        ).withColumn("chunk_key", F.date_format("chunk_start", "yyyy-MM-dd-HH"))
        df.write.mode("append").partitionBy("chunk_key").parquet(store.path("t"))
    store.compact_chunks("t", chunks=["2025-01-01-00"])
    counts = store.chunk_file_counts("t")
    assert counts["2025-01-01-00"] == 1
    assert counts["2025-01-01-01"] == 3  # untouched


def test_store_maintenance_on_file_uri_root(spark, tmp_path):
    """The full maintenance contract against a ``file:``-URI root — the
    shape a non-POSIX object store presents: every listing/unlink/rewrite
    must route through the Hadoop FileSystem resolved from the URI, never
    the driver's os/shutil view. Mirrors the POSIX-path tests above:
    write → TTL partition drop → row-level delete (incl. emptied-partition
    unlink) → compaction → drop."""
    import datetime as dt

    from beamium_spark.sources.tables import ParquetTierStore

    root = "file://" + str(tmp_path / "uri_store")
    store = ParquetTierStore(spark, root)
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (0, "m", t0 + dt.timedelta(days=d, hours=h), t0 + dt.timedelta(days=d, hours=h), 1.0)
        for d in range(3)
        for h in range(2)
    ]
    df = spark.createDataFrame(
        rows,
        "bucket int, metric string, window_start timestamp, "
        "chunk_start timestamp, value double",
    )
    store.write_chunks(df, "t")
    assert store.exists("t")
    assert store.read("t").count() == 6
    assert len(store.chunk_file_counts("t")) == 6

    # TTL: drop day-0 partitions (2 chunks)
    assert store.drop_partitions_older_than("t", "2025-01-02") == 2
    assert store.read("t").count() == 4

    # row-level delete that empties one partition and trims another
    n = store.delete_where(
        "t", F.col("window_start") < dt.datetime(2025, 1, 2, 1)
    )
    assert n == 1
    assert store.read("t").count() == 3
    assert "2025-01-02-00" not in store.chunk_file_counts("t")

    # compaction: append small files then merge to one per chunk
    extra = df.filter(F.col("chunk_start") >= dt.datetime(2025, 1, 3)).withColumn(
        "chunk_key", F.date_format("chunk_start", "yyyy-MM-dd-HH")
    )
    for _ in range(2):
        extra.write.mode("append").partitionBy("chunk_key").parquet(store.path("t"))
    out = store.compact_chunks("t")
    assert out["files_after"] < out["files_before"]
    assert all(v == 1 for v in store.chunk_file_counts("t").values())

    store.drop("t")
    assert not store.exists("t")
