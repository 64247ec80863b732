"""Structured Streaming rollup: a staged, time-ordered stream drains to
exactly the batch tier (watermark passes every real window via a sentinel).
"""

import pyspark.sql.functions as F
import pytest

from beamium_spark.operators.extract import extract_points
from beamium_spark.operators.rollup import rollup_tier
from beamium_spark.sources.synth import BASE_TS_US, ensure_web_pages
from beamium_spark.sources.tables import ParquetTierStore
from beamium_spark.streaming.rollup_stream import run_stream_to_store


def test_stream_matches_batch(spark, tmp_path):
    # cached in the shared session: unpersisted on the way out, or later
    # tests reading the same files plan against the in-memory relation
    pages = spark.read.parquet(ensure_web_pages(0.0003)).cache()
    try:
        split_ts = "2025-01-03 00:00:00"
        part_a = pages.filter(F.col("warc_ts") < split_ts)
        part_b = pages.filter(F.col("warc_ts") >= split_ts)
        sentinel = spark.createDataFrame(
            [("https://site0000.example/sentinel", "x", "en")],
            "url string, text string, lang string",
        ).select(
            "url",
            F.lit((BASE_TS_US + 10 * 86400 * 1000000) // 1000000)
            .cast("timestamp")
            .alias("warc_ts"),
            F.lit(b"<html><body>x</body></html>").alias("html"),
            "text",
            "lang",
        ).select("url", "warc_ts", "html", "text", "lang")

        stream_dir = str(tmp_path / "in")
        store = ParquetTierStore(spark, str(tmp_path / "store"))

        part_a.coalesce(1).write.mode("append").parquet(stream_dir)
        q = run_stream_to_store(
            spark, stream_dir, store,
            checkpoint_dir=str(tmp_path / "ckpt"),
            watermark="10 minutes", bucket_mode="site",
        )
        try:
            q.processAllAvailable()
            part_b.coalesce(1).write.mode("append").parquet(stream_dir)
            q.processAllAvailable()
            sentinel.coalesce(1).write.mode("append").parquet(stream_dir)
            q.processAllAvailable()
        finally:
            q.stop()

        cutoff = "2025-01-05 00:00:00"  # excludes only the sentinel's windows
        streamed = (
            store.read("stream_rollup_1m")
            .drop("chunk_start", "chunk_key", "epoch_id")
            .filter(F.col("window_start") < cutoff)
        )
        batch = rollup_tier(extract_points(pages, bucket_mode="site"), "1 minute")
        cols = sorted(streamed.columns)
        assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0
        assert batch.select(cols).exceptAll(streamed.select(cols)).count() == 0
        assert pytest  # keep import
    finally:
        pages.unpersist()


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Kill-mid-epoch: replaying the same epoch (as Structured Streaming
    does after a foreachBatch crash) leaves the sink unchanged — the
    epoch_id partition is overwritten, never double-appended."""
    from beamium_spark.streaming.rollup_stream import epoch_fenced_sink

    store = ParquetTierStore(spark, str(tmp_path / "store"))
    sink = epoch_fenced_sink(store)
    batch = spark.createDataFrame(
        [(1, "doc_count", "2025-01-01 00:01:00", 3, 3.0, 1.0, 1.0)],
        "bucket int, metric string, window_start string, cnt long, "
        "sum_value double, min_value double, max_value double",
    ).withColumn("window_start", F.col("window_start").cast("timestamp"))
    sink(batch, 7)
    n1 = store.read("stream_rollup_1m").count()
    # half-written epoch replay: same epoch id, same (or partial) data
    sink(batch, 7)
    n2 = store.read("stream_rollup_1m").count()
    assert n1 == n2 == 1
    # a NEW epoch appends
    sink(batch.withColumn("bucket", F.lit(2)), 8)
    assert store.read("stream_rollup_1m").count() == 2


def test_gts_stream_matches_batch(spark, tmp_path):
    """Streaming GTS text source drains to the same 1m rollup the batch
    reader computes — including series identity: two series distinguished
    ONLY by labels (same metric) must NOT merge, and label entry order
    must not split a series (canonical key-sorted identity). Mirrors the
    reference where identity is class + labels (src/lib/mod.rs:88-98)."""
    from beamium_spark.functions.labels import labels_sorted_str
    from beamium_spark.streaming.rollup_stream import (
        epoch_fenced_sink,
        read_gts_stream,
        streaming_gts_rollup_1m,
    )

    d = tmp_path / "gts"
    d.mkdir()
    base = 1735689600000000
    lines = []
    for i in range(40):
        ts = base + i * 15_000_000
        lines.append(f"{ts}// cpu{{h=a,dc=eu}} {float(i)}")
        # same metric, label-only-distinguished series — must stay separate;
        # entry order flips between points — must still be ONE series
        order = "{h=b,dc=eu}" if i % 2 else "{dc=eu,h=b}"
        lines.append(f"{ts}// cpu{order} {float(100 + i)}")
    (d / "a.metrics").write_text("\n".join(lines) + "\n")
    # sentinel far in the future pushes the watermark past every window
    (d / "z.metrics").write_text(f"{base + 10**12}// cpu{{h=a,dc=eu}} 0\n")

    store = ParquetTierStore(spark, str(tmp_path / "store"))
    agg = streaming_gts_rollup_1m(read_gts_stream(spark, str(d)), "1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(epoch_fenced_sink(store, table="gts_1m"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = store.read("gts_1m").drop("chunk_start", "chunk_key", "epoch_id")
    from beamium_spark.sources.gts import read_gts

    pts = read_gts(spark, str(d), metrics_only=True).filter(F.col("ts") < "2025-01-02")
    expected = (
        pts.groupBy(
            "metric",
            labels_sorted_str(F.col("labels")).alias("labels_s"),
            F.window("ts", "1 minute").alias("w"),
        )
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "metric", "labels_s", F.col("w.start").alias("window_start"),
            "cnt", "sum_value", "min_value", "max_value",
        )
    )
    # both label-only-distinguished series present, order-canonicalized
    keys = {r["labels_s"] for r in streamed.select("labels_s").distinct().collect()}
    assert keys == {"dc=eu,h=a", "dc=eu,h=b"}
    cols = sorted(expected.columns)
    got = streamed.filter(F.col("window_start") < "2025-01-02").select(cols)
    assert got.exceptAll(expected.select(cols)).count() == 0
    assert expected.select(cols).exceptAll(got).count() == 0


def test_gts_stream_counters(spark, tmp_path):
    """The streaming GTS source drops =-continuation lines by design; the
    counters stream must surface that (skipped_continuation) instead of a
    silent filter, plus the comment/invalid dispositions."""
    from beamium_spark.streaming.rollup_stream import gts_stream_counters

    d = tmp_path / "gts"
    d.mkdir()
    base = 1735689600000000
    (d / "a.metrics").write_text(
        f"{base}// cpu{{h=a}} 1.0\n"
        f"= 2.0\n"               # continuation (dropped in the stream)
        f"# comment\n"
        f"\n"                    # blank
        f"{base}// cpu{{h=a}} NaN\n"   # non-finite -> invalid
        f"{base}// mem{{h=a}} 3.5\n"
    )
    (d / "skipme.txt").write_text("not metrics\n")  # extension filter

    counts = gts_stream_counters(spark, str(d))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("gts_counters")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = spark.sql("select * from gts_counters").collect()[0]
    assert row["lines"] == 6
    assert row["points"] == 2
    assert row["skipped_continuation"] == 1
    assert row["skipped_comment_blank"] == 2
    assert row["skipped_invalid"] == 1


def test_staleness_alerts(spark, tmp_path):
    """Series 'cpu' stops at t+2m while 'mem' keeps flowing: once the
    watermark (driven by mem) passes cpu.last_seen + threshold, exactly
    one alert fires for cpu and none for mem. A series that never pauses
    longer than the threshold stays silent."""
    from beamium_spark.streaming.rollup_stream import read_gts_stream
    from beamium_spark.streaming.stateful import staleness_alerts

    d = tmp_path / "gts"
    d.mkdir()
    base = 1735689600000000
    # cpu: points for the first 2 minutes only; mem: continuous for 30 min
    lines = []
    for i in range(8):
        lines.append(f"{base + i * 15_000_000}// cpu{{h=a}} 1.0")
    for i in range(120):
        lines.append(f"{base + i * 15_000_000}// mem{{h=a}} 2.0")
    (d / "a.metrics").write_text("\n".join(lines) + "\n")

    alerts = staleness_alerts(
        read_gts_stream(spark, str(d)), threshold_s=120, watermark="10 seconds"
    )
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName("stale_alerts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second file advances the watermark far past everything: mem goes
        # stale too now — proving re-detection — and cpu must NOT re-fire
        (d / "b.metrics").write_text(f"{base + 3600 * 1_000_000}// tick{{h=a}} 0\n")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from stale_alerts").collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], []).append(r)
    # cpu alerted exactly once, with its true last point (t + 105s)
    assert len(by_metric["cpu"]) == 1
    import datetime as dt

    assert by_metric["cpu"][0]["last_seen"] == dt.datetime(2025, 1, 1, 0, 1, 45)
    assert by_metric["cpu"][0]["threshold_s"] == 120
    # measured silence at detection: the watermark had provably moved at
    # least threshold_s past cpu's last point (exact value depends on how
    # far mem's points drove the watermark when the timeout fired)
    assert by_metric["cpu"][0]["silent_for_s"] >= 120
    # mem alerted once the tick pushed the watermark past its horizon
    assert len(by_metric["mem"]) == 1
    assert by_metric["mem"][0]["last_seen"] == dt.datetime(2025, 1, 1, 0, 29, 45)


def test_streaming_session_rollup(spark, tmp_path):
    """session_rollup works unchanged over a watermarked stream: bursts
    split on the gap, and a drained stream equals the batch answer."""
    from beamium_spark.operators.rollup import session_rollup
    from beamium_spark.streaming.rollup_stream import read_gts_stream

    d = tmp_path / "gts"
    d.mkdir()
    base = 1735689600000000
    lines = [f"{base + i * 30_000_000}// cpu{{h=a}} 1.0" for i in range(6)]
    # 20-minute silence, then a second burst
    lines += [f"{base + (1200 + i * 30) * 1_000_000}// cpu{{h=a}} 2.0" for i in range(4)]
    (d / "a.metrics").write_text("\n".join(lines) + "\n")
    # sentinel pushes the watermark far past both bursts
    (d / "z.metrics").write_text(f"{base + 10**12}// cpu{{h=a}} 0\n")

    pts = read_gts_stream(spark, str(d)).withWatermark("ts", "1 minute").selectExpr(
        "cast(0 as int) bucket", "metric", "ts", "value"
    )
    agg = session_rollup(pts, gap="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        spark.sql(
            "select * from sess_stream where session_start < '2025-01-02'"
        ).collect(),
        key=lambda r: r["session_start"],
    )
    assert [(r["cnt"], r["sum_value"]) for r in rows] == [(6, 6.0), (4, 8.0)]

    # batch equivalence
    from beamium_spark.sources.gts import read_gts
    import pyspark.sql.functions as FF

    bpts = read_gts(spark, str(d), metrics_only=True).filter(
        FF.col("ts") < "2025-01-02"
    ).selectExpr("cast(0 as int) bucket", "metric", "ts", "value")
    brows = sorted(
        session_rollup(bpts, gap="5 minutes").collect(),
        key=lambda r: r["session_start"],
    )
    assert [(r["session_start"], r["session_end"], r["cnt"], r["sum_value"]) for r in rows] == [
        (r["session_start"], r["session_end"], r["cnt"], r["sum_value"]) for r in brows
    ]


def test_alert_sink_epoch_replay_idempotent(spark, tmp_path):
    """The continuous alert evaluation rides the epoch fence: replaying
    an epoch through the sink (same tier state) rewrites identical
    episode rows — the alerts table never double-counts."""
    import datetime as dt

    from beamium_spark.plans.job import AlertRule
    from beamium_spark.streaming.rollup_stream import epoch_fenced_sink

    store = ParquetTierStore(spark, str(tmp_path / "s"))
    rule = AlertRule("doc_count", 5.0, ">", 2)
    sink = epoch_fenced_sink(store, "stream_rollup_1m", (rule,), "stream_alerts")

    t0 = dt.datetime(2025, 1, 1)
    vals = [1.0, 9.0, 9.0, 9.0, 1.0]
    batch = spark.createDataFrame(
        [(0, "doc_count", t0 + dt.timedelta(minutes=i), 1, v, v, v)
         for i, v in enumerate(vals)],
        "bucket int, metric string, window_start timestamp, cnt long, "
        "sum_value double, min_value double, max_value double",
    )
    sink(batch, 0)
    first = sorted(
        (r.episode_start, r.episode_end, r.n_windows, r.fired, r.rule)
        for r in store.read("stream_alerts").collect()
    )
    assert len(first) == 1
    ep = first[0]
    assert (ep[2], ep[3]) == (3, True) and ep[4] == rule.label
    # redeliver the SAME epoch: alerts table must be unchanged
    sink(batch, 0)
    again = sorted(
        (r.episode_start, r.episode_end, r.n_windows, r.fired, r.rule)
        for r in store.read("stream_alerts").collect()
    )
    assert again == first
