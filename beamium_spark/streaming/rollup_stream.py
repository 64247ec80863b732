"""Structured Streaming variant of the rollup pipeline.

Beamium is a continuous daemon: scrape tick → lines → batches on disk →
forward (/root/reference/src/scraper.rs:90-135 ticker; src/router.rs:55
scan loop). The batch ``RollupJob`` models that as snapshot micro-batches;
this module is the always-on form — ``readStream`` over the pages
directory, watermarked windowed aggregation, exactly-once sinks via
``foreachBatch`` into the same ParquetTierStore.

Late data: beamium writes lines wherever they land (points carry their own
timestamps, order never matters — SURVEY.md §2.10); the streaming analogue
is a watermark that keeps window state bounded while accepting stragglers
inside the horizon. The watermark default (10 minutes) plays the role of
beamium's sink TTL: data later than the horizon is dropped and counted.

Scale notes: state is (bucket, metric, window) — same key the batch
shuffle uses; ``spark.sql.shuffle.partitions`` sizes the state store.
``foreachBatch`` + idempotent chunk overwrite keeps the exactly-once
story identical to the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beamium_spark.operators.rollup import TUPLE_COLS, day_alert_episodes, value_tuple
from beamium_spark.plans.job import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over the pages directory — the engine's scrape
    ticker: new files are discovered per trigger exactly like beamium's
    directory scanner (src/lib/asynch/fs.rs:29-145)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def streaming_rollup_1m(
    pages_stream: DataFrame,
    watermark: str = "10 minutes",
    bucket_mode: str = "hash",
) -> DataFrame:
    """Streaming 1m tier: watermarked windowed decomposable aggregate.
    Output mode 'append' emits a window once the watermark passes it —
    the continuous-aggregate contract."""
    from beamium_spark.operators.extract import extract_points

    points = extract_points(pages_stream, bucket_mode=bucket_mode)
    return (
        points.withWatermark("ts", watermark)
        .groupBy("bucket", "metric", F.window("ts", "1 minute").alias("w"))
        .agg(*value_tuple())
        .select("bucket", "metric", F.col("w.start").alias("window_start"), *TUPLE_COLS)
    )


def run_stream_to_store(
    spark: SparkSession,
    pages_dir: str,
    store,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    bucket_mode: str = "hash",
    max_files_per_trigger: int = 4,
    table: str = "stream_rollup_1m",
    alert_rules: tuple = (),
    alerts_table: str = "stream_alerts",
):
    """Drive the streaming 1m tier into a ParquetTierStore with
    ``foreachBatch`` (exactly-once: Structured Streaming's epoch id +
    idempotent chunk overwrite). Returns the StreamingQuery; callers use
    ``processAllAvailable()`` for deterministic drains in tests."""
    agg = streaming_rollup_1m(
        read_pages_stream(spark, pages_dir, max_files_per_trigger),
        watermark,
        bucket_mode,
    )

    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(epoch_fenced_sink(store, table, alert_rules, alerts_table))
        .start()
    )


def epoch_fenced_sink(
    store,
    table: str = "stream_rollup_1m",
    alert_rules: tuple = (),
    alerts_table: str = "stream_alerts",
):
    """Exactly-once foreachBatch sink: each epoch's rows land in their own
    ``epoch_id=N`` partition via dynamic partition overwrite, so a replayed
    epoch (mid-write crash → Structured Streaming re-runs it) REPLACES its
    half-written partition instead of double-appending. Append-mode emits
    each (bucket, metric, window) in exactly one epoch, so partitions never
    overlap logically. This is the parquet analogue of an Iceberg sink
    fencing on epoch_id. Exposed as a factory so tests can drive the
    replay path directly (kill-mid-epoch).

    ``alert_rules`` (of :class:`beamium_spark.plans.job.AlertRule`) adds
    CONTINUOUS alert evaluation: after the epoch's tier rows land, every
    day the epoch touched is re-evaluated from the stored tier and its
    day partition of ``alerts_table`` dynamic-overwritten — the job
    tick's per-day deterministic recompute contract, so a replayed epoch
    (same tier state) rewrites identical episodes and the final drained
    table equals the batch per-day evaluation."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = batch_df.withColumn(
            "chunk_start", F.date_trunc("hour", "window_start")
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        store.overwrite_partition(out, table, "epoch_id")
        if alert_rules:
            days = [
                r["d"]
                for r in out.select(
                    F.to_date("window_start").alias("d")
                ).distinct().collect()
            ]
            eps = day_alert_episodes(store.read(table), days, alert_rules)
            store.write_chunks(eps, alerts_table, "chunk_start")

    return _sink


def streaming_counters(
    pages_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """The scraped/filtered/forwarded triple as a live per-minute stream
    (beamium's /metrics exposition, src/cmd.rs:80-106)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("scraped"),
            F.count(F.when(F.col("url").isNull() | F.col("warc_ts").isNull(), 1)).alias(
                "filtered"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "scraped", "filtered")
    )


def read_gts_stream(spark: SparkSession, path: str, metrics_only: bool = True) -> DataFrame:
    """Always-on GTS text source: ``readStream.text`` over a .metrics
    directory — the streaming form of the reference's directory scanner +
    file reader (src/lib/asynch/fs.rs:29-145, src/router.rs:135-146). New
    files are discovered per trigger; rows are typed points. Continuation
    lines are NOT supported here (file order is not observable in a
    streaming text source) — batch ``read_gts(continuation=True)`` covers
    archives that use them; beamium's own scraper output never emits one
    first in a file (src/scraper.rs:239)."""
    from beamium_spark.functions.labels import parse_gts_line

    reader = spark.readStream
    if metrics_only:
        reader = reader.option("pathGlobFilter", "*.metrics")
    lines = reader.text(path).withColumnRenamed("value", "line")
    lines = lines.filter(
        (F.trim("line") != "")
        & ~F.trim(F.col("line")).startswith("#")
        & ~F.trim(F.col("line")).startswith("=")
    )
    p = parse_gts_line(F.trim(F.col("line")))
    return (
        lines.select(p.alias("p"))
        .select(
            F.timestamp_micros(F.col("p.ts_us")).alias("ts"),
            F.col("p.cls").alias("metric"),
            F.col("p.labels").alias("labels"),
            F.col("p.value").try_cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )


def gts_stream_counters(
    spark: SparkSession, path: str, metrics_only: bool = True
) -> DataFrame:
    """Line-disposition counters for the streaming GTS source — the
    observability companion to :func:`read_gts_stream`, which must DROP
    ``=``-continuation lines (file order is unobservable in a text stream).
    Instead of a silent filter, this stream counts every disposition:

    - ``lines``                 — raw lines scanned (beamium_fetch_datapoints)
    - ``points``                — parsed, finite-valued points forwarded
    - ``skipped_continuation``  — ``=``-continuation lines (replay archives
                                  through batch ``read_gts(continuation=True)``
                                  to keep them)
    - ``skipped_comment_blank`` — comments / empty lines
    - ``skipped_invalid``       — malformed or non-finite-valued lines

    A global streaming aggregate: drive with ``outputMode('complete')``
    (state is one row). Tested in tests/test_streaming.py."""
    from beamium_spark.functions.labels import parse_gts_line

    reader = spark.readStream
    if metrics_only:
        reader = reader.option("pathGlobFilter", "*.metrics")
    lines = reader.text(path).select(F.trim("value").alias("l"))
    is_cont = F.col("l").startswith("=")
    is_comment = (F.col("l") == "") | F.col("l").startswith("#")
    p = parse_gts_line(F.col("l"))
    v = F.col("__v")
    parsed = lines.withColumn("__v", p["value"].try_cast("double"))
    # same disposition as read_gts_stream's filter (NULL/NaN dropped; GTS is
    # a passthrough dialect, so parses are counted exactly as forwarded)
    is_point = ~is_cont & ~is_comment & v.isNotNull() & ~F.isnan(v)
    return parsed.agg(
        F.count("*").alias("lines"),
        F.count(F.when(is_point, 1)).alias("points"),
        F.count(F.when(is_cont, 1)).alias("skipped_continuation"),
        F.count(F.when(is_comment, 1)).alias("skipped_comment_blank"),
        F.count(F.when(~is_cont & ~is_comment & ~is_point, 1)).alias(
            "skipped_invalid"
        ),
    )


def streaming_gts_rollup_1m(points_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1m rollup over a GTS point stream, keyed by **series
    identity** — (metric, canonical sorted-labels string) — exactly like
    the batch gts_pipeline. Series identity in the reference is class +
    labels (/root/reference/src/lib/mod.rs:88-98); keying on metric alone
    would merge two series distinguished only by labels. The canonical
    string (key-sorted) makes identity order-insensitive and keeps the
    streaming state key a flat string — the same shuffle/state key shape
    the batch rollup uses."""
    from beamium_spark.functions.labels import labels_sorted_str

    return (
        points_stream.withColumn("labels_s", labels_sorted_str(F.col("labels")))
        .withWatermark("ts", watermark)
        .groupBy("metric", "labels_s", F.window("ts", "1 minute").alias("w"))
        .agg(*value_tuple())
        .select(
            "metric",
            "labels_s",
            F.col("w.start").alias("window_start"),
            *TUPLE_COLS,
        )
    )
