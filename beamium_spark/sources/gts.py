"""GTS text-format source/sink: read and write beamium's native dialect.

Beamium's on-disk interchange is newline-delimited GTS lines in
``.metrics`` files (``ts// class{k=v,...} value``; written
/root/reference/src/scraper.rs:256, read src/router.rs:135-146). A user
switching from the reference can point these functions at the same files:

- ``read_gts``        — text scan → typed points (ts, metric, labels, value)
- ``write_gts``       — points → GTS text files (atomic: Spark task commit
                        protocol plays the reference's .tmp→rename,
                        src/scraper.rs:249-265)
- ``read_prometheus`` — Prometheus exposition text → points via the
                        transcompiler (the scrape-body path, S1/P1)
- ``scan_gts`` / ``scan_prometheus`` — the same parses with a ``file``
                        column naming each point's source file, which
                        the scrape daemon's discovery keys on

Filters applied on read mirror the scraper: comment/blank skip (F1),
non-finite drop (F2), optional metric whitelist (F3), selector (F4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beamium_spark.functions.labels import format_gts_line, parse_gts_line
from beamium_spark.functions.transcompile import parse_prometheus


def read_gts(
    spark: SparkSession,
    path: str,
    metric_whitelist: str | None = None,
    selector: str | None = None,
    continuation: bool = False,
    metrics_only: bool = False,
) -> DataFrame:
    """GTS text files → (ts timestamp, metric, labels map, value double).

    ``selector`` is the sink-selector anchored regex on the class name
    (reference anchors with ^, src/conf.rs:329-336, applied
    src/router.rs:181-196). ``metrics_only`` restricts the scan to
    ``*.metrics`` files — the reference's extension filter
    (src/lib/asynch/fs.rs:83-87, src/constants.rs:7).

    ``continuation=True`` honors Warp10 ``=``-continuation lines
    (``=ts// value`` reuses the class+labels of the preceding full line;
    the reference never relabels them, src/scraper.rs:210, and never
    splits a chunk before one, src/scraper.rs:239 — so a continuation
    never crosses file boundaries). This path reads whole files and
    carries class/labels forward with a per-file ordered window; safe at
    scale because beamium batches are ≤ batch-size (200 KB default,
    src/conf.rs:125) — many small files, never one huge one."""
    out = scan_gts(spark, path, continuation, metrics_only).drop("file")
    if metric_whitelist:
        out = out.filter(F.col("metric").rlike(metric_whitelist))
    if selector:
        sel = selector if selector.startswith("^") else "^" + selector
        out = out.filter(F.col("metric").rlike(sel))
    return out


def scan_gts(
    spark: SparkSession,
    path: str | list[str],
    continuation: bool = False,
    metrics_only: bool = False,
) -> DataFrame:
    """``read_gts`` before its whitelist and selector, with a leading
    ``file`` column: each point's source file (``input_file_name()``).
    ``path`` is a directory, a file or a list of them."""
    reader = spark.read
    if metrics_only:
        reader = reader.option("pathGlobFilter", "*.metrics")
    if continuation:
        whole = reader.text(path, wholetext=True)
        rows = whole.select(
            F.input_file_name().alias("file"),
            F.posexplode(F.split(F.col("value"), "\n")).alias("__i", "line"),
        ).withColumn("line", F.trim("line"))
        rows = rows.filter((F.col("line") != "") & ~F.col("line").startswith("#"))
        is_cont = F.col("line").startswith("=")
        p = parse_gts_line(F.col("line"))
        w = (
            Window.partitionBy("file")
            .orderBy("__i")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        base = rows.select(
            "file",
            "__i",
            is_cont.alias("__c"),
            F.when(~is_cont, p).alias("p"),
            F.regexp_extract("line", r"^=(\d+)//", 1).try_cast("long").alias("__cts"),
            F.regexp_extract("line", r"^=\d+//\s+(\S+)\s*$", 1).alias("__cval"),
        )
        parsed = base.select(
            "file",
            F.when(F.col("__c"), F.col("__cts")).otherwise(F.col("p.ts_us")).alias("ts_us"),
            F.last(F.col("p.cls"), ignorenulls=True).over(w).alias("cls"),
            F.last(F.col("p.labels"), ignorenulls=True).over(w).alias("labels"),
            F.when(F.col("__c"), F.col("__cval")).otherwise(F.col("p.value")).alias("value_s"),
        )
    else:
        lines = reader.text(path).withColumnRenamed("value", "line")
        lines = lines.filter(
            (F.trim("line") != "") & ~F.trim(F.col("line")).startswith("#")
        )
        pp = parse_gts_line(F.trim(F.col("line")))
        parsed = lines.select(F.input_file_name().alias("file"), pp.alias("p")).select(
            "file",
            F.col("p.ts_us").alias("ts_us"),
            F.col("p.cls").alias("cls"),
            F.col("p.labels").alias("labels"),
            F.col("p.value").alias("value_s"),
        )
    return parsed.select(
        "file",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.col("cls").alias("metric"),
        F.col("labels"),
        F.col("value_s").try_cast("double").alias("value"),
    ).filter(F.col("value").isNotNull() & ~F.isnan("value"))


def write_gts(
    points: DataFrame,
    path: str,
    mode: str = "overwrite",
    batch_size_bytes: int = 200_000,
    avg_line_bytes: int = 100,
) -> None:
    """points (ts, metric, labels, value) → newline-delimited GTS text.
    One file per ≤batch cap — the analogue of beamium's per-batch .metrics
    files (batch-size 200 kB default, /root/reference/src/conf.rs:125,
    chunking src/scraper.rs:233-276, mapped to a records-per-file cap at
    the writer); Spark's task-commit temp→rename is the atomicity story
    (reference .tmp→rename, src/scraper.rs:249-265)."""
    max_records = max(1, batch_size_bytes // avg_line_bytes)
    line = format_gts_line(
        F.unix_micros(F.col("ts")),
        F.col("metric"),
        F.coalesce(
            F.col("labels"), F.map_from_arrays(F.array(), F.array())
        ),
        F.col("value"),
    )
    points.select(line.alias("value")).write.option(
        "maxRecordsPerFile", max_records
    ).mode(mode).text(path)


def read_prometheus(
    spark: SparkSession, path: str, now_us: int, metric_whitelist: str | None = None
) -> DataFrame:
    """Prometheus exposition text files → typed points (the scrape path:
    fetch body → transcompile → filter, src/scraper.rs:184-219)."""
    out = scan_prometheus(spark, path, now_us).drop("file")
    if metric_whitelist:
        out = out.filter(F.col("metric").rlike(metric_whitelist))
    return out


def scan_prometheus(spark: SparkSession, path: str | list[str], now_us: int) -> DataFrame:
    """``read_prometheus`` before its whitelist, with a leading ``file``
    column: each point's source file (``input_file_name()``). ``path`` is
    a directory, a file or a list of them."""
    lines = spark.read.text(path).select(
        F.input_file_name().alias("file"), F.col("value").alias("line")
    )
    return parse_prometheus(lines, "line", now_us).select(
        "file",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        F.col("cls").alias("metric"),
        "labels",
        F.col("value").try_cast("double").alias("value"),
    ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
