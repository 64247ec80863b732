"""The read API: one call from (metric, time range, step) to a series.

Beamium's consumers query the downstream TSDB (Warp10/Prometheus) that its
forwarded points land in; a user switching to this engine queries the tier
store directly. ``query()`` is that surface — the continuous-aggregate
read path:

1. **tier auto-selection**: the coarsest stored tier whose window divides
   ``step`` serves the query (step 6h → 1h tier, step 1d → 1d tier) — a
   10^12-doc corpus answers day-grain dashboards from the 1d tier's few
   thousand rows, never the raw table;
2. **partition pruning**: the time range lands on the store's
   ``chunk_key=yyyy-MM-dd-HH`` layout as PartitionFilters (string-ordered
   — verified in tests/test_plans_shape.py), so only the requested
   chunks' files are listed/read;
3. **re-aggregation**: decomposable (cnt, sum, min, max) tuples re-roll
   from the tier window to ``step`` exactly — one hash aggregate over the
   already-tiny tier slice;
4. **shaping**: ``agg`` picks the emitted value (avg derived sum/cnt);
   ``fill`` densifies the [start, end) grid (zero / ffill / linear) so
   dashboards see a complete series; ``smooth`` applies a trailing
   k-step moving average (PromQL ``avg_over_time``) and ``rate``
   replaces the value with a per-second derivative (PromQL
   ``rate``/``delta``) — both post-aggregation per-series window passes
   over the already-tiny re-rolled slice;
5. **non-decomposable stats**: ``stat='p95'`` answers percentile reads.
   Percentiles cannot re-roll from (cnt, sum, min, max) tuples
   (operators/rollup.py's non-decomposability note), so the read path
   RECOMPUTES from the raw-fidelity Gorilla block store: the requested
   range prunes to its ``chunk_key`` partitions, only those blocks
   decode (one Arrow pass), and one hash-agg yields exact interpolated
   percentiles at the step grid — raw fidelity at tier-read cost for
   bounded ranges.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beamium_spark.operators.rollup import (
    histogram_quantile,
    merge_tuples,
    session_rollup,
    tier_alert_rule,
    tier_anomalies,
    tier_decompose,
    tier_ewma,
    window_seconds,
    window_start,
)

_TIER_SECONDS = (("rollup_1d", 86400), ("rollup_1h", 3600), ("rollup_1m", 60))

_AGGS = ("avg", "sum", "min", "max", "cnt")


def parse_step(step: str | int) -> int:
    if isinstance(step, int):
        return step
    try:
        return window_seconds(step)  # Spark interval form ('10 minutes')
    except ValueError:
        pass
    from beamium_spark.conf import parse_duration_ms

    return parse_duration_ms(step, 1000) // 1000


def select_tier(store, step_seconds: int) -> tuple[str, int]:
    """Coarsest existing tier whose window divides the step (falls back
    toward 1m; raises if no tier table exists)."""
    for name, secs in _TIER_SECONDS:
        if step_seconds % secs == 0 and store.exists(name):
            return name, secs
    raise ValueError("no stored tier divides the requested step")


def _in_range(df: DataFrame, start, end, ts_col: str) -> DataFrame:
    """Rows of ``df`` with ``ts_col`` in [start, end)."""
    return df.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))


def _read_range(
    store, table: str, start, end, metric: str | None = None,
    bucket: int | None = None, ts_col: str | None = "window_start",
) -> DataFrame:
    """``table`` pruned to [start, end) and, when given, to the anchored
    ``metric`` regex and ``bucket``. chunk_key strings (yyyy-MM-dd-HH)
    order like their hours, so the range on the PARTITION column prunes
    file listing; ``ts_col`` then trims inside the edge chunks (None for
    tables without a row timestamp, such as the block store)."""
    df = store.read(table)
    if "chunk_key" in df.columns:
        lo, hi = (t.strftime("%Y-%m-%d-%H") for t in (start, end))
        df = df.filter(F.col("chunk_key").between(lo, hi))
    if ts_col is not None:
        df = _in_range(df, start, end, ts_col)
    if metric is not None:
        df = df.filter(F.col("metric").rlike(f"^(?:{metric})$"))
    if bucket is not None:
        df = df.filter(F.col("bucket") == bucket)
    return df


def _blocks_points(
    store, blocks_table: str, metric: str, start, end, bucket: int | None
) -> DataFrame:
    """Chunk-pruned decode of the raw-fidelity block store to typed points
    — the shared source of the non-decomposable read paths. metric/bucket
    prune BEFORE decode: clustered sorted runs put file/row-group stats on
    (bucket, metric), so unmatched blocks never reach the Arrow boundary."""
    if not store.exists(blocks_table):
        raise ValueError(
            f"raw-points read needs the block store "
            f"('{blocks_table}' table absent)"
        )
    from beamium_spark.operators.blocks import decode_blocks

    b = _read_range(store, blocks_table, start, end, metric, bucket, ts_col=None)
    return _in_range(decode_blocks(b), start, end, "ts")


def query(
    store,
    metric: str,
    start: dt.datetime | str,
    end: dt.datetime | str,
    step: str | int = "1 hour",
    agg: str = "avg",
    fill: str | None = None,
    bucket: int | None = None,
    smooth: int | None = None,
    rate: bool | str = False,
    stat: str | None = None,
    approx: bool = False,
    session_gap: str | None = None,
    anomaly: int | None = None,
    anomaly_threshold: float = 3.0,
    blocks_table: str = "blocks",
    render: str | None = None,
    ewma: float | None = None,
    decompose: int | None = None,
    alert: float | None = None,
    alert_op: str = ">",
    alert_for: int = 3,
) -> DataFrame:
    """(bucket, metric, window_start, value [, filled]) over [start, end).

    ``metric`` is an anchored regex (beamium's selector semantics,
    /root/reference/src/conf.rs:329-336); ``agg`` ∈ avg|sum|min|max|cnt;
    ``fill`` ∈ None|zero|ffill|linear; ``smooth`` = trailing moving-avg
    width in steps (applied to ``value`` after agg/fill); ``rate`` =
    True for per-second delta of ``value``, ``'counter'`` for
    counter-reset semantics (negative delta → the new value is the
    increase). ``smooth`` and ``rate`` are mutually exclusive.

    ``value`` on the rows ``fill`` adds (``filled`` is true), per
    strategy: ``zero`` emits 0.0 for every ``agg``; ``linear``
    interpolates ``sum`` between the observed neighbours, ``cnt`` is 0
    and ``avg``/``min``/``max`` are NULL; ``ffill`` emits the carried
    tuple's value (NULL before the first observation).

    ``stat='pNN[.N]'`` (e.g. 'p95') switches the value to an exact
    interpolated percentile recomputed from the raw-fidelity block store
    (``blocks_table``), chunk-pruned to the range — decomposable tier
    tuples can't answer it. ``agg`` is ignored on that path; ``fill``
    is rejected (a zero/carried percentile is not a percentile);
    ``smooth``/``rate`` compose as usual.

    ``stat='p95', approx=True`` answers the percentile from the
    decomposable ``hist_1h`` histogram tier instead (maintained by the
    job when ``JobConf.histogram_bin_width`` is set): bin counts re-roll
    to any hour-multiple step by summing, then
    :func:`~beamium_spark.operators.rollup.histogram_quantile`
    interpolates inside the rank-crossing bin — ±bin_width error, cost
    scales with tier rows, never raw points. The exact (approx=False)
    block-store path stays for range-bounded raw fidelity.

    ``stat='distinct'`` answers distinct-URL reads from the MERGEABLE
    HLL sketch tier (``distinct_1h``, maintained by the job when
    ``JobConf.distinct_lgk`` is set): per-hour sketches union to any
    hour-multiple step (``hll_union_agg`` — decomposable, never
    re-touching raw pages) and the value is the estimate. The series is
    global (bucket 0, metric 'distinct_urls'); ``metric``/``bucket``
    are ignored, ``fill`` is rejected.

    ``anomaly=k`` annotates the final series with rolling z-score alert
    columns (``base_avg``/``base_std``/``base_n``/``zscore``/
    ``is_anomaly`` via :func:`~beamium_spark.operators.rollup.
    tier_anomalies`): baseline = the k steps STRICTLY before each row,
    flagged when |z| > ``anomaly_threshold``. Applied after agg/fill/
    smooth/rate, so alerts read the same series the dashboard shows.

    ``ewma=α`` annotates the shaped series with an ``ewma`` column —
    the recursive exponentially-weighted average
    (:func:`~beamium_spark.operators.rollup.tier_ewma`, adjust-False) of
    ``value`` per series, left-joined back so fill columns survive.
    Exclusive with ``smooth``/``rate`` (they rewrite ``value``; ewma
    annotates), composes with ``anomaly`` (which still reads ``value``).

    ``decompose=period`` annotates the shaped series with ``trend``/
    ``seasonal``/``remainder`` columns — classical additive seasonal
    decomposition (:func:`~beamium_spark.operators.rollup.
    tier_decompose`) with seasonality of ``period`` steps (e.g.
    ``step='1 hour', decompose=24`` = the daily cycle). Annotation only
    (``value`` untouched), so it composes with ``anomaly``/``ewma``;
    applied after smooth/rate so it decomposes the series the dashboard
    shows.

    ``alert=threshold`` annotates the shaped series with Prometheus-
    style rule ``state`` (inactive/pending/firing) and ``streak``
    columns (:func:`~beamium_spark.operators.rollup.tier_alert_rule`):
    the condition ``value <alert_op> threshold`` must hold ``alert_for``
    consecutive steps to fire. Reads the same shaped ``value`` as the
    other annotations.

    ``render='m4'`` answers CHART reads: one row per (series, step)
    carrying the four M4 extreme points (first/min/max/last with their
    timestamps — operators/downsample.py), recomputed from the
    chunk-pruned raw-fidelity block store because pixel-exact rendering
    needs real point times, which fixed-grid tier rows truncated away.
    Use ``step`` = range/chart-width. Returns the M4 wide schema;
    agg/fill/smooth/rate/stat/session_gap do not apply and are rejected
    if combined.

    ``session_gap='5 minutes'`` answers SESSION reads the same way:
    activity bursts recomputed from the chunk-pruned block store via
    ``session_rollup`` (gap merging cannot re-roll from fixed-grid tier
    rows whose real point times were truncated). Returns (bucket,
    metric, session_start, session_end, cnt, sum_value); step/agg/fill/
    smooth/rate/stat do not apply and are rejected if combined.
    """
    if smooth is not None and rate:
        raise ValueError("smooth and rate are mutually exclusive")
    if ewma is not None and (smooth is not None or rate):
        raise ValueError("ewma is exclusive with smooth/rate")
    if ewma is not None and not (0.0 < ewma <= 1.0):
        raise ValueError(f"ewma must be an alpha in (0, 1], got {ewma}")
    if anomaly is not None and anomaly < 2:
        raise ValueError(f"anomaly baseline width must be >= 2 steps, got {anomaly}")
    if decompose is not None and decompose < 2:
        raise ValueError(f"decompose period must be >= 2 steps, got {decompose}")
    if alert is not None and alert_for < 1:
        raise ValueError(f"alert_for must be >= 1, got {alert_for}")
    if smooth is not None and smooth < 1:
        raise ValueError(f"smooth must be >= 1, got {smooth}")
    if rate not in (False, True, "counter"):
        raise ValueError(f"rate must be False, True or 'counter', got {rate!r}")
    if isinstance(start, str):
        start = dt.datetime.fromisoformat(start)
    if isinstance(end, str):
        end = dt.datetime.fromisoformat(end)
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS}, got {agg!r}")
    step_s = parse_step(step)
    step_w = f"{step_s} seconds"

    if render is not None:
        if render != "m4":
            raise ValueError(f"render must be 'm4', got {render!r}")
        if (
            stat is not None
            or fill is not None
            or smooth is not None
            or rate
            or anomaly is not None
            or session_gap is not None
            or ewma is not None
            or decompose is not None
            or alert is not None
        ):
            raise ValueError(
                "render is exclusive with stat/fill/smooth/rate/anomaly/"
                "ewma/decompose/alert/session_gap"
            )
        from beamium_spark.operators.downsample import m4_downsample

        pts = _blocks_points(store, blocks_table, metric, start, end, bucket)
        return m4_downsample(pts, window=step_w)

    if session_gap is not None:
        if stat is not None or fill is not None or smooth is not None or rate \
                or anomaly is not None or ewma is not None \
                or decompose is not None or alert is not None:
            raise ValueError(
                "session_gap is exclusive with stat/fill/smooth/rate/"
                "anomaly/ewma/decompose/alert"
            )
        pts = _blocks_points(store, blocks_table, metric, start, end, bucket)
        return session_rollup(pts, gap=session_gap)

    if stat == "distinct":
        if fill is not None:
            raise ValueError("fill is not supported with distinct stats")
        if not store.exists("distinct_1h"):
            raise ValueError(
                "distinct reads need the 'distinct_1h' sketch tier "
                "(set JobConf.distinct_lgk)"
            )
        if step_s % 3600 != 0:
            raise ValueError(
                "distinct reads union the 1h sketch tier — step must be "
                "a multiple of 1 hour"
            )
        d = _read_range(store, "distinct_1h", start, end)
        out = (
            d.groupBy(window_start("window_start", step_w).alias("window_start"))
            .agg(F.hll_union_agg("sk").alias("sk"))
            .select(
                F.lit(0).alias("bucket"),
                F.lit("distinct_urls").alias("metric"),
                "window_start",
                F.hll_sketch_estimate("sk").cast("double").alias("value"),
            )
        )
        return _shape(out, smooth, rate, step_s, anomaly, anomaly_threshold,
                      ewma, decompose, alert, alert_op, alert_for)

    if stat is not None:
        import re as _re

        m = _re.fullmatch(r"p(\d{1,2}(?:\.\d+)?)", stat)
        if not m:
            raise ValueError(f"stat must look like 'p95', got {stat!r}")
        if fill is not None:
            raise ValueError("fill is not supported with percentile stats")
        qfrac = float(m.group(1)) / 100.0
        if approx:
            if step_s % 3600 != 0:
                raise ValueError(
                    "approx stat reads re-roll the 1h histogram tier — "
                    "step must be a multiple of 1 hour"
                )
            if not store.exists("hist_1h"):
                raise ValueError(
                    "approx stat read needs the 'hist_1h' tier "
                    "(set JobConf.histogram_bin_width)"
                )
            h = _read_range(store, "hist_1h", start, end, metric, bucket)
            # self-describing width (control-plane single-row read)
            wrow = h.select("bin_width").first()
            width = float(wrow[0]) if wrow else 1.0
            re_binned = (
                h.groupBy(
                    "bucket", "metric",
                    window_start("window_start", step_w).alias("window_start"),
                    "bin", "bin_lo",
                )
                .agg(F.sum("cnt").alias("cnt"))
            )
            out = histogram_quantile(re_binned, qfrac, width)
            return _shape(out, smooth, rate, step_s, anomaly,
                          anomaly_threshold, ewma, decompose, alert,
                          alert_op, alert_for)
        pts = _blocks_points(store, blocks_table, metric, start, end, bucket)
        out = (
            pts.groupBy("bucket", "metric", window_start("ts", step_w).alias("window_start"))
            .agg(F.expr(f"percentile(value, {qfrac!r})").alias("value"))
        )
        return _shape(out, smooth, rate, step_s, anomaly,
                      anomaly_threshold, ewma, decompose, alert,
                      alert_op, alert_for)

    tier_name, _tier_s = select_tier(store, step_s)

    t = _read_range(store, tier_name, start, end, metric, bucket)
    re_rolled = (
        t.groupBy("bucket", "metric", window_start("window_start", step_w).alias("window_start"))
        .agg(*merge_tuples())
    )
    if fill is not None:
        from beamium_spark.operators.gapfill import gapfill

        if step_s not in (60, 3600, 86400):
            raise ValueError("fill requires a 1m/1h/1d step")
        re_rolled = gapfill(
            re_rolled,
            step_w,
            strategy=fill,
            bounds=(start, end - dt.timedelta(seconds=step_s)),
        )

    value = {
        # NULL, not a divide-by-zero, on the cnt=0 rows fill='linear' makes
        "avg": F.col("sum_value") / F.nullif(F.col("cnt"), F.lit(0)),
        "sum": F.col("sum_value"),
        "min": F.col("min_value"),
        "max": F.col("max_value"),
        "cnt": F.col("cnt").cast("double"),
    }[agg]
    if fill == "zero":
        value = F.when(F.col("filled"), F.lit(0.0)).otherwise(value)
    cols = ["bucket", "metric", "window_start", value.alias("value")]
    if fill is not None:
        cols.append("filled")
    return _shape(re_rolled.select(*cols), smooth, rate, step_s, anomaly,
                  anomaly_threshold, ewma, decompose, alert, alert_op,
                  alert_for)


def _shape(
    out: DataFrame,
    smooth: int | None,
    rate: bool | str,
    step_s: int,
    anomaly: int | None = None,
    anomaly_threshold: float = 3.0,
    ewma: float | None = None,
    decompose: int | None = None,
    alert: float | None = None,
    alert_op: str = ">",
    alert_for: int = 3,
) -> DataFrame:
    """Post-aggregation smoothing / rate / anomaly annotation shared by
    the tier and percentile read paths — per-series window passes over the
    re-rolled slice, whose rows per series are bounded by
    (end - start) / step (the tier_rate safety argument)."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    if smooth is not None:
        out = out.withColumn(
            "value", F.avg("value").over(w.rowsBetween(-(smooth - 1), 0))
        )
    elif rate:
        prev = F.lag("value").over(w)
        raw_delta = F.col("value") - prev
        delta = (
            F.when(raw_delta < 0, F.col("value")).otherwise(raw_delta)
            if rate == "counter"
            else raw_delta
        )
        out = out.withColumn("value", delta / F.lit(float(step_s)))
    if ewma is not None:
        e = tier_ewma(
            out.select("bucket", "metric", "window_start", "value"),
            alpha=ewma,
            value_col="value",
        ).select("bucket", "metric", "window_start", "ewma")
        # dashboard-sized frames; annotate without disturbing fill columns
        out = out.join(e, ["bucket", "metric", "window_start"], "left")
    if decompose is not None:
        d = tier_decompose(
            out.select("bucket", "metric", "window_start", "value"),
            period=decompose,
            window=f"{step_s} seconds",
            value_col="value",
        ).select("bucket", "metric", "window_start", "trend", "seasonal", "remainder")
        out = out.join(d, ["bucket", "metric", "window_start"], "left")
    if alert is not None:
        a = tier_alert_rule(
            out.select("bucket", "metric", "window_start", "value"),
            threshold=alert,
            op=alert_op,
            for_windows=alert_for,
            window=f"{step_s} seconds",
            value_col="value",
        ).select("bucket", "metric", "window_start", "state", "streak")
        out = out.join(a, ["bucket", "metric", "window_start"], "left")
    if anomaly is not None:
        out = tier_anomalies(
            out,
            k=anomaly,
            value_col="value",
            threshold=anomaly_threshold,
            min_points=max(2, min(5, anomaly)),
        )
    return out
