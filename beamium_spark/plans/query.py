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
import inspect
import re

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

_SHAPING = ("smooth", "rate", "ewma", "decompose", "alert", "anomaly")

#: The optional parameters each read kind of ``query()`` takes; any other
#: one set away from its default raises ValueError before the store is
#: read. Only tier rows carry the (cnt, sum, min, max) tuple that ``agg``
#: picks from and ``fill`` carries (a zero or carried percentile is not a
#: percentile); ``distinct`` is one global series; ``m4`` and
#: ``session`` return their own schema, with no ``value`` to shape.
_TAKES = {
    "tier": ("agg", "fill", "bucket", *_SHAPING),
    "stat": ("stat", "bucket", "blocks_table", *_SHAPING),
    "approx": ("stat", "approx", "bucket", *_SHAPING),
    "distinct": ("stat", *_SHAPING),
    "m4": ("render", "bucket", "blocks_table"),
    "session": ("session_gap", "bucket", "blocks_table"),
}

#: parameters that only mean something beside another one
_NEEDS = {"alert_op": "alert", "alert_for": "alert", "anomaly_threshold": "anomaly"}

#: shaping no read takes together: smooth and rate both rewrite ``value``,
#: which ewma annotates
_EXCLUSIVE = (("smooth", "rate"), ("ewma", "smooth"), ("ewma", "rate"))

#: value domains no operator downstream checks (ewma, decompose and
#: alert_op are checked by tier_ewma, tier_decompose and tier_alert_rule)
_DOMAINS = {
    "agg": (lambda v: v in _AGGS, f"one of {_AGGS}"),
    "smooth": (lambda v: v >= 1, ">= 1"),
    "rate": (lambda v: v in (True, "counter"), "False, True or 'counter'"),
    "stat": (lambda v: v == "distinct" or re.fullmatch(r"p\d{1,2}(\.\d+)?", v),
             "'distinct' or look like 'p95'"),
    "render": (lambda v: v == "m4", "'m4'"),
    "anomaly": (lambda v: v >= 2, ">= 2 steps (the baseline width)"),
    "alert_for": (lambda v: v >= 1, ">= 1"),
}

#: the 1h tiers two read kinds re-roll, and the JobConf field that keeps each
_HOUR_TIERS = {
    "distinct": ("distinct_1h", "distinct_lgk"),
    "approx": ("hist_1h", "histogram_bin_width"),
}


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


def _read_kind(args: dict) -> str:
    """The read kind ``query()``'s ``args`` select. Raises ValueError for
    a parameter set away from its default that the kind does not take
    (``_TAKES``, ``_NEEDS``), an ``_EXCLUSIVE`` pair, or a value outside
    its ``_DOMAINS`` entry."""
    given = {p for p, default in _DEFAULTS.items() if args[p] != default}
    kind = (
        "m4" if "render" in given
        else "session" if "session_gap" in given
        else "tier" if "stat" not in given
        else "distinct" if args["stat"] == "distinct"
        else "approx" if args["approx"]
        else "stat"
    )
    takes = set(_TAKES[kind])
    takes |= {p for p, needed in _NEEDS.items() if needed in given & takes}
    bad = [p for p in _DEFAULTS if p in given - takes]
    if bad:
        raise ValueError(f"{kind} reads are exclusive with " + ", ".join(
            f"{p} without {_NEEDS[p]}" if _NEEDS.get(p, p) not in given else p
            for p in bad
        ))
    for a, b in _EXCLUSIVE:
        if a in given and b in given:
            raise ValueError(f"{a} and {b} are mutually exclusive")
    for p in given & _DOMAINS.keys():
        ok, want = _DOMAINS[p]
        if not ok(args[p]):
            raise ValueError(f"{p} must be {want}, got {args[p]!r}")
    return kind


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
    increase).

    Which parameters each read kind (tier re-roll, ``stat``, ``approx``
    stat, ``stat='distinct'``, ``render='m4'``, ``session_gap``) takes is
    this module's ``_TAKES`` table: any other parameter set away from its
    default, a parameter of ``_NEEDS`` without the one it needs, and an
    ``_EXCLUSIVE`` pair raise ValueError before the store is read.

    ``value`` on the rows ``fill`` adds (``filled`` is true), per
    strategy: ``zero`` emits 0.0 for every ``agg``; ``linear``
    interpolates ``sum`` between the observed neighbours, ``cnt`` is 0
    and ``avg``/``min``/``max`` are NULL; ``ffill`` emits the carried
    tuple's value (NULL before the first observation).

    ``stat='pNN[.N]'`` (e.g. 'p95') switches the value to an exact
    interpolated percentile recomputed from the raw-fidelity block store
    (``blocks_table``), chunk-pruned to the range — decomposable tier
    tuples can't answer it.

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
    global (bucket 0, metric 'distinct_urls'); ``metric`` is ignored.

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
    Composes with ``anomaly`` (which still reads ``value``).

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
    Use ``step`` = range/chart-width. Returns the M4 wide schema.

    ``session_gap='5 minutes'`` answers SESSION reads the same way:
    activity bursts recomputed from the chunk-pruned block store via
    ``session_rollup`` (gap merging cannot re-roll from fixed-grid tier
    rows whose real point times were truncated). Returns (bucket,
    metric, session_start, session_end, cnt, sum_value); sessions have
    no step grid, so ``step`` is ignored.
    """
    kind = _read_kind(locals())
    if isinstance(start, str):
        start = dt.datetime.fromisoformat(start)
    if isinstance(end, str):
        end = dt.datetime.fromisoformat(end)
    step_s = parse_step(step)
    step_w = f"{step_s} seconds"

    if kind in ("m4", "session"):
        pts = _blocks_points(store, blocks_table, metric, start, end, bucket)
        if kind == "session":
            return session_rollup(pts, gap=session_gap)
        from beamium_spark.operators.downsample import m4_downsample

        return m4_downsample(pts, window=step_w)

    if kind in _HOUR_TIERS:
        table, field = _HOUR_TIERS[kind]
        if step_s % 3600 != 0:
            raise ValueError(
                f"{kind} reads re-roll the 1h '{table}' tier — step must be "
                f"a multiple of 1 hour"
            )
        if not store.exists(table):
            raise ValueError(
                f"{kind} reads need the '{table}' tier (set JobConf.{field})"
            )

    if kind == "distinct":
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
    elif kind == "approx":
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
        out = histogram_quantile(re_binned, float(stat[1:]) / 100.0, width)
    elif kind == "stat":
        qfrac = float(stat[1:]) / 100.0
        pts = _blocks_points(store, blocks_table, metric, start, end, bucket)
        out = (
            pts.groupBy("bucket", "metric", window_start("ts", step_w).alias("window_start"))
            .agg(F.expr(f"percentile(value, {qfrac!r})").alias("value"))
        )
    else:
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
        out = re_rolled.select(*cols)
    return _shape(out, step_s, smooth, rate, ewma, decompose, alert, alert_op,
                  alert_for, anomaly, anomaly_threshold)


_DEFAULTS = {
    name: p.default
    for name, p in inspect.signature(query).parameters.items()
    if name in _NEEDS or any(name in takes for takes in _TAKES.values())
}


def _shape(
    out: DataFrame, step_s: int, smooth, rate, ewma, decompose, alert,
    alert_op, alert_for, anomaly, anomaly_threshold,
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
    # annotations read the shaped value and join back by key, so the fill
    # columns survive (dashboard-sized frames)
    keys, window = ["bucket", "metric", "window_start"], f"{step_s} seconds"
    for param, annotate, cols in (
        (ewma, lambda s: tier_ewma(s, alpha=ewma, value_col="value"), ["ewma"]),
        (decompose,
         lambda s: tier_decompose(s, period=decompose, window=window, value_col="value"),
         ["trend", "seasonal", "remainder"]),
        (alert,
         lambda s: tier_alert_rule(s, threshold=alert, op=alert_op, for_windows=alert_for,
                                   window=window, value_col="value"),
         ["state", "streak"]),
    ):
        if param is not None:
            a = annotate(out.select(*keys, "value")).select(*keys, *cols)
            out = out.join(a, keys, "left")
    if anomaly is not None:
        out = tier_anomalies(
            out,
            k=anomaly,
            value_col="value",
            threshold=anomaly_threshold,
            min_points=max(2, min(5, anomaly)),
        )
    return out
