"""Gap-fill: make every series dense over its observed time range.

Beamium's "void proof graphs" guarantee (/root/reference/README.md:13) is
about never *losing* points; a rollup tier additionally needs explicit
rows for silent windows so downstream reads see a dense series. Strategy
options mirror common TSDB semantics:

- ``zero``   — cnt=0, sum=0, min/max NULL (nothing observed)
- ``ffill``  — carry the last observed tuple forward (locf)
- ``linear`` — interpolate ``sum_value`` between the surrounding observed
  windows (cnt=0 on filled rows; min/max stay NULL — interpolating
  extrema would fabricate data)

Implementation is pure Catalyst (SURVEY.md §2.6 O2): per-series bounds →
``sequence()`` over the window grid → ``explode`` → left join observed
rows → fill. The join is keyed (bucket, metric, window_start) — same
partitioning as the rollup shuffle, so AQE typically plans it without an
extra exchange of the big side. The grid size is bounded by
(time-span / window), never by raw row count, so this holds at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def gapfill(
    tier: DataFrame,
    window: str = "1 minute",
    strategy: str = "zero",
    bounds: tuple | None = None,
) -> DataFrame:
    """Densify a tier (bucket, metric, window_start, cnt, sum_value,
    min_value, max_value) over each series' [min, max] window range.

    ``bounds`` optionally pins a global (start, end) instead of per-series
    bounds — needed when several tiers must share one grid.
    Adds ``filled: boolean``.

    Feed a MATERIALIZED tier (a stored tier table, or a cached frame):
    with per-series bounds the plan references ``tier`` twice (bounds agg
    + join right side), and Spark recomputes an unmaterialized upstream
    for each branch — harmless over a stored tier (tiny scan), a 2× raw
    scan if you inline the whole extract pipeline.
    """
    from beamium_spark.operators.rollup import window_seconds

    step = window_seconds(window)  # descriptive ValueError on bad input
    if bounds is None:
        series_bounds = tier.groupBy("bucket", "metric").agg(
            F.min("window_start").alias("__mn"), F.max("window_start").alias("__mx")
        )
    else:
        start, end = bounds
        series_bounds = (
            tier.select("bucket", "metric")
            .distinct()
            .withColumn("__mn", F.lit(start).cast("timestamp"))
            .withColumn("__mx", F.lit(end).cast("timestamp"))
        )

    grid = series_bounds.select(
        "bucket",
        "metric",
        F.explode(
            F.sequence("__mn", "__mx", F.expr(f"interval {step} seconds"))
        ).alias("window_start"),
    )

    joined = grid.join(tier, ["bucket", "metric", "window_start"], "left")
    filled_flag = F.col("cnt").isNull()

    if strategy == "zero":
        out = (
            joined.withColumn("filled", filled_flag)
            .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
            .withColumn("sum_value", F.coalesce("sum_value", F.lit(0.0)))
        )
    elif strategy == "ffill":
        w = (
            Window.partitionBy("bucket", "metric")
            .orderBy("window_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = joined.withColumn("filled", filled_flag)
        for c in ("cnt", "sum_value", "min_value", "max_value"):
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    elif strategy == "linear":
        # lerp sum_value between the last observed window before the gap
        # and the first after it. With default (per-series) bounds both
        # bracketing observations exist for every gap row; with explicit
        # ``bounds`` wider than the observed span (query(fill='linear')
        # passes them), edge rows lack one side — those clamp to the
        # nearest observed value (coalesce(lerp, prev, next)), the same
        # edge rule most TSDBs use for interpolation outside the span.
        # Expression ordering is fixed (prev + slope * dt) so an
        # engine-neutral oracle reproduces the float result after rounding.
        wb = (
            Window.partitionBy("bucket", "metric")
            .orderBy("window_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wf = (
            Window.partitionBy("bucket", "metric")
            .orderBy("window_start")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        ws_s = F.unix_timestamp("window_start").cast("double")
        obs_ws = F.when(~filled_flag, ws_s)
        obs_v = F.when(~filled_flag, F.col("sum_value"))
        pv = F.last(obs_v, ignorenulls=True).over(wb)
        pt = F.last(obs_ws, ignorenulls=True).over(wb)
        nv = F.first(obs_v, ignorenulls=True).over(wf)
        nt = F.first(obs_ws, ignorenulls=True).over(wf)
        lerp = pv + (nv - pv) * (ws_s - pt) / (nt - pt)
        out = (
            joined.withColumn("filled", filled_flag)
            .withColumn(
                "sum_value",
                F.when(~filled_flag, F.col("sum_value")).otherwise(
                    F.coalesce(lerp, pv, nv)
                ),
            )
            .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        )
    else:
        raise ValueError(f"unknown gapfill strategy: {strategy}")
    return out
