"""M4 visualization-exact downsampling over raw points or tiers.

The north rule mandates a "rollup + downsample + retention engine"
(BASELINE.json ``north_rule``); the rollup tiers cover aggregate
downsampling, and this module adds the *rendering* form: M4 (Jugel,
Jerzak, Hackenbroich, Markl — "M4: A Visualization-Oriented Time Series
Data Aggregation", VLDB 2014).  For a pixel column of width ``window``,
a line chart drawn from only the first / last / min / max points of each
window is pixel-identical to one drawn from every raw point, so M4 is
the canonical error-free width-bounded downsampler for dashboards over
the tier store (the reference forwards raw points and leaves rendering
reduction to the TSDB; here it is a first-class engine operator).

Scale shape: ONE aggregation on ``(key_cols…, ws)`` — the same grouping
the 1m tier already shuffles on, so the map-side partial aggregation
reduces each input partition to ≤ 4 structs per (series, window) before
the exchange.  Struct min/max has no fixed-width mutable buffer, so
Spark plans a SortAggregate rather than a HashAggregate; that is the
deliberate trade — the alternative (four scalar hash-aggs, then a
join-back to recover the arg-extremes) scans the raw points TWICE,
and at 100 TB the extra scan costs far more than a per-partition sort
on keys that time-ordered ingest delivers nearly sorted.  No window
functions, no self-joins, no Python.
Output is one wide row per (series, window) carrying the four extreme
points, i.e. ≤ 4 plottable points per pixel column regardless of input
density — reading 100 TB of raw points renders through a frame bounded
by chart-width × series.

Determinism (required by the DuckDB value-hash gate): extreme points are
selected by total struct order, not by ``min_by``/``max_by`` (whose tie
winner is partition-order dependent):

- ``first`` = min(struct(t, v)) → earliest timestamp, smallest value on
  a timestamp tie;
- ``last``  = max(struct(t, v)) → latest timestamp, largest value on a
  tie;
- ``low``   = min(struct(v, t)) → minimum value, earliest timestamp
  among equal minima;
- ``high``  = max(struct(v, t)) → maximum value, latest timestamp among
  equal maxima.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beamium_spark.operators.rollup import window_start

M4_COLS = (
    "t_first", "v_first", "t_min", "v_min",
    "t_max", "v_max", "t_last", "v_last",
)


def m4_downsample(
    points: DataFrame,
    window: str = "10 minutes",
    key_cols: Sequence[str] = ("bucket", "metric"),
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Points → one row per (key_cols…, ws) with the four M4 extreme
    points.  ``ws`` is the window start in epoch seconds; the ``t_*``
    columns are epoch **microseconds** (lossless for the engine's µs
    timestamps).  Single hash-agg; see module docstring for the
    determinism contract.
    """
    ws = F.unix_seconds(window_start(F.col(ts_col), window))
    t = F.unix_micros(F.col(ts_col))
    v = F.col(val_col).cast("double")
    by_t = F.struct(t.alias("t"), v.alias("v"))
    by_v = F.struct(v.alias("v"), t.alias("t"))
    agg = points.groupBy(*key_cols, ws.alias("ws")).agg(
        F.min(by_t).alias("_first"),
        F.max(by_t).alias("_last"),
        F.min(by_v).alias("_low"),
        F.max(by_v).alias("_high"),
    )
    return agg.select(
        *key_cols,
        "ws",
        F.col("_first.t").alias("t_first"),
        F.col("_first.v").alias("v_first"),
        F.col("_low.t").alias("t_min"),
        F.col("_low.v").alias("v_min"),
        F.col("_high.t").alias("t_max"),
        F.col("_high.v").alias("v_max"),
        F.col("_last.t").alias("t_last"),
        F.col("_last.v").alias("v_last"),
    )


def m4_points(m4: DataFrame, key_cols: Sequence[str] = ("bucket", "metric")) -> DataFrame:
    """Wide M4 rows → distinct plottable ``(key_cols…, t, v)`` points
    (≤ 4 per window; fewer when extremes coincide, e.g. a single-point
    window emits one).  Pure explode + distinct on already-downsampled
    data — the frame is bounded by chart-width × series, so the distinct
    is a trivial shuffle."""
    pairs = F.array(
        F.struct(F.col("t_first").alias("t"), F.col("v_first").alias("v")),
        F.struct(F.col("t_min").alias("t"), F.col("v_min").alias("v")),
        F.struct(F.col("t_max").alias("t"), F.col("v_max").alias("v")),
        F.struct(F.col("t_last").alias("t"), F.col("v_last").alias("v")),
    )
    return (
        m4.select(*key_cols, F.explode(pairs).alias("p"))
        .select(*key_cols, F.col("p.t").alias("t"), F.col("p.v").alias("v"))
        .distinct()
    )
