"""Continuous-aggregate rollup tiers: 1m → 1h → 1d.

Beamium batches datapoints into size-capped files per sink tier
(/root/reference/src/scraper.rs:221-303, src/router.rs:171-231); the
engine's tiers are *windowed decomposable aggregates* instead — the
Spark-first reinterpretation mandated by BASELINE.json north_star.

Each tier row keeps the decomposable tuple (cnt, sum, min, max) so a
higher tier derives from the tier below without touching raw data —
partial/final aggregation chained by hand across tiers (Catalyst does
partial+final automatically *within* one groupBy, §4.2 SURVEY.md):

    1h.cnt = Σ 1m.cnt      1h.sum = Σ 1m.sum
    1h.min = min 1m.min    1h.max = max 1m.max
    avg    = sum / cnt     (derived, never stored)

Scale notes:

- ``rollup_tier`` is one hash-aggregate with map-side partial combine;
  its shuffle is keyed (bucket, metric, window) — explicit partitioning
  per north_rule, and AQE coalesces small post-shuffle partitions.
- Cascades aggregate ~60× fewer rows each level; at 10^12 docs only the
  1m rollup ever scans raw pages.
- ``rollup_tier_salted`` handles hot url-buckets (one site can dominate a
  bucket): stage 1 aggregates on (key..., salt) spreading one hot group
  over ``salt_factor`` reducers, stage 2 merges the decomposable tuples.
  Salting only touches the shuffle key, never the logical group key, so
  outputs are bit-identical with salting on or off.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TIERS = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

#: decomposable aggregate tuple columns carried by every tier
TUPLE_COLS = ("cnt", "sum_value", "min_value", "max_value")


def value_tuple(value: str = "value") -> list[Column]:
    """The tuple of a value column: the aggregates that build ``TUPLE_COLS``
    from raw points."""
    return [
        F.count(value).alias("cnt"),
        F.sum(value).alias("sum_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    ]


def merge_tuples() -> list[Column]:
    """The merge of tuples: the aggregates that combine ``TUPLE_COLS`` rows
    into one (sums of counts and sums, min of mins, max of maxes)."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ]


def window_start(ts, window: str):
    """Tumbling-window start: bit-identical to ``F.window(ts, window).start``
    (epoch-aligned floor, pmod handles pre-epoch timestamps exactly like
    TimeWindow's CASE arm) but as ONE integer expression on an 8-byte key.
    This is the engine's only batch window key: the rollups, the cascades,
    ``query()``'s re-rolls and M4's pixel columns all align through it.
    ``ts`` must be a TIMESTAMP; the job reads its source with a declared
    schema, so no TIMESTAMP_NTZ column reaches it.

    ``F.window`` costs more than its struct: Catalyst's TimeWindow rewrite
    appends an ``isnotnull(<full window expr>)`` filter that gets pushed to
    the scan, so a cascade re-evaluates every tier's whole window expression
    per RAW input row (measured: the dominant non-scan cost of the bench
    cascades), and the (start, end) struct doubles the group key width while
    ``end`` is computed and shuffled but never read. Callers pair this with
    an explicit ``isnotnull(ts)`` filter, preserving F.window's null-row
    semantics. Streaming keeps ``F.window``: watermark state must be keyed
    on the window column."""
    dur_us = window_seconds(window) * 1_000_000
    us = F.unix_micros(ts if isinstance(ts, Column) else F.col(ts))
    return F.timestamp_micros(us - F.pmod(us, F.lit(dur_us)))


def rollup_tier(
    points: DataFrame,
    window: str = "1 minute",
    ts_col: str = "ts",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """points → (bucket, metric, *extra_keys, window_start, cnt, sum_value,
    min_value, max_value). The base (raw-data-touching) rollup."""
    ws = window_start(F.col(ts_col), window)
    return (
        points.where(F.col(ts_col).isNotNull())
        .groupBy("bucket", "metric", *extra_keys, ws.alias("window_start"))
        .agg(*value_tuple())
        .select(
            "bucket",
            "metric",
            *extra_keys,
            "window_start",
            *TUPLE_COLS,
        )
    )


def rollup_cascade(lower_tier: DataFrame, window: str) -> DataFrame:
    """Re-rollup a lower tier into a coarser one using only the
    decomposable tuples (sums of sums, min of mins, ...).

    Input ``window_start`` must be non-null — true of every tier this
    module produces (tier group keys of notnull-filtered timestamps).
    No explicit null filter here: filtering on the lower tier's key column
    pushes through the child aggregate and re-evaluates every chained
    window expression per RAW input row (r6 plan audit — the filter, not
    the aggregation, dominated the cascade)."""
    ws = window_start(F.col("window_start"), window)
    return (
        lower_tier
        .groupBy("bucket", "metric", ws.alias("window_start"))
        .agg(*merge_tuples())
        .select("bucket", "metric", "window_start", *TUPLE_COLS)
    )


def rollup_tier_salted(
    points: DataFrame,
    window: str = "1 minute",
    ts_col: str = "ts",
    salt_factor: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Two-stage skew-resistant rollup (north_rule: skew handled explicitly).

    Stage 1 groups on (bucket, metric, window, salt) — the hot group's rows
    land on ``salt_factor`` different reducers; stage 2 merges tuples on the
    true key. Deterministic: salt derives from xxhash64 of the row's url
    when present, else from the timestamp — NOT rand(), so replays and
    salting-off comparisons are exact.
    """
    if "url" in points.columns:
        salt_src = F.coalesce(
            F.xxhash64("url", F.lit(seed)), F.xxhash64(ts_col, F.lit(seed))
        )
    else:
        salt_src = F.xxhash64(ts_col, F.lit(seed))
    salted = points.withColumn("__salt", F.pmod(salt_src, F.lit(salt_factor)).cast("int"))
    ws = window_start(F.col(ts_col), window)
    stage1 = (
        salted.where(F.col(ts_col).isNotNull())
        .groupBy("bucket", "metric", "__salt", ws.alias("window_start"))
        .agg(*value_tuple())
    )
    return (
        stage1.groupBy("bucket", "metric", "window_start")
        .agg(*merge_tuples())
        .select("bucket", "metric", "window_start", *TUPLE_COLS)
    )


def with_avg(tier: DataFrame) -> DataFrame:
    """avg is always derived sum/cnt — kept out of storage so tuples stay
    decomposable across cascades."""
    return tier.withColumn("avg_value", F.col("sum_value") / F.col("cnt"))


def rollup_percentiles(
    points: DataFrame,
    window: str = "1 hour",
    percentiles: tuple[float, ...] = (0.5, 0.95),
    ts_col: str = "ts",
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-(bucket, metric, window) value percentiles — the latency-style
    tier aggregate a TSDB adds next to cnt/sum/min/max.

    ``exact=True`` uses Spark's exact ``percentile`` (linear interpolation,
    identical to DuckDB ``quantile_cont`` — oracle-able); memory is O(rows
    per group), bounded by the window×bucket×metric granularity, which is
    exactly the rollup's shuffle key — fine while windows stay small.
    ``exact=False`` switches to ``approx_percentile`` (KLL-style sketch,
    constant memory) — the 10^12-doc form, same plan shape. Percentiles are
    NOT decomposable, so coarser tiers must recompute from points (or carry
    the sketch); this operator therefore takes raw points, never a tier."""
    ws = window_start(F.col(ts_col), window)
    # round, not int(): int truncates float artifacts (0.29*100 == 28.999…
    # would mislabel the column 'p28')
    names = [f"p{round(p * 100)}" for p in percentiles]
    if exact:
        aggs = [
            F.percentile("value", F.lit(p)).alias(name)
            for p, name in zip(percentiles, names)
        ]
    else:
        aggs = [
            F.approx_percentile("value", F.lit(p), F.lit(accuracy)).alias(name)
            for p, name in zip(percentiles, names)
        ]
    return (
        points.where(F.col(ts_col).isNotNull())
        .groupBy("bucket", "metric", ws.alias("window_start"))
        .agg(*aggs)
        .select(
            "bucket",
            "metric",
            "window_start",
            *names,
        )
    )


def top_urls(
    pages: DataFrame, window: str = "1 hour", k: int = 5, salt_factor: int = 64
) -> DataFrame:
    """Top-k URLs by page count per window (heavy hitters — beamium's
    per-endpoint fetch counters generalized to the corpus). Three-phase:

    1. count per (window, url) — one partial+final hash agg;
    2. **local** top-k per (window, url-hash-salt) partition — a
       row_number over ``salt_factor`` salt slices, so no task ever
       ranks more than ~cardinality/salt_factor rows of one window;
    3. global rank over the ≤ k·salt_factor survivors per window.

    Phase 2 is what makes this survive 100 TB: an hour of a 10^12-doc
    corpus holds 10^8-10^9 distinct URLs, and a single per-window
    row_number (the naive plan) would sort all of them in ONE task. A
    global top-k row is necessarily in its salt slice's top-k, so the
    prune is lossless. Ties break on url asc so results are
    deterministic and oracle-able."""
    counted = (
        pages.where(F.col("warc_ts").isNotNull())
        .groupBy(window_start("warc_ts", window).alias("w"), "url")
        .agg(F.count("*").alias("n"))
    )
    # (w, url) rows are distinct post-agg: each lands in exactly one slice
    salted = counted.withColumn(
        "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_factor)).cast("int")
    )
    local_w = Window.partitionBy("w", "__salt").orderBy(F.desc("n"), F.asc("url"))
    pruned = (
        salted.withColumn("__lr", F.row_number().over(local_w))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__salt")
    )
    rank_w = Window.partitionBy("w").orderBy(F.desc("n"), F.asc("url"))
    return (
        pruned.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(F.col("w").alias("window_start"), "url", "n", "rank")
    )


def tier_rate(
    tier: DataFrame,
    window: str = "1 minute",
    value_col: str = "sum_value",
    counter: bool = False,
) -> DataFrame:
    """Per-series derivative over a tier: ``delta`` = value − previous
    window's value, ``rate`` = delta / window seconds (the PromQL
    rate/delta family over the continuous aggregate instead of raw
    samples — at 10^12 docs the tier is the only thing small enough to
    difference).

    ``counter=True`` applies counter-reset semantics: a negative delta is
    treated as a reset (the new value IS the increase), like Prometheus
    ``rate``. First row of each series yields NULLs.

    One window over (bucket, metric) ordered by window_start — the same
    partitioning every tier already has; no extra exchange when reading a
    stored tier sorted by the write layout.

    ``window`` accepts the named tiers or any ``'N <unit>'`` interval
    string (parsed like plans.query.parse_step)."""
    step = window_seconds(window)
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    prev = F.lag(value_col).over(w)
    raw_delta = F.col(value_col) - prev
    if counter:
        delta = F.when(raw_delta < 0, F.col(value_col)).otherwise(raw_delta)
    else:
        delta = raw_delta
    return tier.select(
        "bucket",
        "metric",
        "window_start",
        F.col(value_col),
        delta.alias("delta"),
        (delta / F.lit(float(step))).alias("rate_per_s"),
    )


def session_rollup(
    points: DataFrame,
    gap: str = "5 minutes",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("bucket", "metric"),
) -> DataFrame:
    """Session-window aggregation: consecutive points of a series closer
    than ``gap`` merge into one session row (session_start, session_end,
    cnt, sum_value). The activity-burst view of a scrape stream — when
    did a series actually emit, and how much per burst — the complement
    of the fixed-grid tiers (a dashboard asks "what happened", sessions
    answer "when was anything happening at all").

    Catalyst-native ``F.session_window``: same partial+final hash-agg
    shape as the fixed-window rollup, state merged by overlapping-range
    union — works identically in batch and Structured Streaming (with a
    watermark). An external SQL engine reproduces it with the classic
    gaps-and-islands window (lag + cumulative new-session flag), which
    is what the correctness oracle does."""
    window_seconds(gap)  # raises on a bad gap, where session_window returns no rows
    w = F.session_window(F.col(ts_col), gap)
    return (
        points.groupBy(*keys, w.alias("w"))
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
            "sum_value",
        )
    )


def tier_moving_agg(
    tier: DataFrame,
    k: int = 5,
    value_col: str = "sum_value",
    stats: tuple[str, ...] = ("avg", "min", "max"),
) -> DataFrame:
    """Trailing k-window moving aggregates over a tier series — the
    smoothing pass dashboards apply over a continuous aggregate (PromQL
    ``avg_over_time`` on the tier instead of raw samples).

    Emits ``mov_<stat>`` per requested stat over the last ``k`` rows of
    each (bucket, metric) series ordered by window_start. Row-frame, not
    range-frame: a gap-filled tier is dense, so rows ≡ time steps; run
    :func:`beamium_spark.operators.gapfill.gapfill` first for sparse
    series where the distinction matters.

    Stats: ``avg|min|max|sum`` plus ``pNN[.N]`` percentiles (PromQL
    ``quantile_over_time`` — exact linear interpolation evaluated as a
    window aggregate, same frame; emitted as ``mov_p95`` etc.).

    Scale: same single per-series sort window as :func:`tier_rate` — a
    series' tier rows are bounded by time span / window size, never by
    raw data, which is what makes per-series frames safe at 10^12 docs;
    percentile frames add O(k log k) per row on k ≤ a few hundred.
    """
    import re as _re

    allowed = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}

    def _agg(stat: str):
        if stat in allowed:
            return allowed[stat](value_col)
        m = _re.fullmatch(r"p(100(?:\.0+)?|\d{1,2}(?:\.\d+)?)", stat)
        if m:
            return F.percentile(
                F.col(value_col).cast("double"), F.lit(float(m.group(1)) / 100.0)
            )
        raise ValueError(
            f"unsupported moving stats ['{stat}']: pick from "
            f"{sorted(allowed)} or 'pNN' percentiles"
        )

    aggs = {s: _agg(s) for s in stats}
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = (
        Window.partitionBy("bucket", "metric")
        .orderBy("window_start")
        .rowsBetween(-(k - 1), 0)
    )
    out = tier
    for s in stats:
        out = out.withColumn(f"mov_{s}", aggs[s].over(w))
    return out


def tier_ewma(
    tier: DataFrame,
    alpha: float = 0.3,
    value_col: str = "sum_value",
) -> DataFrame:
    """Exponentially-weighted moving average over each (bucket, metric)
    tier series: ``y_i = α·x_i + (1-α)·y_{i-1}``, ``y_1 = x_1`` (the
    recursive/adjust-False form — PromQL's smoothing family,
    ``holt_winters``' level component without trend).

    Unlike :func:`tier_moving_agg`, the recursion makes every output
    depend on ALL earlier rows of its series — no SQL window frame
    expresses that, and the closed form ``(1-α)^{-i}`` overflows for
    long series — so this is the one tier operator implemented as a
    grouped Arrow pass: ``applyInPandas`` per series, vectorized
    ``Series.ewm`` inside. Scale contract: a SERIES' tier rows are
    bounded by time-span/window (the same argument as
    :func:`tier_rate`), so one series per task fits comfortably even at
    10^12 raw docs; the shuffle is the usual (bucket, metric) key.

    Output: (bucket, metric, window_start, value, ewma).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    def _ewm(pdf):
        pdf = pdf.sort_values("window_start")
        pdf["value"] = pdf["__x"].astype("float64")
        pdf["ewma"] = pdf["value"].ewm(alpha=alpha, adjust=False).mean()
        return pdf[["bucket", "metric", "window_start", "value", "ewma"]]

    narrow = tier.select(
        "bucket", "metric", "window_start", F.col(value_col).alias("__x")
    )
    return narrow.groupBy("bucket", "metric").applyInPandas(
        _ewm,
        "bucket int, metric string, window_start timestamp, "
        "value double, ewma double",
    )


def tier_anomalies(
    tier: DataFrame,
    k: int = 20,
    value_col: str = "sum_value",
    threshold: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Rolling z-score anomaly flags over a tier series — the alerting
    read the reference's consumers (Warp10 alert scripts over forwarded
    series, /root/reference/README.md:17-24) run downstream; here it is
    a first-class operator over the continuous aggregate.

    For each (bucket, metric) series ordered by window_start, the
    baseline is the TRAILING ``k`` rows strictly BEFORE the current row
    (``ROWS BETWEEN k PRECEDING AND 1 PRECEDING``) — excluding the
    tested point itself so a spike cannot mask its own deviation.
    Emits ``base_avg``, ``base_std`` (sample stddev), ``base_n``,
    ``zscore`` and ``is_anomaly``; ``zscore`` is NULL (and the row never
    anomalous) until ``min_points`` baseline rows exist or when the
    baseline is constant (std = 0 would divide by zero — a constant
    baseline instead flags any departure via the std>0 guard being
    false, the conservative choice for booting series).

    Scale: one per-series sort window, identical shape to
    :func:`tier_moving_agg` — tier rows per series are bounded by
    time span / window size, so frames stay small at any corpus size,
    and the window partitioning reuses the tier's (bucket, metric)
    shuffle when chained after :func:`rollup_tier`.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_points < 2:
        raise ValueError(f"min_points must be >= 2 (stddev needs it), got {min_points}")
    w = (
        Window.partitionBy("bucket", "metric")
        .orderBy("window_start")
        .rowsBetween(-k, -1)
    )
    x = F.col(value_col).cast("double")
    out = (
        tier.withColumn("base_avg", F.avg(x).over(w))
        .withColumn("base_std", F.stddev_samp(x).over(w))
        .withColumn("base_n", F.count(x).over(w))
        .withColumn(
            "zscore",
            F.when(
                (F.col("base_n") >= min_points) & (F.col("base_std") > 0),
                (x - F.col("base_avg")) / F.col("base_std"),
            ),
        )
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) > threshold, F.lit(False)),
        )
    )
    return out


def tier_correlations(
    tier: DataFrame,
    value_col: str = "sum_value",
    min_windows: int = 3,
) -> DataFrame:
    """Pairwise Pearson correlation between metric series within a
    bucket, aligned on window_start — the "which signals move together"
    read analysts run over a continuous aggregate (and the reference's
    consumers run downstream in Warp10 over forwarded series).

    Alignment is INNER: a window contributes to a pair only when BOTH
    metrics have a tier row there (gap-fill first for union alignment).
    Pairs are emitted once with ``m1 < m2``; self-pairs excluded;
    ``n_windows`` counts aligned windows and pairs below ``min_windows``
    are dropped (a 2-point correlation is always ±1 — noise).

    Scale: SINGLE-PASS over the tier — no self-join, so an uncached
    upstream is never computed twice. One shuffle groups each (bucket,
    window_start) and collects its metric/value structs (array size =
    metrics-per-bucket, schema-bounded); ordered pairs explode via a
    higher-order cross product, then one tiny aggregation on (bucket,
    m1, m2) reduces the correlation through decomposable co-moment
    aggregates with map-side partials. Per-window fan-out is
    C(metrics-per-bucket, 2) — never data-bounded.

    NULL semantics: ``corr`` is NULL when either series is constant over
    the aligned windows (zero variance) — Spark 4's ANSI-mode ``F.corr``
    THROWS DIVIDE_BY_ZERO there, so the ratio is built from
    ``covar_samp``/``stddev_samp`` (which NULL out gracefully) behind a
    positive-variance guard, matching SQL engines' NULL convention.
    """
    if min_windows < 2:
        raise ValueError(f"min_windows must be >= 2, got {min_windows}")
    per_window = tier.groupBy("bucket", "window_start").agg(
        F.collect_list(
            F.struct(
                F.col("metric").alias("m"),
                F.col(value_col).cast("double").alias("v"),
            )
        ).alias("ms")
    )
    # ordered cross product of the window's metrics, m1 < m2 once each
    pairs = per_window.select(
        "bucket",
        F.explode(
            F.expr(
                "filter("
                " flatten(transform(ms, a -> transform(ms, b ->"
                "  named_struct('m1', a.m, 'v1', a.v, 'm2', b.m, 'v2', b.v)))),"
                " x -> x.m1 < x.m2)"
            )
        ).alias("p"),
    ).select(
        "bucket",
        F.col("p.m1").alias("m1"),
        F.col("p.m2").alias("m2"),
        F.col("p.v1").alias("v1"),
        F.col("p.v2").alias("v2"),
    )
    corr = F.when(
        (F.stddev_samp("v1") > 0) & (F.stddev_samp("v2") > 0),
        F.covar_samp("v1", "v2") / (F.stddev_samp("v1") * F.stddev_samp("v2")),
    )
    return (
        pairs.groupBy("bucket", "m1", "m2")
        .agg(
            corr.alias("corr"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .where(F.col("n_windows") >= min_windows)
    )


# thunks, not Columns: F.col needs a live SparkContext, so building the
# expressions at import time would fail before any session exists
_BINOP_STATS = {
    "sum": lambda: F.col("sum_value"),
    "cnt": lambda: F.col("cnt").cast("double"),
    "min": lambda: F.col("min_value"),
    "max": lambda: F.col("max_value"),
    "avg": lambda: F.col("sum_value") / F.col("cnt"),
}


def tier_binary_op(
    tier: DataFrame,
    metric_a: str,
    metric_b: str,
    op: str = "/",
    stat: str = "sum",
    out_metric: str | None = None,
) -> DataFrame:
    """PromQL-style arithmetic between two metric series of one tier,
    aligned on (bucket, window_start) → (bucket, metric, window_start,
    value). The canonical read is a ratio-of-sums — e.g. bytes-per-doc =
    ``tier_binary_op(t, 'byte_size', 'doc_count')`` — the derived series
    the reference's consumers compute downstream over forwarded GTS
    (/root/reference/src/lib.rs pipeline docs); here it is a first-class
    tier read so the raw table is never re-scanned.

    ``stat`` picks the decomposable tuple column ('sum' | 'cnt' | 'min' |
    'max' | 'avg'); ``op`` one of ``+ - * /``. Alignment is INNER (PromQL
    vector-matching semantics: windows where either side is absent drop —
    gap-fill the tier first for union alignment). Division emits NULL on
    a zero denominator (SQL convention; ANSI Spark would throw).

    Scale: SINGLE-PASS conditional aggregation — the tier is filtered to
    the two metrics (predicate pushes to the tier scan), then ONE
    (bucket, window_start)-keyed shuffle computes both sides via
    ``max(when(metric = x, v))``; a tier row per (bucket, metric, window)
    is unique so max() is selection, and there is no self-join to
    recompute an uncached upstream twice. Output cardinality = aligned
    windows — never raw-data-bounded.
    """
    if stat not in _BINOP_STATS:
        raise ValueError(f"stat must be one of {sorted(_BINOP_STATS)}, got {stat!r}")
    if op not in ("+", "-", "*", "/"):
        raise ValueError(f"op must be one of + - * /, got {op!r}")
    if metric_a == metric_b:
        raise ValueError("metric_a and metric_b must differ")
    v = _BINOP_STATS[stat]()
    sel = lambda m: F.max(F.when(F.col("metric") == m, v))  # noqa: E731
    aligned = (
        tier.where(F.col("metric").isin(metric_a, metric_b))
        .groupBy("bucket", "window_start")
        .agg(sel(metric_a).alias("va"), sel(metric_b).alias("vb"))
        .where(F.col("va").isNotNull() & F.col("vb").isNotNull())
    )
    a, b = F.col("va"), F.col("vb")
    value = {
        "+": a + b,
        "-": a - b,
        "*": a * b,
        "/": F.when(b != 0, a / b),
    }[op]
    name = out_metric or f"{metric_a}{op}{metric_b}"
    return aligned.select(
        "bucket",
        F.lit(name).alias("metric"),
        "window_start",
        value.cast("double").alias("value"),
    )


def rollup_histogram(
    points: DataFrame,
    window: str = "1 hour",
    bin_width: float = 1.0,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width value histogram per (bucket, metric, window) — the
    distribution view a percentile tier can't give (rollup.py's
    non-decomposability note): histogram counts ARE decomposable, so
    coarser tiers re-roll from finer ones by summing bin counts, and
    quantile estimates stay mergeable at any scale.

    Emits (bucket, metric, window_start, bin, bin_lo, cnt) where
    ``bin = floor(value / bin_width)`` and ``bin_lo = bin * bin_width``.
    One hash-agg on (bucket, metric, window, bin) — same shuffle shape
    as :func:`rollup_tier` with a slightly wider key; empty bins are
    absent (sparse form; join a bin grid if dense output is needed).
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    ws = window_start(F.col(ts_col), window)
    bin_col = F.floor(F.col(value_col).cast("double") / F.lit(float(bin_width)))
    return (
        points.where(F.col(ts_col).isNotNull())
        .groupBy("bucket", "metric", ws.alias("window_start"), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            "metric",
            "window_start",
            "bin",
            (F.col("bin") * F.lit(float(bin_width))).alias("bin_lo"),
            "cnt",
        )
    )


def histogram_quantile(
    hist: DataFrame,
    q: float,
    bin_width: float,
) -> DataFrame:
    """Prometheus-style ``histogram_quantile`` over a
    :func:`rollup_histogram` tier: per (bucket, metric, window_start),
    walk the cumulative bin counts to the ``q`` rank and interpolate
    linearly inside the crossing bin (uniform-within-bin assumption).

    This is the SCALE path for percentile reads: bin counts are
    decomposable (1d histograms re-roll from 1h by summing), so a
    q-estimate is available at any tier without touching raw points —
    the complement to the exact block-store recompute in plans/query.py
    (``stat='p95'``), which is raw-fidelity but range-bounded. The
    rank-``⌈qn⌉`` order statistic always lies in the crossing bin, so
    the estimate is within ±``bin_width`` of that empirical quantile
    (interpolating estimators like Spark's ``percentile`` use rank
    q(n-1) and can land one bin over on windows of 2-3 points).
    NULL-value bins are excluded.

    One per-series-window sort window over tier-sized rows (bins per
    window ≤ value-range/bin_width — schema-bounded, never data-bounded).
    """
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    keys = ["bucket", "metric", "window_start"]
    h = hist.filter(F.col("bin").isNotNull())
    wcum = Window.partitionBy(*keys).orderBy("bin")
    wall = Window.partitionBy(*keys)
    # window expressions must be projected before the filter can use them
    # (Spark disallows window functions inside WHERE)
    return (
        h.withColumn("_cum", F.sum("cnt").over(wcum))
        .withColumn("_rank", F.lit(float(q)) * F.sum("cnt").over(wall))
        # the unique crossing bin: cumulative count reaches the rank here
        # and had not before it (cnt > 0 in a sparse histogram → one row)
        .where(
            (F.col("_cum") >= F.col("_rank"))
            & ((F.col("_cum") - F.col("cnt")) < F.col("_rank"))
        )
        .select(
            *keys,
            (
                F.col("bin_lo")
                + F.lit(float(bin_width))
                * (F.col("_rank") - (F.col("_cum") - F.col("cnt")))
                / F.col("cnt")
            ).alias("value"),
        )
    )


_WINDOW_SECONDS_RATE = {"1 minute": 60, "1 hour": 3600, "1 day": 86400}

_INTERVAL_UNIT_S = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                    "week": 604800}


def window_seconds(window: str) -> int:
    """Spark interval string (``'5 minutes'``, ``'1 hour'``) → seconds.
    Raises a descriptive ValueError for anything unparseable — the
    neighboring-API contract (never a bare KeyError)."""
    if window in _WINDOW_SECONDS_RATE:
        return _WINDOW_SECONDS_RATE[window]
    import re

    m = re.match(r"^\s*(\d+)\s+(second|minute|hour|day|week)s?\s*$", str(window))
    if not m or int(m.group(1)) <= 0:
        raise ValueError(
            f"unsupported window {window!r}: expected a positive Spark "
            f"interval like '5 minutes' (units: "
            f"{sorted(_INTERVAL_UNIT_S)})"
        )
    return int(m.group(1)) * _INTERVAL_UNIT_S[m.group(2)]


def url_cardinality(
    pages: DataFrame, window: str = "1 hour", rsd: float = 0.02,
    exact: bool = False,
) -> DataFrame:
    """Distinct-URL cardinality per window (SURVEY §2.5 optional op).

    Default (``exact=False``) emits only the HLL++ sketch estimate
    (``approx_urls`` — one-pass, mergeable, the only sane form at 10^12
    docs). ``exact=True`` additionally computes ``exact_urls`` via
    ``countDistinct`` — a full two-phase shuffle on ``url``, for
    verification/gating only, never the production path.
    """
    aggs = [F.approx_count_distinct("url", rsd).alias("approx_urls")]
    cols = ["approx_urls"]
    if exact:
        aggs.insert(0, F.countDistinct("url").alias("exact_urls"))
        cols.insert(0, "exact_urls")
    return (
        pages.where(F.col("warc_ts").isNotNull())
        .groupBy(window_start("warc_ts", window).alias("window_start"))
        .agg(*aggs)
        .select("window_start", *cols)
    )


def tier_double_ewma(
    tier: DataFrame,
    alpha: float = 0.3,
    value_col: str = "sum_value",
) -> DataFrame:
    """Brown's double exponential smoothing per (bucket, metric) series —
    the level+trend member of the smoothing family (PromQL
    ``holt_winters`` / ``double_exponential_smoothing``'s single-
    parameter variant): s1 = ewm(x), s2 = ewm(s1) (both adjust-False,
    seeded with the first observation), then

        level_t = 2·s1_t − s2_t
        trend_t = α/(1−α) · (s1_t − s2_t)
        forecast_t = level_t + trend_t   (one-step-ahead prediction)

    Unlike Holt's two-parameter form, Brown's composes from two chained
    EWM recursions, so the implementation stays a fully VECTORIZED
    grouped Arrow pass (two ``Series.ewm`` calls — no per-row Python
    loop), and a SQL oracle can re-derive both passes in closed form.
    Same scale contract as :func:`tier_ewma`.

    Output: (bucket, metric, window_start, value, level, trend,
    forecast).
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    k = alpha / (1.0 - alpha)

    def _dewm(pdf):
        pdf = pdf.sort_values("window_start")
        pdf["value"] = pdf["__x"].astype("float64")
        s1 = pdf["value"].ewm(alpha=alpha, adjust=False).mean()
        s2 = s1.ewm(alpha=alpha, adjust=False).mean()
        pdf["level"] = 2.0 * s1 - s2
        pdf["trend"] = k * (s1 - s2)
        pdf["forecast"] = pdf["level"] + pdf["trend"]
        return pdf[
            ["bucket", "metric", "window_start", "value", "level", "trend",
             "forecast"]
        ]

    narrow = tier.select(
        "bucket", "metric", "window_start", F.col(value_col).alias("__x")
    )
    return narrow.groupBy("bucket", "metric").applyInPandas(
        _dewm,
        "bucket int, metric string, window_start timestamp, value double, "
        "level double, trend double, forecast double",
    )


def tier_resets(
    tier: DataFrame,
    value_col: str = "sum_value",
) -> DataFrame:
    """PromQL ``resets()``/``changes()`` over each (bucket, metric) tier
    series: one row per series with ``n_points``, ``resets`` (count of
    strict decreases vs the previous window — counter restarts) and
    ``changes`` (count of value changes). Completes the counter family
    next to :func:`tier_rate`'s reset-aware deltas.

    Scale: one per-series lag window over tier rows (bounded by
    time-span/window — the tier_rate argument), then a hash agg to one
    row per series.
    """
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    prev = F.lag(value_col).over(w)
    flagged = tier.select(
        "bucket",
        "metric",
        (F.col(value_col) < prev).cast("int").alias("__reset"),
        (F.col(value_col) != prev).cast("int").alias("__change"),
    )
    return flagged.groupBy("bucket", "metric").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(F.sum("__reset"), F.lit(0)).alias("resets"),
        F.coalesce(F.sum("__change"), F.lit(0)).alias("changes"),
    )


def tier_sum_metrics(
    tier: DataFrame,
    pattern: str,
    out_metric: str,
) -> DataFrame:
    """PromQL ``sum without (label)`` over the metric dimension: all
    metrics matching the anchored regex ``pattern`` collapse into ONE
    series ``out_metric`` per (bucket, window) — e.g. every
    ``lang_rate:*`` series summed into a total page rate. The n-way
    companion to :func:`tier_binary_op` (which is pairwise).

    Decomposable re-aggregation only (sum/sum/min/max over the tier
    tuples) — one hash agg keyed on the tier's own (bucket, window)
    partitioning; never touches raw points.
    """
    return (
        tier.filter(F.col("metric").rlike(f"^(?:{pattern})$"))
        .groupBy("bucket", "window_start")
        .agg(*merge_tuples())
        .select(
            "bucket", F.lit(out_metric).alias("metric"), "window_start", *TUPLE_COLS
        )
    )


def distinct_tier(
    pages: DataFrame,
    window: str = "1 hour",
    col: str = "url",
    ts_col: str = "warc_ts",
    lgk: int = 12,
) -> DataFrame:
    """MERGEABLE distinct-count tier: one DataSketches HLL sketch per
    window (``hll_sketch_agg``) instead of a scalar estimate. The scalar
    (``approx_count_distinct``, :func:`url_cardinality`) answers one
    window width and is dead weight for any other; the sketch column is
    DECOMPOSABLE — coarser tiers derive by :func:`distinct_cascade`'s
    ``hll_union_agg`` without re-touching raw data, the same contract
    the (cnt,sum,min,max) tuples give the value aggregates. ~2^lgk bytes
    per window (lgk=12 → ~4 KiB, ~1.6% relative error).

    Output: (window_start, sk binary). One hash agg, map-side combined
    (sketches merge associatively on the map side too).
    """
    ws = window_start(F.col(ts_col), window)
    return (
        pages.where(F.col(ts_col).isNotNull())
        .groupBy(ws.alias("window_start"))
        .agg(F.hll_sketch_agg(col, F.lit(lgk)).alias("sk"))
        .select("window_start", "sk")
    )


def distinct_cascade(tier: DataFrame, window: str) -> DataFrame:
    """Re-roll a distinct-sketch tier to a coarser window by sketch
    union — tier-rows-only cost, estimate-identical to sketching the
    raw data directly at the coarser window (pinned in test_rollup)."""
    ws = window_start(F.col("window_start"), window)
    # no null filter: tier keys are structurally non-null (see
    # rollup_cascade), and the pushed filter would re-evaluate the chained
    # window exprs per raw row
    return (
        tier
        .groupBy(ws.alias("window_start"))
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select("window_start", "sk")
    )


def with_distinct_estimate(tier: DataFrame) -> DataFrame:
    """Materialize the scalar estimate next to the sketch (read-time
    derivation, like :func:`with_avg`)."""
    return tier.withColumn("approx_distinct", F.hll_sketch_estimate("sk"))


_ALERT_OPS = {
    ">": lambda x, t: x > t,
    ">=": lambda x, t: x >= t,
    "<": lambda x, t: x < t,
    "<=": lambda x, t: x <= t,
}


def tier_alert_rule(
    tier: DataFrame,
    threshold: float,
    op: str = ">",
    for_windows: int = 3,
    window: str = "1 minute",
    value_col: str = "sum_value",
) -> DataFrame:
    """Prometheus-style alert-RULE evaluation over a tier series: the
    condition ``value <op> threshold`` must hold for ``for_windows``
    CONSECUTIVE tier windows before the alert fires (the ``for:``
    clause). The reference forwards series for exactly this kind of
    downstream alerting (/root/reference/README.md:17-24); here the
    rule engine is a first-class batch read over the continuous
    aggregate, complementing :func:`tier_anomalies`' statistical flags
    with explicit threshold rules.

    Per tier row emits ``state``:

    - ``'inactive'`` — condition false;
    - ``'pending'``  — condition true for ``streak < for_windows``
      consecutive windows so far;
    - ``'firing'``   — condition held ``for_windows``+ consecutive
      windows up to and including this one.

    A MISSING tier window breaks the streak (PromQL resets the ``for``
    clock when the series vanishes): consecutiveness is checked against
    the tier's own step (``window_seconds(window)``), so gaps in the
    aggregate reset ``streak`` to 1 at the next true window. Gap-fill
    first (:func:`~beamium_spark.operators.gapfill.gapfill`) for
    treat-absent-as-zero semantics instead.

    Scale: gaps-and-islands entirely inside ONE (bucket, metric)
    window partitioning — every window function below shares the same
    partition key and sort, so Catalyst plans ONE exchange + ONE sort
    and evaluates them in a single Window node (no island-keyed second
    shuffle: the streak is cumulative-count arithmetic, ``cum_true −
    cum_true@last-break``, not a per-island partition). Per-series rows
    stay bounded by time-span/window (the :func:`tier_rate` argument).
    """
    if op not in _ALERT_OPS:
        raise ValueError(f"op must be one of {sorted(_ALERT_OPS)}, got {op!r}")
    if for_windows < 1:
        raise ValueError(f"for_windows must be >= 1, got {for_windows}")
    step = window_seconds(window)
    x = F.col(value_col).cast("double")
    cond = _ALERT_OPS[op](x, F.lit(float(threshold)))
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    ws_s = F.unix_timestamp("window_start")
    # A row BREAKS the streak when its condition is false, or when the
    # tier skipped a window just before it (step gap — the `for` clock
    # resets on absent data). First row of a series: lag is NULL → the
    # gap test is NULL; a true first row coalesces to "no break" (its
    # island implicitly starts at the series start, reset base 0).
    brk = (~cond) | (ws_s - F.lag(ws_s).over(w) != F.lit(step))
    flagged = tier.select(
        "bucket",
        "metric",
        "window_start",
        x.alias("value"),
        cond.alias("__cond"),
        F.coalesce(brk, F.lit(False)).alias("__brk"),
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = flagged.withColumn(
        "__ct", F.sum(F.col("__cond").cast("int")).over(run)
    )
    # __ct just BEFORE the most recent breaking row: a false break row
    # contributes its own __ct (cond=0), a gap-start TRUE row
    # contributes __ct−1 so it counts itself as streak 1.
    reset_base = F.max(
        F.when(F.col("__brk"), F.col("__ct") - F.col("__cond").cast("int"))
    ).over(run)
    streak = F.col("__ct") - F.coalesce(reset_base, F.lit(0))
    return flagged.select(
        "bucket",
        "metric",
        "window_start",
        "value",
        F.when(~F.col("__cond"), F.lit("inactive"))
        .when(streak >= for_windows, F.lit("firing"))
        .otherwise(F.lit("pending"))
        .alias("state"),
        F.when(F.col("__cond"), streak).otherwise(F.lit(0)).alias("streak"),
    )


def tier_decompose(
    tier: DataFrame,
    period: int,
    window: str = "1 hour",
    value_col: str = "sum_value",
) -> DataFrame:
    """Classical additive seasonal decomposition of each (bucket,
    metric) tier series: ``value = trend + seasonal + remainder`` with
    seasonality of ``period`` tier windows (e.g. ``period=24`` over the
    1h tier = daily shape). The de-seasonalized remainder is what
    alerting reads (:func:`tier_anomalies`) SHOULD monitor when traffic
    has a strong daily cycle — a first-class operator so the engine's
    consumers don't re-derive it downstream (the reference forwards raw
    series to Warp10 for this, /root/reference/README.md:17-24).

    Method (the textbook moving-average decomposition — fully
    window-function-expressible, no model fitting):

    - ``trend``: centered moving average over one full period. Odd
      ``period`` → the symmetric ``(period-1)/2``-radius mean; even
      ``period`` → the standard 2×P average (two P-window means offset
      by one row, averaged) so the window stays centered. NULL until
      the frame is complete (series edges).
    - ``seasonal``: per-phase mean of the detrended series
      (phase = window index mod period), CENTERED by subtracting the
      unweighted mean of the period's phase indices so the component
      sums to ~zero over one period (the additive-model convention).
    - ``remainder`` = value − trend − seasonal (NULL where trend is).

    Scale: two window passes on the same (bucket, metric) partitioning
    (one shuffle), one tiny hash-agg keyed (bucket, metric, phase) —
    ≤ series × period rows — joined back on the same narrow key. No
    raw-data touch; tier rows per series are span/window-bounded.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    step = window_seconds(window)
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    base = tier.select(
        "bucket",
        "metric",
        "window_start",
        F.col(value_col).cast("double").alias("value"),
        (F.floor(F.unix_timestamp("window_start") / step) % period).alias("phase"),
    )
    x = F.col("value")
    if period % 2 == 1:
        h = (period - 1) // 2
        frame = w.rowsBetween(-h, h)
        trend = F.when(F.count(x).over(frame) == period, F.avg(x).over(frame))
    else:
        h = period // 2
        f1 = w.rowsBetween(-h, h - 1)
        f2 = w.rowsBetween(-h + 1, h)
        trend = F.when(
            (F.count(x).over(f1) == period) & (F.count(x).over(f2) == period),
            (F.sum(x).over(f1) + F.sum(x).over(f2)) / F.lit(2.0 * period),
        )
    base = base.withColumn("trend", trend)
    base = base.withColumn("detrended", F.col("value") - F.col("trend"))
    idx = (
        base.groupBy("bucket", "metric", "phase")
        .agg(F.avg("detrended").alias("__idx"))
    )
    wser = Window.partitionBy("bucket", "metric")
    idx = idx.withColumn("seasonal", F.col("__idx") - F.avg("__idx").over(wser)).drop(
        "__idx"
    )
    return (
        base.join(idx, ["bucket", "metric", "phase"])
        .select(
            "bucket",
            "metric",
            "window_start",
            "phase",
            "value",
            "trend",
            "seasonal",
            (F.col("value") - F.col("trend") - F.col("seasonal")).alias("remainder"),
        )
    )


def alert_episodes(
    alerts: DataFrame,
    for_windows: int = 3,
    window: str = "1 minute",
) -> DataFrame:
    """Compact :func:`tier_alert_rule` output into one row per alert
    EPISODE — a maximal run of consecutive condition-true windows — the
    shape an alertmanager ingests (fire once per incident, not once per
    evaluation). Input must be the rule output evaluated with the same
    ``for_windows``/``window``.

    Emits (bucket, metric, episode_start, episode_end, fired_at,
    n_windows, peak_value, fired): ``fired_at`` is the window where the
    ``for`` clause completed (NULL while the episode never got past
    pending — ``fired=false`` rows are near-miss audit trail).

    Scale: within a run the streak increments by exactly one window, so
    ``ws − streak·step`` is CONSTANT per run — a pure-projection anchor
    that turns episode assembly into ONE hash aggregation (no second
    window pass, map-side combinable, keyed (bucket, metric, anchor)).
    """
    if for_windows < 1:
        raise ValueError(f"for_windows must be >= 1, got {for_windows}")
    step = window_seconds(window)
    ws_s = F.unix_timestamp("window_start")
    runs = alerts.filter(F.col("streak") > 0).select(
        "bucket",
        "metric",
        "window_start",
        "value",
        "streak",
        (ws_s - F.col("streak") * step).alias("__anchor"),
    )
    return (
        runs.groupBy("bucket", "metric", "__anchor")
        .agg(
            F.min("window_start").alias("episode_start"),
            F.max("window_start").alias("episode_end"),
            F.max("streak").alias("n_windows"),
            F.max("value").alias("peak_value"),
        )
        .select(
            "bucket",
            "metric",
            "episode_start",
            "episode_end",
            F.when(
                F.col("n_windows") >= for_windows,
                F.timestamp_seconds(
                    F.unix_timestamp("episode_start") + (for_windows - 1) * step
                ),
            ).alias("fired_at"),
            "n_windows",
            "peak_value",
            (F.col("n_windows") >= for_windows).alias("fired"),
        )
    )


def day_alert_episodes(tier: DataFrame, days, rules) -> DataFrame:
    """Alert episodes of every rule (``plans.job.AlertRule``) over the 1m
    ``tier``, each day of ``days`` evaluated INDEPENDENTLY, with a
    ``rule`` label column and ``chunk_start`` set to the episode's day.
    The day is the overwrite unit of the alerts table, so whichever pass
    recomputes a day — a job tick or a streaming epoch — writes identical
    episodes (streaks reset at midnight by contract)."""
    eps = None
    for d in days:
        day = tier.filter(F.to_date("window_start") == d)
        for rule in rules:
            a = tier_alert_rule(
                day.filter(F.col("metric").rlike(f"^(?:{rule.metric})$")),
                rule.threshold,
                rule.op,
                rule.for_windows,
                "1 minute",
            )
            e = alert_episodes(a, rule.for_windows, "1 minute").withColumn(
                "rule", F.lit(rule.label)
            )
            eps = e if eps is None else eps.unionByName(e)
    return eps.withColumn("chunk_start", F.date_trunc("day", "episode_start"))


def tier_anomalies_robust(
    tier: DataFrame,
    k: int = 20,
    value_col: str = "sum_value",
    threshold: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Robust (median/IQR) rolling anomaly flags — the outlier-resistant
    companion to :func:`tier_anomalies`: a mean/stddev baseline is
    dragged by the very spikes it should flag (one 100× point inflates
    the std for the next ``k`` windows, masking later spikes), while the
    median and interquartile range ignore up to a quarter of wild
    points. ``robust_z = (x − median) / (0.7413·IQR)`` (0.7413 = the
    IQR→σ consistency constant for a normal distribution, so
    ``threshold`` keeps its z-score meaning); flagged when |rz| >
    ``threshold``.

    The baseline frame is the TRAILING k rows strictly before each row
    (same self-exclusion argument as tier_anomalies); ``robust_z`` is
    NULL below ``min_points`` baseline rows or when IQR = 0 (a
    half-constant baseline flags nothing — the booting-series choice).

    Scale: exact ``percentile`` evaluated as a WINDOW aggregate over
    the same (bucket, metric) partitioning every other tier window op
    uses — one exchange, frames bounded by k; per-frame cost O(k log k)
    on k ≤ a few hundred rows is noise next to the exchange.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_points < 2:
        raise ValueError(f"min_points must be >= 2, got {min_points}")
    w = (
        Window.partitionBy("bucket", "metric")
        .orderBy("window_start")
        .rowsBetween(-k, -1)
    )
    x = F.col(value_col).cast("double")
    med = F.percentile(x, F.lit(0.5)).over(w)
    q1 = F.percentile(x, F.lit(0.25)).over(w)
    q3 = F.percentile(x, F.lit(0.75)).over(w)
    out = (
        tier.withColumn("base_med", med)
        .withColumn("base_iqr", q3 - q1)
        .withColumn("base_n", F.count(x).over(w))
        .withColumn(
            "robust_z",
            F.when(
                (F.col("base_n") >= min_points) & (F.col("base_iqr") > 0),
                (x - F.col("base_med")) / (F.lit(0.7413) * F.col("base_iqr")),
            ),
        )
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("robust_z")) > threshold, F.lit(False)),
        )
    )
    return out


def tier_level_shift(
    tier: DataFrame,
    k: int = 12,
    value_col: str = "sum_value",
    threshold: float = 3.0,
) -> DataFrame:
    """Level-shift (changepoint) score per tier row: a two-sample
    comparison of the ``k`` windows ENDING before this row vs the ``k``
    windows STARTING at it — ``shift_score = (after_avg − before_avg) /
    (pooled_std · √(2/k))``, the equal-n Welch-ish statistic. A
    sustained regime change scores high at its boundary row while a
    single spike (which :func:`tier_anomalies` flags) barely moves the
    window means. NULL until BOTH frames are full (k rows each) or when
    the pooled std is 0; ``is_shift`` when |score| > ``threshold``.

    Scale: two row-frames on the one (bucket, metric) window
    partitioning every tier op shares — a single exchange + sort.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    before = w.rowsBetween(-k, -1)
    after = w.rowsBetween(0, k - 1)
    x = F.col(value_col).cast("double")
    m1, m2 = F.avg(x).over(before), F.avg(x).over(after)
    s1, s2 = F.stddev_samp(x).over(before), F.stddev_samp(x).over(after)
    full = (F.count(x).over(before) == k) & (F.count(x).over(after) == k)
    pooled = F.sqrt((s1 * s1 + s2 * s2) / 2.0)
    score = F.when(
        full & (pooled > 0),
        (m2 - m1) / (pooled * F.sqrt(F.lit(2.0 / k))),
    )
    return (
        tier.withColumn("before_avg", F.when(full, m1))
        .withColumn("after_avg", F.when(full, m2))
        .withColumn("shift_score", score)
        .withColumn(
            "is_shift", F.coalesce(F.abs(score) > threshold, F.lit(False))
        )
    )


def tier_increase(
    tier: DataFrame,
    window: str = "1 hour",
    value_col: str = "sum_value",
    counter: bool = True,
) -> DataFrame:
    """PromQL ``increase()`` at tier grain: total increase of each
    series per coarser ``window``, from per-row deltas (``counter=True``
    applies reset semantics — a negative delta means the counter
    restarted and the new value IS the increase; ``False`` sums raw
    deltas, i.e. net change). The windowed companion to
    :func:`tier_rate` (which emits per-row deltas) and
    :func:`tier_resets` (which emits one row per series).

    A series' first row has no delta and contributes nothing. Output:
    (bucket, metric, window_start, increase, n_resets, n_deltas).

    Scale: one lag over the shared (bucket, metric) tier partitioning,
    then one decomposable hash agg keyed (bucket, metric, window).
    """
    w = Window.partitionBy("bucket", "metric").orderBy("window_start")
    x = F.col(value_col).cast("double")
    raw = x - F.lag(x).over(w)
    delta = F.when(raw < 0, x).otherwise(raw) if counter else raw
    flagged = tier.select(
        "bucket",
        "metric",
        window_start("window_start", window).alias("w"),
        delta.alias("__d"),
        (raw < 0).cast("int").alias("__reset"),
    ).filter(F.col("__d").isNotNull() & F.col("w").isNotNull())
    return flagged.groupBy("bucket", "metric", "w").agg(
        F.sum("__d").alias("increase"),
        F.sum("__reset").alias("n_resets"),
        F.count(F.lit(1)).alias("n_deltas"),
    ).select(
        "bucket",
        "metric",
        F.col("w").alias("window_start"),
        "increase",
        "n_resets",
        "n_deltas",
    )


def tier_daily_profile(
    tier: DataFrame,
    value_col: str = "sum_value",
) -> DataFrame:
    """The "typical day" seasonality profile: per (bucket, metric,
    hour-of-day 0-23) mean/min/max/n of the tier value across all days —
    the read capacity planning and :func:`tier_decompose` sanity checks
    start from. One decomposable hash agg; 24 rows per series.
    """
    x = F.col(value_col).cast("double")
    return (
        tier.groupBy(
            "bucket", "metric", F.hour("window_start").alias("hour_of_day")
        )
        .agg(
            F.avg(x).alias("avg_value"),
            F.min(x).alias("min_value"),
            F.max(x).alias("max_value"),
            F.count(x).alias("n"),
        )
    )
