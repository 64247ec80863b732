"""query() read path: tier auto-selection, re-aggregation, fill, and
chunk-partition pruning."""

import datetime as dt
import itertools

import pytest
from pyspark.sql import functions as F

from beamium_spark.plans.query import parse_step, query, select_tier
from beamium_spark.sources.tables import ParquetTierStore


def _tier_store(spark, root):
    """1m and 1h tiers of one doc_count series: (cnt 2, sum 4.0, min 1.0,
    max 3.0) every other minute over three hours."""
    s = ParquetTierStore(spark, root)
    t0 = dt.datetime(2025, 1, 1)
    rows_1m = [
        (0, "doc_count", t0 + dt.timedelta(minutes=m), 2, 4.0, 1.0, 3.0)
        for m in range(0, 180, 2)  # every other minute over 3 hours
    ]
    t1m = spark.createDataFrame(
        rows_1m,
        "bucket int, metric string, window_start timestamp, cnt long, "
        "sum_value double, min_value double, max_value double",
    ).withColumn("chunk_start", F.date_trunc("hour", "window_start"))
    s.write_chunks(t1m, "rollup_1m")
    t1h = (
        t1m.groupBy("bucket", "metric", F.window("window_start", "1 hour").alias("w"))
        .agg(
            F.sum("cnt").alias("cnt"), F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"), F.max("max_value").alias("max_value"),
        )
        .select("bucket", "metric", F.col("w.start").alias("window_start"),
                "cnt", "sum_value", "min_value", "max_value")
        .withColumn("chunk_start", F.col("window_start"))
    )
    s.write_chunks(t1h, "rollup_1h")
    return s


@pytest.fixture()
def store(spark, tmp_path):
    return _tier_store(spark, str(tmp_path / "store"))


#: one query of each kind in the perfbench dashboard mix, plus avg + fill
_DASHBOARD_KINDS = [
    {"step": "1 minute", "agg": "sum"},
    {"step": "10 minutes", "agg": "max"},
    {"step": "1 hour", "agg": "avg"},
    {"step": "1 day", "agg": "sum"},
    {"step": "1 hour", "agg": "avg", "bucket": 0},
    {"step": "1 hour", "agg": "sum", "fill": "zero"},
    {"step": "1 hour", "agg": "avg", "fill": "zero"},
    {"step": "1 hour", "agg": "sum", "rate": True},
    {"step": "1 hour", "stat": "p95"},
    {"step": "15 minutes", "render": "m4"},
]


def test_query_kinds_bare_session_match_pinned(spark, bare_spark, tmp_path):
    """Every dashboard query kind returns the same rows under a bare
    session as under get_spark(), each over a store its session wrote."""
    from beamium_spark.operators.blocks import encode_blocks

    t0 = dt.datetime(2025, 1, 1)
    points = [
        (0, "doc_count", t0 + dt.timedelta(minutes=m, seconds=7), float(m % 5))
        for m in range(0, 180, 2)
    ]
    stores = []
    for name, s in (("pinned", spark), ("bare", bare_spark)):
        st = _tier_store(s, str(tmp_path / name))
        pts = s.createDataFrame(points, "bucket int, metric string, ts timestamp, value double")
        st.write_chunks(encode_blocks(pts, "1 hour"), "blocks")
        stores.append(st)
    for kw in _DASHBOARD_KINDS:
        pinned, bare = (
            sorted(
                tuple(r)
                for r in query(st, "doc_count", t0, t0 + dt.timedelta(hours=4), **kw).collect()
            )
            for st in stores
        )
        assert pinned and bare == pinned, kw


def test_parse_step():
    assert parse_step("1 hour") == 3600
    assert parse_step("30m") == 1800
    assert parse_step(90) == 90


def test_select_tier_prefers_coarsest(store):
    assert select_tier(store, 86400) == ("rollup_1h", 3600)  # no 1d stored
    assert select_tier(store, 3600) == ("rollup_1h", 3600)
    assert select_tier(store, 60) == ("rollup_1m", 60)
    assert select_tier(store, 120) == ("rollup_1m", 60)


def test_query_hour_avg_from_1h_tier(store):
    out = {
        r["window_start"].hour: r["value"]
        for r in query(
            store, "doc_count", "2025-01-01T00:00:00", "2025-01-01T03:00:00",
            step="1 hour", agg="avg",
        ).collect()
    }
    # 30 windows/hour x cnt 2 x sum 4.0 -> avg = 120/60 = 2.0
    assert out == {0: 2.0, 1: 2.0, 2: 2.0}


def test_query_sum_2h_step_re_rolls(store):
    out = {
        r["window_start"].hour: r["value"]
        for r in query(
            store, "doc_count", "2025-01-01T00:00:00", "2025-01-01T04:00:00",
            step=7200, agg="sum",
        ).collect()
    }
    assert out == {0: 240.0, 2: 120.0}  # hours 0+1 merged; hour 2 alone


@pytest.mark.parametrize(
    "agg,fill", list(itertools.product(("avg", "sum", "min", "max", "cnt"),
                                       ("zero", "linear", "ffill")))
)
def test_query_fill_zero_densifies(store, agg, fill):
    """Every agg x fill pair densifies the grid; filled rows carry the
    value query() documents: 0.0 under zero, the interpolated sum (cnt 0,
    other aggs NULL) under linear, the carried tuple's value under ffill."""
    out = query(
        store, "doc_count", "2025-01-01T00:00:00", "2025-01-01T01:00:00",
        step="1 minute", agg=agg, fill=fill,
    )
    rows = out.collect()
    assert len(rows) == 60  # full grid
    observed = {"avg": 2.0, "sum": 4.0, "min": 1.0, "max": 3.0, "cnt": 2.0}[agg]
    assert all(r["value"] == observed for r in rows if not r["filled"])
    want = {
        "zero": 0.0,
        "linear": {"sum": 4.0, "cnt": 0.0}.get(agg),
        "ffill": observed,
    }[fill]
    filled = [r for r in rows if r["filled"]]
    assert len(filled) == 30 and all(r["value"] == want for r in filled)


def test_query_metric_regex_is_anchored(store):
    assert (
        query(
            store, "doc", "2025-01-01T00:00:00", "2025-01-01T03:00:00",
        ).count()
        == 0
    )  # 'doc' must not prefix-match doc_count


def test_query_prunes_chunk_partitions(store):
    df = query(
        store, "doc_count", "2025-01-01T01:00:00", "2025-01-01T02:00:00",
        step="1 minute",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "chunk_key" in plan
    # and the result only covers the requested hour
    hours = {r["window_start"].hour for r in df.collect()}
    assert hours == {1}


def test_query_smooth_moving_avg(store):
    """smooth=3: trailing 3-step moving average of the per-step value."""
    base = query(store, "doc_count", "2025-01-01 00:00", "2025-01-01 03:00",
                 step="1 hour", agg="sum")
    vals = {r["window_start"]: r["value"] for r in base.collect()}
    sm = query(store, "doc_count", "2025-01-01 00:00", "2025-01-01 03:00",
               step="1 hour", agg="sum", smooth=3)
    got = {r["window_start"]: r["value"] for r in sm.collect()}
    ks = sorted(vals)
    assert got[ks[0]] == vals[ks[0]]
    assert got[ks[1]] == (vals[ks[0]] + vals[ks[1]]) / 2
    assert got[ks[2]] == (vals[ks[0]] + vals[ks[1]] + vals[ks[2]]) / 3


def test_query_rate(store):
    """rate=True: per-second delta; first row of each series is NULL."""
    out = sorted(
        query(store, "doc_count", "2025-01-01 00:00", "2025-01-01 03:00",
              step="1 hour", agg="sum", rate=True).collect(),
        key=lambda r: r["window_start"],
    )
    assert out[0]["value"] is None
    # constant hourly sums -> rate 0
    assert all(r["value"] == 0.0 for r in out[1:])


def test_query_smooth_rate_exclusive_and_validation(store):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        query(store, "doc_count", "2025-01-01", "2025-01-02", smooth=3, rate=True)
    with _pytest.raises(ValueError, match="smooth must be"):
        query(store, "doc_count", "2025-01-01", "2025-01-02", smooth=0)
    with _pytest.raises(ValueError, match="rate must be"):
        query(store, "doc_count", "2025-01-01", "2025-01-02", rate="bogus")
    with _pytest.raises(ValueError, match="agg must be"):
        query(store, "doc_count", "2025-01-01", "2025-01-02", agg="median")


def test_query_anomaly_annotation(store):
    # 1m-step read over the fixture's flat every-other-minute series:
    # constant values -> std 0 -> no anomalies, but the plumbing (columns,
    # NULL gating below min_points) is exercised end to end
    out = query(
        store, "doc_count", "2025-01-01T00:00:00", "2025-01-01T02:00:00",
        step="2m", agg="avg", anomaly=10,
    ).orderBy("window_start").collect()
    assert {"base_avg", "base_std", "base_n", "zscore", "is_anomaly"} <= set(
        out[0].asDict()
    )
    assert not any(r["is_anomaly"] for r in out)  # constant series
    assert out[0]["base_n"] == 0 and out[0]["zscore"] is None
    # composes after smooth; rejected alongside session_gap; validated
    smoothed = query(
        store, "doc_count", "2025-01-01T00:00:00", "2025-01-01T02:00:00",
        step="2m", smooth=3, anomaly=5,
    )
    assert "zscore" in smoothed.columns and "value" in smoothed.columns
    with pytest.raises(ValueError):
        query(store, "doc_count", "2025-01-01", "2025-01-02", anomaly=1)


def test_query_percentile_from_blocks(spark, store, tmp_path):
    """stat='p95' recomputes from the raw block store: exact interpolated
    percentile per step window, equal to computing straight from points;
    validation rejects malformed stats, fill, and a missing block table."""
    import numpy as np

    from beamium_spark.operators.blocks import encode_blocks

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (0, "lat", t0 + dt.timedelta(minutes=m, seconds=s), float(m * 60 + s))
        for m in range(0, 120, 3)
        for s in (0, 30)
    ]
    pts = spark.createDataFrame(rows, "bucket int, metric string, ts timestamp, value double")
    store.write_chunks(encode_blocks(pts, "1 hour"), "blocks")

    out = query(
        store, "lat", t0, t0 + dt.timedelta(hours=2), step="1 hour", stat="p95"
    )
    got = {r["window_start"]: r["value"] for r in out.collect()}
    assert len(got) == 2
    for h, want_vals in (
        (0, [v for _, _, ts, v in rows if ts < t0 + dt.timedelta(hours=1)]),
        (1, [v for _, _, ts, v in rows if ts >= t0 + dt.timedelta(hours=1)]),
    ):
        want = float(np.percentile(np.array(want_vals), 95, method="linear"))
        assert got[t0 + dt.timedelta(hours=h)] == pytest.approx(want, rel=1e-12)

    # smooth composes on the percentile series
    sm = query(
        store, "lat", t0, t0 + dt.timedelta(hours=2), step="1 hour",
        stat="p95", smooth=2,
    ).orderBy("window_start").collect()
    vals = sorted(got.items())
    assert sm[1]["value"] == pytest.approx((vals[0][1] + vals[1][1]) / 2)

    with pytest.raises(ValueError, match="stat"):
        query(store, "lat", t0, t0 + dt.timedelta(hours=1), stat="q95")
    with pytest.raises(ValueError, match="fill"):
        query(store, "lat", t0, t0 + dt.timedelta(hours=1), stat="p95", fill="zero")
    with pytest.raises(ValueError, match="block store"):
        query(store, "lat", t0, t0 + dt.timedelta(hours=1), stat="p95",
              blocks_table="nope")


def test_query_session_read_from_blocks(spark, store):
    """session_gap recomputes activity bursts from the block store:
    equals session_rollup straight from the points, and rejects
    combination with the grid-shaping knobs."""
    from beamium_spark.operators.blocks import encode_blocks
    from beamium_spark.operators.rollup import session_rollup

    t0 = dt.datetime(2025, 1, 1)
    # two bursts separated by 30 minutes of silence
    rows = [(0, "act", t0 + dt.timedelta(minutes=m), 1.0) for m in range(5)]
    rows += [(0, "act", t0 + dt.timedelta(minutes=35 + m), 2.0) for m in range(3)]
    pts = spark.createDataFrame(rows, "bucket int, metric string, ts timestamp, value double")
    store.write_chunks(encode_blocks(pts, "1 hour"), "blocks")

    out = sorted(
        query(
            store, "act", t0, t0 + dt.timedelta(hours=2), session_gap="5 minutes"
        ).collect(),
        key=lambda r: r["session_start"],
    )
    want = sorted(
        session_rollup(pts, gap="5 minutes").collect(),
        key=lambda r: r["session_start"],
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in want]
    assert [(r["cnt"], r["sum_value"]) for r in out] == [(5, 5.0), (3, 6.0)]

    with pytest.raises(ValueError, match="exclusive"):
        query(store, "act", t0, t0 + dt.timedelta(hours=1),
              session_gap="5 minutes", stat="p95")
    with pytest.raises(ValueError, match="exclusive"):
        query(store, "act", t0, t0 + dt.timedelta(hours=1),
              session_gap="5 minutes", smooth=2)
    with pytest.raises(ValueError, match="unsupported window"):
        query(store, "act", t0, t0 + dt.timedelta(hours=1), session_gap="nonsense")


def test_query_m4_render_from_blocks(spark, store):
    """render='m4' recomputes pixel-column extremes from the block store:
    equals m4_downsample straight from the points, and rejects the
    grid-shaping knobs."""
    from beamium_spark.operators.blocks import encode_blocks
    from beamium_spark.operators.downsample import m4_downsample

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (0, "viz", t0 + dt.timedelta(minutes=m, seconds=7), float((m * 13) % 9))
        for m in range(90)
    ]
    pts = spark.createDataFrame(
        rows, "bucket int, metric string, ts timestamp, value double"
    )
    store.write_chunks(encode_blocks(pts, "1 hour"), "blocks")

    out = sorted(
        query(
            store, "viz", t0, t0 + dt.timedelta(hours=2), step="10 minutes",
            render="m4",
        ).collect()
    )
    want = sorted(m4_downsample(pts, "10 minutes").collect())
    assert [tuple(r) for r in out] == [tuple(r) for r in want]
    assert len(out) == 9

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exclusive"):
        query(store, "viz", t0, t0 + dt.timedelta(hours=1), render="m4",
              fill="zero")
    with _pytest.raises(ValueError, match="render must be"):
        query(store, "viz", t0, t0 + dt.timedelta(hours=1), render="lttb")


def test_query_ewma_annotation(store):
    """ewma=α adds the recursive EWMA column per series; validation
    enforces exclusivity and the alpha range."""
    import pytest as _pytest

    t0 = dt.datetime(2025, 1, 1)
    # zero-fill makes the series alternate value/0 at 1m grain, so the
    # EWMA recursion has real structure to verify
    out = sorted(
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=1),
              step="1 minute", agg="sum", fill="zero", ewma=0.5).collect(),
        key=lambda r: r["window_start"],
    )
    assert len(out) == 60
    vals = [r["value"] for r in out]
    assert 0.0 in vals and 4.0 in vals
    expect = [vals[0]]
    for x in vals[1:]:
        expect.append(0.5 * x + 0.5 * expect[-1])
    got = [r["ewma"] for r in out]
    assert all(abs(g - e) < 1e-9 for g, e in zip(got, expect))
    assert all(r["filled"] is not None for r in out)  # fill column survives
    with _pytest.raises(ValueError, match="exclusive"):
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=2),
              ewma=0.5, smooth=2)
    with _pytest.raises(ValueError, match="alpha"):
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=2), ewma=1.5)


def test_query_distinct_from_sketch_tier(spark, tmp_path):
    """stat='distinct' unions the job-maintained 1h sketch tier to the
    requested step; estimates equal the direct per-step sketch and sit
    within tolerance of exact counts."""
    import pytest as _pytest

    from beamium_spark.operators.rollup import (
        distinct_tier,
        with_distinct_estimate,
    )
    from beamium_spark.sources.tables import ParquetTierStore

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"https://u{(i * 7) % 300}.example/", t0 + dt.timedelta(minutes=i % 1440))
        for i in range(3000)
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    store = ParquetTierStore(spark, str(tmp_path / "dstore"))
    t1h = distinct_tier(pages, "1 hour").withColumn(
        "chunk_start", F.col("window_start")
    )
    store.write_chunks(t1h, "distinct_1h", "chunk_start")

    out = {
        r["window_start"]: r["value"]
        for r in query(
            store, "ignored", t0, t0 + dt.timedelta(days=1), step="6 hours",
            stat="distinct",
        ).collect()
    }
    direct = {
        r["window_start"]: float(r["approx_distinct"])
        for r in with_distinct_estimate(distinct_tier(pages, "6 hours")).collect()
    }
    assert out == direct
    exact = {
        r["w"]["start"]: r["x"]
        for r in pages.groupBy(F.window("warc_ts", "6 hours").alias("w"))
        .agg(F.countDistinct("url").alias("x"))
        .collect()
    }
    for ws, est in out.items():
        assert abs(est - exact[ws]) / exact[ws] < 0.05

    with _pytest.raises(ValueError, match="multiple of 1 hour"):
        query(store, "x", t0, t0 + dt.timedelta(days=1), step="30 minutes",
              stat="distinct")
    with _pytest.raises(ValueError, match="fill"):
        query(store, "x", t0, t0 + dt.timedelta(days=1), stat="distinct",
              fill="zero")


def test_query_distinct_requires_tier(store):
    import pytest as _pytest

    t0 = dt.datetime(2025, 1, 1)
    with _pytest.raises(ValueError, match="distinct_1h"):
        query(store, "x", t0, t0 + dt.timedelta(days=1), stat="distinct")


def test_query_decompose_annotation(store):
    """decompose=period adds trend/seasonal/remainder per series; the
    expected components are re-derived in python from the same values."""
    import pytest as _pytest

    t0 = dt.datetime(2025, 1, 1)
    out = sorted(
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=1),
              step="1 minute", agg="sum", fill="zero", decompose=2).collect(),
        key=lambda r: r["window_start"],
    )
    assert len(out) == 60
    vals = [r["value"] for r in out]
    n = len(vals)
    # even period 2 -> h=1: trend_i = (x_{i-1} + 2 x_i + x_{i+1}) / 4
    trend = [None] + [
        (vals[i - 1] + 2 * vals[i] + vals[i + 1]) / 4.0 for i in range(1, n - 1)
    ] + [None]
    det = [v - t if t is not None else None for v, t in zip(vals, trend)]
    idx = {}
    for ph in (0, 1):
        ds = [d for i, d in enumerate(det) if d is not None and i % 2 == ph]
        idx[ph] = sum(ds) / len(ds)
    mean_idx = (idx[0] + idx[1]) / 2.0
    for i, r in enumerate(out):
        exp_seasonal = idx[i % 2] - mean_idx
        assert abs(r["seasonal"] - exp_seasonal) < 1e-9
        if trend[i] is None:
            assert r["trend"] is None and r["remainder"] is None
        else:
            assert abs(r["trend"] - trend[i]) < 1e-9
            assert abs(r["remainder"] - (vals[i] - trend[i] - exp_seasonal)) < 1e-9
    with _pytest.raises(ValueError, match="period"):
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=1), decompose=1)


def test_query_alert_annotation(store):
    """alert=threshold adds rule state/streak read off the shaped value;
    expected states re-derived in python (contiguous zero-filled grid, so
    streaks reset only at condition edges)."""
    import pytest as _pytest

    t0 = dt.datetime(2025, 1, 1)
    out = sorted(
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=1),
              step="1 minute", agg="sum", fill="zero",
              alert=3.0, alert_op=">", alert_for=2).collect(),
        key=lambda r: r["window_start"],
    )
    assert len(out) == 60
    streak = 0
    for r in out:
        streak = streak + 1 if r["value"] > 3.0 else 0
        exp = "inactive" if streak == 0 else ("firing" if streak >= 2 else "pending")
        assert r["state"] == exp, (r, exp)
        assert r["streak"] == streak
    with _pytest.raises(ValueError, match="alert_for"):
        query(store, "doc_count", t0, t0 + dt.timedelta(hours=1),
              alert=3.0, alert_for=0)


#: one read of each kind, keyed as in query's _TAKES table
_GRID_KINDS = {
    "tier": {},
    "stat": {"stat": "p95"},
    "approx": {"stat": "p95", "approx": True},
    "distinct": {"stat": "distinct"},
    "m4": {"render": "m4", "step": "15 minutes"},
    # 3600 s is the default "1 hour" step, which a session read keeps
    "session": {"session_gap": "5 minutes", "step": 3600},
}

#: each parameter away from its default (the dependents beside theirs),
#: then the exclusive pairs, which no kind takes
_GRID_PARAMS = {
    "step": {"step": "2 hours"},
    "agg": {"agg": "sum"},
    "fill": {"fill": "zero"},
    "bucket": {"bucket": 0},
    "blocks_table": {"blocks_table": "blocks_copy"},
    "smooth": {"smooth": 2},
    "rate": {"rate": True},
    "ewma": {"ewma": 0.5},
    "decompose": {"decompose": 2},
    "alert": {"alert": 1.0, "alert_op": "<", "alert_for": 2},
    "anomaly": {"anomaly": 2, "anomaly_threshold": 2.0},
    "smooth+rate": {"smooth": 2, "rate": True},
    "ewma+smooth": {"ewma": 0.5, "smooth": 2},
    "ewma+rate": {"ewma": 0.5, "rate": True},
}

_GRID_T0 = dt.datetime(2025, 1, 1)


@pytest.fixture(scope="module")
def grid_store(bare_spark, tmp_path_factory):
    """Every table query() reads, written once by the bare session: the
    1m/1h tiers, the block store (also as ``blocks_copy``), ``hist_1h``
    with its ``bin_width`` column as RollupJob writes it, and
    ``distinct_1h``."""
    from beamium_spark.operators.blocks import encode_blocks
    from beamium_spark.operators.rollup import distinct_tier, rollup_histogram

    st = _tier_store(bare_spark, str(tmp_path_factory.mktemp("grid") / "store"))
    pts = bare_spark.createDataFrame(
        [(0, "doc_count", _GRID_T0 + dt.timedelta(minutes=m, seconds=7), float(m % 5))
         for m in range(0, 180, 2)],
        "bucket int, metric string, ts timestamp, value double",
    )
    for table in ("blocks", "blocks_copy"):
        st.write_chunks(encode_blocks(pts, "1 hour"), table)
    hist = (
        rollup_histogram(pts, "1 hour", 1.0)
        .withColumn("bin_width", F.lit(1.0))
        .withColumn("chunk_start", F.col("window_start"))
    )
    st.write_chunks(hist, "hist_1h", "chunk_start")
    pages = pts.select(
        F.format_string("https://u%d.example/", (F.col("value") * 3).cast("int")).alias("url"),
        F.col("ts").alias("warc_ts"),
    )
    t1h = distinct_tier(pages, "1 hour").withColumn("chunk_start", F.col("window_start"))
    st.write_chunks(t1h, "distinct_1h", "chunk_start")
    return st


@pytest.mark.parametrize("param", list(_GRID_PARAMS))
@pytest.mark.parametrize("kind", list(_GRID_KINDS))
def test_query_grid_follows_the_table(grid_store, kind, param):
    """Each read kind collects rows with each parameter its _TAKES entry
    lists and raises ValueError for every other one and for the exclusive
    pairs."""
    from beamium_spark.plans.query import _TAKES

    args = (grid_store, "doc_count", _GRID_T0, _GRID_T0 + dt.timedelta(hours=3))
    kw = {**_GRID_KINDS[kind], **_GRID_PARAMS[param]}
    if param in _TAKES[kind]:
        assert query(*args, **kw).collect()
    else:
        with pytest.raises(ValueError, match="exclusive"):
            query(*args, **kw)


class _UnreadStore:
    """A store that fails any use: the rejections come before a read."""

    def __getattr__(self, name):
        raise AssertionError(f"store.{name} used")


@pytest.mark.parametrize("kw", [
    {"approx": True, "stat": None},
    {"approx": True, "stat": "distinct"},
    {"approx": True, "render": "m4"},
    {"approx": True, "session_gap": "5 minutes"},
    {"stat": "distinct", "bucket": 0},
    {"alert_op": "<"},
    {"alert_for": 2},
    {"anomaly_threshold": 2.0},
    {"stat": "p95", "agg": "sum"},
    {"render": "m4", "agg": "max"},
    {"session_gap": "5 minutes", "agg": "cnt"},
], ids=str)
def test_query_rejects_ignored_parameters(kw):
    """Parameters the read kind would ignore raise before the store is
    touched."""
    with pytest.raises(ValueError, match="exclusive"):
        query(_UnreadStore(), "doc_count", _GRID_T0, _GRID_T0 + dt.timedelta(hours=3), **kw)
