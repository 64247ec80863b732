"""Resumability / exactly-once (FIXTURES.md F-4 scenario 3): kill after a
partial pass; rerun; replay touches exactly the unforwarded chunks and the
final state equals an uninterrupted run."""

import pyspark.sql.functions as F
import pytest

from beamium_spark.plans.job import JobConf, RollupJob
from beamium_spark.sources.synth import ensure_web_pages


@pytest.fixture(scope="module")
def pages_path():
    return ensure_web_pages(0.0003)


def _assert_same(a, b):
    cols = sorted(set(a.columns) & set(b.columns))
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0
    assert a.count() == b.count()


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.mark.parametrize("session", ["pinned", "bare"])
def test_full_run_then_noop(spark, session, request, pages_path, tmp_path):
    """A full run then a no-op rerun, under ``get_spark()`` and under a
    bare session; the bare session's tiers equal the pinned session's."""
    s = spark if session == "pinned" else request.getfixturevalue("bare_spark")
    job = RollupJob(s, pages_path, str(tmp_path / "s"), JobConf(bucket_mode="site"))
    r1 = job.run()
    assert r1["chunks"] > 0
    assert r1["scraped"] > 0
    assert r1["forwarded"] > 0
    # second pass: everything committed → no work
    r2 = job.run()
    assert r2["chunks"] == 0
    # counters surfaced per tier
    ctr = {r["tier"]: r for r in job.counters().collect()}
    assert ctr["rollup_1m"]["scraped"] == r1["scraped"]
    if session == "bare":
        ref = RollupJob(spark, pages_path, str(tmp_path / "ref"), JobConf(bucket_mode="site"))
        assert {**ref.run(), "run_id": None} == {**r1, "run_id": None}
        for t in ("rollup_1m", "rollup_1h", "rollup_1d", "blocks"):
            assert _rows(job.tier(t)) == _rows(ref.tier(t)), t


def test_job_maintains_histogram_tier(spark, pages_path, tmp_path):
    """JobConf.histogram_bin_width turns on the hist_1h distribution
    tier; query(stat=..., approx=True) answers from it, within one
    bin_width of the exact block-store read; re-running the job leaves
    the tier unchanged (idempotent chunk overwrites)."""
    from beamium_spark.plans.query import query
    from beamium_spark.sources.tables import ParquetTierStore

    state = str(tmp_path / "s")
    conf = JobConf(bucket_mode="site", histogram_bin_width=50.0)
    job = RollupJob(spark, pages_path, state, conf)
    job.run()
    store = ParquetTierStore(spark, state)
    assert store.exists("hist_1h")
    h = store.read("hist_1h")
    assert {"bin", "bin_lo", "cnt", "bin_width"} <= set(h.columns)
    snap = sorted(
        (r["bucket"], r["metric"], r["bin"], r["cnt"])
        for r in h.select("bucket", "metric", "bin", "cnt").collect()
    )
    # approx read: same windows as the exact read, values inside the
    # window's own bin range, quantiles monotone (the exact ±bin_width
    # equivalence needs dense windows — pinned on known data in
    # test_rollup::test_histogram_quantile; sparse fixture windows hold
    # 1-3 points where the two interpolation conventions legitimately
    # land in different bins)
    span = ("2025-01-01T00:00:00", "2025-01-03T00:00:00")
    exact = {
        (r["bucket"], r["window_start"]): r["value"]
        for r in query(store, "byte_size", *span, step="1 hour", stat="p50").collect()
    }
    approx = {
        (r["bucket"], r["window_start"]): r["value"]
        for r in query(
            store, "byte_size", *span, step="1 hour", stat="p50", approx=True
        ).collect()
    }
    assert exact and set(approx) == set(exact)
    bins = {}
    for r in h.select("bucket", "window_start", "bin_lo").collect():
        k = (r["bucket"], r["window_start"])
        lo, hi = bins.get(k, (float("inf"), float("-inf")))
        bins[k] = (min(lo, r["bin_lo"]), max(hi, r["bin_lo"] + 50.0))
    assert all(bins[k][0] <= approx[k] <= bins[k][1] for k in approx)
    p95 = {
        (r["bucket"], r["window_start"]): r["value"]
        for r in query(
            store, "byte_size", *span, step="1 hour", stat="p95", approx=True
        ).collect()
    }
    assert all(approx[k] <= p95[k] for k in approx)
    # replay idempotency: a fresh job over the same input is a no-op and
    # the tier is unchanged
    RollupJob(spark, pages_path, state, conf).run()
    snap2 = sorted(
        (r["bucket"], r["metric"], r["bin"], r["cnt"])
        for r in store.read("hist_1h").select("bucket", "metric", "bin", "cnt").collect()
    )
    assert snap2 == snap
    # validation: approx needs an hour-multiple step and the tier itself
    with pytest.raises(ValueError, match="multiple of 1 hour"):
        query(store, "byte_size", *span, step="30m", stat="p50", approx=True)
    empty = ParquetTierStore(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="hist_1h"):
        query(empty, "byte_size", *span, step="1 hour", stat="p50", approx=True)


def test_kill_and_replay_equals_uninterrupted(spark, pages_path, tmp_path):
    conf = JobConf(bucket_mode="site")
    # interrupted: process only 5 chunks, "crash", then resume the rest
    killed = RollupJob(spark, pages_path, str(tmp_path / "killed"), conf)
    first = killed.run(max_chunks=5)
    assert first["chunks"] == 5
    remaining = killed.pending_chunks()
    assert len(remaining) > 0
    second = killed.run()  # resume
    assert second["chunks"] == len(remaining)
    assert killed.pending_chunks() == []

    # uninterrupted reference run
    ref = RollupJob(spark, pages_path, str(tmp_path / "ref"), conf)
    ref.run()

    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        _assert_same(killed.tier(tier), ref.tier(tier))


_TZ_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from beamium_spark.session import get_spark
from beamium_spark.plans.job import AlertRule, JobConf, RollupJob
spark = get_spark(app_name="tz-child", master="local[4]", shuffle_partitions=4)
conf = JobConf(
    bucket_mode="site", write_blocks=False,
    alert_rules=[AlertRule(metric="doc_count", threshold=1.0, op=">", for_windows=2)],
)
job = RollupJob(spark, {pages!r}, {root!r}, conf)
job.run(max_chunks=3)
job.run(max_chunks=3)
spark.stop()
"""


def test_tiers_do_not_depend_on_driver_time_zone(spark, pages_path, tmp_path):
    """``collect()`` hands the driver naive timestamps in its local zone
    while the store keys partitions by UTC hour: a driver 14 hours ahead
    of UTC (so most pending hours fall on another local date) writes the
    same tiers as a UTC driver, and a UTC driver resumes its checkpoint
    log at the chunk it stopped at."""
    import os
    import subprocess
    import sys

    from beamium_spark.plans.job import AlertRule
    from beamium_spark.sources.tables import ParquetTierStore

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "tz")
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_CHILD.format(repo=repo, pages=pages_path, root=root)],
        env={**os.environ, "TZ": "Pacific/Kiritimati"},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    conf = JobConf(
        bucket_mode="site", write_blocks=False,
        alert_rules=[AlertRule(metric="doc_count", threshold=1.0, op=">", for_windows=2)],
    )
    ref = RollupJob(spark, pages_path, str(tmp_path / "ref"), conf)
    chunks = ref.pending_chunks()
    ref.run()
    resumed = RollupJob(spark, pages_path, root, conf)
    assert resumed.pending_chunks() == chunks[6:]
    resumed.run()
    got = ParquetTierStore(spark, root)
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d", "alerts"):
        assert _rows(got.read(tier)) == _rows(ref.store.read(tier)), tier


def test_replay_after_data_write_without_manifest(spark, pages_path, tmp_path):
    """Kill between tier write and fence → chunk is replayed and the
    idempotent overwrite leaves no duplicates. The torn log is made
    through the Manifest API: a hand-edited segment would fail its
    ``.crc`` checksum on read."""
    import datetime as dt

    conf = JobConf(bucket_mode="site", write_blocks=False)
    job = RollupJob(spark, pages_path, str(tmp_path / "s"), conf)
    job.run()
    ref_count = job.tier("rollup_1m").count()

    # simulate the torn state: drop the first chunk from the rollup_1m
    # commit record of the fence segment
    name, fence = job.manifest.segments()[-1]
    c1m = next(r for r in fence["records"] if r.get("commit") == "rollup_1m")
    victim = dt.datetime.fromisoformat(c1m["chunks"][0])
    torn = [{**r, "chunks": r["chunks"][1:]} if r is c1m else r for r in fence["records"]]
    job.store._delete(f"{job.manifest.root}/{name}")
    job.manifest.commit(fence["run_id"], torn)

    assert job.pending_chunks() == [victim]
    job.run()
    assert job.tier("rollup_1m").count() == ref_count  # no dupes
    assert job.pending_chunks() == []


def test_tick_that_extracts_no_points_commits_its_chunk(spark, pages_path, tmp_path):
    """A chunk whose pages yield no point (a whitelist matching no
    metric) writes empty tiers: the tick commits it with forwarded=0, so
    neither this job nor a fresh one on the same state pends it again."""
    from beamium_spark.operators.extract import METRICS

    state = str(tmp_path / "s")
    conf = JobConf(bucket_mode="site", metric_whitelist="^nomatch$")
    job = RollupJob(spark, pages_path, state, conf)
    first = job.pending_chunks()[0]
    r = job.run(max_chunks=1)
    assert r["chunks"] == 1
    assert (r["forwarded"], r["forwarded_1h"], r["forwarded_1d"]) == (0, 0, 0)
    assert r["filtered"] == r["scraped"] * len(METRICS) > 0
    assert first not in job.pending_chunks()
    assert first not in RollupJob(spark, pages_path, state, conf).pending_chunks()
    ctr = {row["tier"]: row for row in job.counters().collect()}
    assert ctr["rollup_1m"]["forwarded"] == 0


def test_salted_job_equals_unsalted(spark, pages_path, tmp_path):
    a = RollupJob(spark, pages_path, str(tmp_path / "a"),
                  JobConf(bucket_mode="site", salt_factor=8, write_blocks=False))
    b = RollupJob(spark, pages_path, str(tmp_path / "b"),
                  JobConf(bucket_mode="site", write_blocks=False))
    a.run()
    b.run()
    _assert_same(a.tier("rollup_1m"), b.tier("rollup_1m"))


def test_backoff_retry():
    from beamium_spark.plans.checkpoint import commit_with_retry

    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise RuntimeError("transient")
        return "ok"

    import random
    assert (
        commit_with_retry(flaky, sleep=sleeps.append, rng=random.Random(42)) == "ok"
    )
    assert len(sleeps) == 3
    # exponential growth with beamium's x1.5, +-0.3 jitter
    assert 0.35 <= sleeps[0] <= 0.65
    assert sleeps[1] > sleeps[0] * 0.9

    def always_fails():
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError, match="commit failed"):
        commit_with_retry(always_fails, max_attempts=2, sleep=lambda _s: None)


def test_observability_counters_and_gauges(spark, pages_path, tmp_path):
    """Counters match per-run ground truth exactly (no fan-out heuristic):
    the clean fixture drops nothing → filtered == 0; with a metric
    whitelist exactly 3 of 4 candidate families are filtered per page."""
    n_pages = spark.read.parquet(pages_path).count()
    job = RollupJob(
        spark, pages_path, str(tmp_path / "s"),
        JobConf(bucket_mode="site", write_blocks=False),
    )
    r = job.run()
    assert r["scraped"] == n_pages
    assert r["filtered"] == 0
    g = job.gauges()
    assert g["pending_chunks"] == 0
    assert g["runs_started"] == 1 and g["runs_completed"] == 1
    assert g["commits_ok"] >= 1 and g["reloads"] == 0

    wl = RollupJob(
        spark, pages_path, str(tmp_path / "wl"),
        JobConf(bucket_mode="site", write_blocks=False, metric_whitelist="^doc_count$"),
    )
    rw = wl.run()
    assert rw["scraped"] == n_pages
    assert rw["filtered"] == 3 * n_pages  # byte_size, text_chars, lang_rate dropped


def test_late_data_replays_dirty_chunk(spark, tmp_path):
    """A chunk that receives rows AFTER its commit fence must be detected
    (count drift vs the recorded baseline) and replayed idempotently —
    tiers end up equal to a from-scratch recompute."""
    import shutil

    from beamium_spark.operators.extract import extract_points
    from beamium_spark.operators.rollup import rollup_tier
    from beamium_spark.plans.job import JobConf, RollupJob
    from beamium_spark.sources.synth import ensure_web_pages

    src = ensure_web_pages(0.0003)
    pages_dir = str(tmp_path / "pages")
    shutil.copytree(src, pages_dir)

    job = RollupJob(spark, pages_dir, str(tmp_path / "state"), JobConf(write_blocks=False))
    r1 = job.run()
    assert r1["chunks"] > 0
    assert job.run()["chunks"] == 0  # clean rerun is a no-op

    # late arrivals: clone a few rows of the FIRST committed hour back in
    pages = spark.read.parquet(pages_dir)
    first_hour = pages.select(F.date_trunc("hour", "warc_ts").alias("h")).agg(
        F.min("h")
    ).collect()[0][0]
    late = pages.filter(F.date_trunc("hour", "warc_ts") == first_hour).limit(3)
    late.coalesce(1).write.mode("append").parquet(pages_dir)

    r3 = job.run()
    assert r3["chunks"] == 1  # exactly the dirty chunk replays
    assert job.run()["chunks"] == 0  # and the new baseline sticks

    got = job.tier("rollup_1m")
    want = rollup_tier(
        extract_points(spark.read.parquet(pages_dir), bucket_mode="hash"), "1 minute"
    )
    cols = sorted(want.columns)
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


def test_job_maintains_distinct_tier(spark, pages_path, tmp_path):
    """JobConf.distinct_lgk turns on the distinct_1h HLL sketch tier;
    query(stat='distinct') answers from it within the sketch tolerance
    of the exact per-step distinct-url count; re-running the job leaves
    it unchanged (idempotent chunk overwrites)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from beamium_spark.plans.query import query
    from beamium_spark.sources.tables import ParquetTierStore

    state = str(tmp_path / "s")
    conf = JobConf(bucket_mode="site", distinct_lgk=12)
    job = RollupJob(spark, pages_path, state, conf)
    job.run()
    store = ParquetTierStore(spark, state)
    assert store.exists("distinct_1h")

    pages = spark.read.parquet(pages_path)
    bounds = pages.agg(
        F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
    ).collect()[0]
    t0 = bounds["lo"].replace(minute=0, second=0, microsecond=0)
    t1 = bounds["hi"] + dt.timedelta(hours=1)
    got = {
        r["window_start"]: r["value"]
        for r in query(store, "x", t0, t1, step="6 hours", stat="distinct").collect()
    }
    exact = {
        r["w"]["start"]: r["x"]
        for r in pages.groupBy(F.window("warc_ts", "6 hours").alias("w"))
        .agg(F.countDistinct("url").alias("x"))
        .collect()
    }
    assert set(got) == set(exact)
    for ws, est in got.items():
        assert abs(est - exact[ws]) / exact[ws] < 0.05, (ws, est, exact[ws])

    # idempotence: a second pass rewrites the same complete windows
    snap = sorted((r["window_start"],) for r in store.read("distinct_1h").collect())
    job2 = RollupJob(spark, pages_path, state, conf)
    job2.run()
    snap2 = sorted((r["window_start"],) for r in store.read("distinct_1h").collect())
    assert snap == snap2


def test_job_maintains_alerts_table(spark, pages_path, tmp_path):
    """JobConf.alert_rules turns on per-tick alert-episode evaluation:
    episodes land in the 'alerts' table, match a direct evaluation over
    the stored 1m tier per day, and re-running the job is idempotent."""
    from beamium_spark.operators.rollup import alert_episodes, tier_alert_rule
    from beamium_spark.plans.job import AlertRule
    from beamium_spark.sources.tables import ParquetTierStore

    state = str(tmp_path / "s")
    rule = AlertRule(metric="doc_count", threshold=1.0, op=">", for_windows=2)
    job = RollupJob(
        spark, pages_path, state, JobConf(bucket_mode="site", alert_rules=[rule])
    )
    job.run()
    store = ParquetTierStore(spark, state)
    assert store.exists("alerts")
    got = store.read("alerts")
    assert got.filter(F.col("rule") != rule.label).count() == 0
    # at threshold>1 with 2-minute for-duration something fires on the
    # fixture (sites post multiple docs/minute in bursts)
    assert got.count() > 0

    # direct per-day evaluation over the stored tier must match
    t1m = store.read("rollup_1m").filter(F.col("metric") == "doc_count")
    days = [r["d"] for r in t1m.select(F.to_date("window_start").alias("d")).distinct().collect()]
    exp = None
    for d in days:
        e = alert_episodes(
            tier_alert_rule(
                t1m.filter(F.to_date("window_start") == d), 1.0, ">", 2, "1 minute"
            ),
            2,
            "1 minute",
        )
        exp = e if exp is None else exp.unionByName(e)
    cols = ["bucket", "metric", "episode_start", "episode_end", "n_windows", "fired"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0

    # idempotent: a no-work rerun leaves the table unchanged
    n0 = got.count()
    job.run()
    assert store.read("alerts").count() == n0
