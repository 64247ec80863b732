"""The control plane runs on the driver and is exact: discovery by source
file, the checkpoint log, and retention (TTL and size cap) by partition
listing launch no Spark job once the source is known, and each replays
or evicts exactly what it should."""

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from beamium_spark.operators.retention import ttl_evict
from beamium_spark.plans.job import AlertRule, JobConf, RetentionPolicy, RollupJob
from beamium_spark.sources.synth import ensure_web_pages


def _spark_jobs(spark, fn):
    """Ids of the Spark jobs ``fn`` starts (its own job group)."""
    sc = spark.sparkContext
    group = "control-plane-probe"
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, "control plane probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return set(sc.statusTracker().getJobIdsForGroup(group)) - before, out


def _assert_same(a, b):
    cols = sorted(set(a.columns) & set(b.columns))
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_discovery_and_retention_start_no_spark_job(spark, tmp_path):
    job = RollupJob(
        spark, ensure_web_pages(0.0003), str(tmp_path / "s"),
        JobConf(bucket_mode="site", write_blocks=False),
    )
    job.run()
    # the probe sees jobs when there are some
    started, _ = _spark_jobs(spark, lambda: spark.range(3).count())
    assert started

    started, pending = _spark_jobs(spark, job.pending_chunks)
    assert pending == [] and started == set()
    # the 1m tier's 48 h TTL evicts the fixture's first day
    started, out = _spark_jobs(spark, lambda: job.apply_retention("2025-01-04T00:00:00"))
    assert started == set()
    assert out["rollup_1m"]["expired_rows"] > 0


def _split_source(src_dir, out_dir):
    """The fixture re-cut into three files over disjoint hour ranges
    (``a``, ``b``, ``c``) plus ``late``, a few rows cloned from two of
    ``a``'s hours. Returns {name: sorted hours the file holds}."""
    (src,) = [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
    t = pq.read_table(os.path.join(src_dir, src))
    t = t.filter(pc.is_valid(t["warc_ts"]))
    hours = pc.floor_temporal(t["warc_ts"], unit="hour")
    distinct = sorted(set(hours.to_pylist()))
    cut1, cut2 = distinct[len(distinct) // 3], distinct[2 * len(distinct) // 3]
    parts = {
        "a": t.filter(pc.less(hours, cut1)),
        "b": t.filter(pc.and_(pc.greater_equal(hours, cut1), pc.less(hours, cut2))),
        "c": t.filter(pc.greater_equal(hours, cut2)),
    }
    a_hours = pc.floor_temporal(parts["a"]["warc_ts"], unit="hour")
    late_hours = sorted(set(a_hours.to_pylist()))[1:3]
    parts["late"] = parts["a"].filter(
        pc.is_in(a_hours, value_set=pa.array(late_hours, a_hours.type))
    ).slice(0, 6)
    os.makedirs(out_dir)
    out = {}
    for name, part in parts.items():
        pq.write_table(part, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = sorted(set(
            pc.floor_temporal(part["warc_ts"], unit="hour").to_pylist()))
    return out


def test_replaced_and_removed_files_replay_exactly_their_chunks(spark, tmp_path):
    pages = str(tmp_path / "pages")
    hours = _split_source(ensure_web_pages(0.0003), pages)
    conf = JobConf(bucket_mode="site", write_blocks=False)
    job = RollupJob(spark, pages, str(tmp_path / "s"), conf)
    job.run()
    assert job.pending_chunks() == []

    # replaced at the same path: one row fewer, the same hours (the row
    # dropped shares its hour with the next; the file is time-sorted)
    b = pq.read_table(os.path.join(pages, "b.parquet"))
    b_hours = pc.floor_temporal(b["warc_ts"], unit="hour").to_pylist()
    i = next(i for i in range(len(b_hours) - 1) if b_hours[i] == b_hours[i + 1])
    pq.write_table(pa.concat_tables([b.slice(0, i), b.slice(i + 1)]),
                   os.path.join(pages, "b.parquet"))
    assert job.pending_chunks() == hours["b"]
    assert job.run()["chunks"] == len(hours["b"])

    # removed: its chunks replay from the files left
    os.remove(os.path.join(pages, "late.parquet"))
    assert job.pending_chunks() == hours["late"]
    assert job.run()["chunks"] == len(hours["late"])
    assert job.pending_chunks() == []

    ref = RollupJob(spark, pages, str(tmp_path / "ref"), conf)
    ref.run()
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        _assert_same(job.tier(tier), ref.tier(tier))


def test_leftover_tmp_segment_is_ignored_and_replay_keeps_counters(spark, tmp_path):
    """A kill between a fence's write and its rename leaves only
    ``.<segment>.tmp``: readers skip it and the run's chunks replay.
    Afterwards the 1m and 1h counters equal an uninterrupted run's, and every
    committed run keeps its 1h and 1d records, which share its fence."""
    pages = ensure_web_pages(0.0003)
    conf = JobConf(bucket_mode="site", write_blocks=False)
    job = RollupJob(spark, pages, str(tmp_path / "s"), conf)
    job.run(max_chunks=5)
    second = job.run()
    name, fence = job.manifest.segments()[-1]
    assert fence["run_id"] == second["run_id"]
    fs, seg = job.store._fs_path(f"{job.manifest.root}/{name}")
    tmp = spark._jvm.org.apache.hadoop.fs.Path(seg.getParent(), f".{name}.tmp")
    assert fs.rename(seg, tmp)

    assert len(job.pending_chunks()) == second["chunks"]
    assert job.run()["chunks"] == second["chunks"]
    assert job.pending_chunks() == []

    ref = RollupJob(spark, pages, str(tmp_path / "ref"), conf)
    ref.run()
    got = {r["tier"]: r.asDict() for r in job.counters().collect()}
    want = {r["tier"]: r.asDict() for r in ref.counters().collect()}
    # the 1h cascade writes only the pending hours, so its counters add
    # up across runs like the 1m ones
    assert got["rollup_1m"] == want["rollup_1m"]
    assert got["rollup_1h"] == want["rollup_1h"]
    # each committed run carries its 1h and 1d records; the 1d cascade
    # rebuilds whole touched days, so the day both runs share counts twice
    assert [job.manifest.commits(t) for t in ("rollup_1m", "rollup_1h", "rollup_1d")] == [2, 2, 2]
    assert got["rollup_1d"]["forwarded"] >= want["rollup_1d"]["forwarded"] > 0
    g = job.gauges()
    assert g["runs_started"] == 3 and g["runs_completed"] == 2
    assert g["commits_ok"] == 2 and g["pending_chunks"] == 0


TTL_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "blocks", "hist_1h",
              "distinct_1h", "alerts")


@pytest.fixture(scope="module")
def full_state(spark, tmp_path_factory):
    """A full run writing every table the job can write."""
    state = str(tmp_path_factory.mktemp("ttl") / "s")
    conf = JobConf(
        bucket_mode="site", histogram_bin_width=50.0, distinct_lgk=12,
        alert_rules=[AlertRule(metric="doc_count", threshold=1.0, for_windows=2)],
    )
    RollupJob(spark, ensure_web_pages(0.0003), state, conf).run()
    return state


def test_every_partition_holds_one_hour_truncated_chunk(spark, full_state):
    from beamium_spark.sources.tables import ParquetTierStore

    store = ParquetTierStore(spark, full_state)
    for table in TTL_TABLES:
        per_key = (
            store.read(table)
            .groupBy("chunk_key")
            .agg(F.countDistinct("chunk_start").alias("n"), F.min("chunk_start").alias("cs"))
            .collect()
        )
        assert per_key, table
        for r in per_key:
            assert r["n"] == 1, (table, r)
            assert r["cs"] == r["cs"].replace(minute=0, second=0, microsecond=0), (table, r)
            assert r["chunk_key"] == r["cs"].strftime("%Y-%m-%d-%H"), (table, r)


def test_fractional_ttl_evicts_exactly(spark, full_state, tmp_path):
    from beamium_spark.sources.tables import ParquetTierStore

    state = str(tmp_path / "s")
    ref = str(tmp_path / "ref")
    shutil.copytree(full_state, state)
    shutil.copytree(full_state, ref)
    store = ParquetTierStore(spark, state)
    now, ttl = "2025-01-02T10:00:00", 2.5
    cutoff = dt.datetime(2025, 1, 2, 7, 30)
    ref_store = ParquetTierStore(spark, ref)
    for table in TTL_TABLES:
        want = ref_store.read(table).filter(F.col("chunk_start") >= F.lit(cutoff))
        n_all = ref_store.read(table).count()
        out = ttl_evict(store, table, now, ttl)
        assert out["expired_rows"] == n_all - want.count(), table
        got = store.read(table) if store.exists(table) else None
        assert (got.count() if got is not None else 0) == want.count(), table
        if got is not None:
            assert {r[0] for r in got.select("chunk_start").distinct().collect()} == {
                r[0] for r in want.select("chunk_start").distinct().collect()
            }, table
        assert ttl_evict(store, table, now, ttl) == {
            "expired_partitions": 0, "expired_rows": 0
        }


def test_size_cap_evicts_oldest_partitions_exactly(spark, full_state, tmp_path):
    """Caps on rollup_1h and blocks that evict some partitions but not
    all: no Spark job, an oldest-first prefix of the keys, the kept
    on-disk bytes within the cap but not with the newest evicted
    partition added back, and counters equal to counts over a copy."""
    from beamium_spark.sources.tables import ParquetTierStore

    state = str(tmp_path / "s")
    ref = str(tmp_path / "ref")
    shutil.copytree(full_state, state)
    shutil.copytree(full_state, ref)
    before = {t: ParquetTierStore(spark, ref).partitions(t) for t in ("rollup_1h", "blocks")}
    caps = {t: sum(b for _, b in parts.values()) // 2 for t, parts in before.items()}
    conf = JobConf(retention={t: RetentionPolicy(cap_bytes=c) for t, c in caps.items()})
    job = RollupJob(spark, ensure_web_pages(0.0003), state, conf)

    started, out = _spark_jobs(spark, lambda: job.apply_retention("2025-01-04T00:00:00"))
    assert started == set()
    for table, cap in caps.items():
        kept = job.store.partitions(table)
        evicted = sorted(set(before[table]) - set(kept))
        assert kept and evicted, table
        assert max(evicted) < min(kept), table
        kept_bytes = sum(b for _, b in kept.values())
        assert kept_bytes <= cap < kept_bytes + before[table][evicted[-1]][1], table
        want_rows = (
            spark.read.parquet(f"{ref}/{table}")
            .filter(F.col("chunk_key").isin(evicted))
            .count()
        )
        assert out[table] == {"evicted_chunks": len(evicted), "evicted_rows": want_rows}


def test_daemon_size_cap_evicts_oldest_partitions(spark, tmp_path):
    """A daemon sink's ``size`` goes through the shared retention pass:
    the default 1 GiB cap evicts nothing, a small one unlinks the oldest
    hours, and neither starts a Spark job."""
    from beamium_spark.conf import load_conf
    from beamium_spark.plans.daemon import ScrapeDaemon, ScraperSource

    prom = tmp_path / "prom"
    prom.mkdir()
    t0 = 1735689600000
    (prom / "scrape-0.metrics").write_text("".join(
        f'm{{i="{i}"}} {i} {t0 + h * 3_600_000 + i}\n' for h in range(4) for i in range(20)
    ))
    conf = load_conf({
        "scrapers": {"web": {"format": "prometheus"}},
        "sinks": {"all": {"table": "all", "ttl": 30 * 24 * 3600}},
    })
    daemon = ScrapeDaemon(spark, conf, [ScraperSource(conf.scrapers[0], str(prom))],
                          str(tmp_path / "state"), t0 * 1000)
    assert daemon.run_once()["chunks"] == 4
    now = "2025-01-01T04:00:00"

    started, out = _spark_jobs(spark, lambda: daemon.apply_retention(now))
    assert started == set()
    assert out["all"]["evicted_chunks"] == 0 and out["all"]["expired_partitions"] == 0

    before = daemon.store.partitions("all")
    keys = list(before)
    conf.sinks[0].size_bytes = before[keys[-1]][1] + before[keys[-2]][1]
    started, out = _spark_jobs(spark, lambda: daemon.apply_retention(now))
    assert started == set()
    assert list(daemon.store.partitions("all")) == keys[-2:]
    assert out["all"]["evicted_chunks"] == 2 and out["all"]["evicted_rows"] == 40


def test_tick_starts_at_most_15_spark_jobs(spark, tmp_path):
    """A one-chunk tick on a pre-filled store: each tier write is one
    hash exchange, the block encoder's tasks follow the data, the
    cascade reads infer no schema and the point count rides the 1m
    write. That is at most 15 Spark jobs (23 with a range-sampled
    exchange per write). A read of a table the store wrote starts no
    job; another store infers a table's schema once."""
    from beamium_spark.sources.tables import ParquetTierStore

    pages, state = ensure_web_pages(0.0003), str(tmp_path / "s")
    conf = JobConf(bucket_mode="site")
    RollupJob(spark, pages, state, conf).run(max_chunks=4)
    job = RollupJob(spark, pages, state, conf)
    started, report = _spark_jobs(spark, lambda: job.run(max_chunks=1))
    assert report["chunks"] == 1
    assert 0 < len(started) <= 15, sorted(started)

    other = ParquetTierStore(spark, state)
    for table in ("rollup_1m", "rollup_1h", "rollup_1d", "blocks"):
        started, df = _spark_jobs(spark, lambda: job.store.read(table))
        assert started == set(), table
        first, inferred = _spark_jobs(spark, lambda: other.read(table))
        again, _ = _spark_jobs(spark, lambda: other.read(table))
        assert first and again == set(), table
        assert df.schema == inferred.schema, table
        _assert_same(df, inferred)


@pytest.mark.parametrize(
    "conf",
    [
        JobConf(bucket_mode="site", write_blocks=False,
                metric_whitelist="^(doc_count|lang_rate)"),
        JobConf(bucket_mode="site", write_blocks=False, salt_factor=4),
    ],
    ids=["whitelist", "salted"],
)
def test_filtered_counts_the_points_the_1m_write_observed(spark, tmp_path, conf):
    """``filtered`` = dropped pages + dropped candidate points, where the
    point count is the ``cnt`` sum observed on the 1m write. Both equal
    counts over the extracted points, with a whitelist that drops two
    families and with the two-stage salted rollup."""
    from beamium_spark.operators.extract import METRICS, extract_points

    job = RollupJob(spark, ensure_web_pages(0.0003), str(tmp_path / "s"), conf)
    report = job.run()
    pages = job.pages()
    scraped = pages.count()
    valid = pages.filter(F.col("url").isNotNull() & F.col("warc_ts").isNotNull()).count()
    points = extract_points(
        pages, bucket_mode="site", metric_whitelist=conf.metric_whitelist
    ).count()

    assert report["scraped"] == scraped
    assert report["filtered"] == (scraped - valid) + (valid * len(METRICS) - points)
    # the observed point count: the cnt sum of the 1m rows written
    assert job.tier("rollup_1m").agg(F.sum("cnt")).first()[0] == points > 0
    if conf.metric_whitelist:
        assert report["filtered"] > 0


# ---- the scrape daemon shares the job's discovery ------------------------

T0_MS = 1735689600000  # 2025-01-01T00:00:00Z


def _prom(lines):
    """Prometheus text: ``(metric, value, hour or None)`` samples; a None
    hour leaves the sample untimed."""
    return "".join(
        f"{m} {v}\n" if h is None else f"{m} {v} {T0_MS + h * 3_600_000 + i}\n"
        for i, (m, v, h) in enumerate(lines)
    )


def _daemon(spark, dirs, state, now_us):
    from beamium_spark.conf import load_conf
    from beamium_spark.plans.daemon import ScrapeDaemon, ScraperSource

    conf = load_conf({
        "scrapers": {"web": {"format": "prometheus"}},
        "sinks": {"all": {"table": "all", "ttl": 30 * 24 * 3600}},
    })
    sources = [ScraperSource(conf.scrapers[0], str(d)) for d in dirs]
    return ScrapeDaemon(spark, conf, sources, str(state), now_us)


def _hours(hours):
    return [dt.datetime(2025, 1, 1, h) for h in hours]


def _sink_rows(daemon):
    return sorted(
        (r["metric"], r["value"], r["h"]) for r in daemon.store.read("all")
        .select("metric", "value", F.date_format("ts", "HH").alias("h")).collect()
    )


def test_daemon_pass_with_no_new_file_starts_no_spark_job(spark, tmp_path):
    """Two sources of one scraper hold a file of the same name, content
    and mtime: both are routed. A second pass, with no new file, starts
    no Spark job."""
    dirs = [tmp_path / "p1", tmp_path / "p2"]
    for d in dirs:
        d.mkdir()
        (d / "x.metrics").write_text(_prom([("m", 1, 0), ("m", 2, 1)]))
        os.utime(d / "x.metrics", (1_700_000_000, 1_700_000_000))
    daemon = _daemon(spark, dirs, tmp_path / "s", T0_MS * 1000)
    first = daemon.run_once()
    assert first["chunks"] == 2 and first["forwarded"] == {"all": 4}

    started, report = _spark_jobs(spark, daemon.run_once)
    assert report["chunks"] == 0 and started == set()


def test_daemon_replaced_and_removed_files_replay_exactly_their_hours(spark, tmp_path):
    prom = tmp_path / "prom"
    prom.mkdir()
    (prom / "a.metrics").write_text(_prom([("m", 1, 0), ("m", 2, 1)]))
    (prom / "b.metrics").write_text(_prom([("m", 3, 2), ("m", 4, 2), ("m", 5, 3)]))
    (prom / "late.metrics").write_text(_prom([("n", 6, 1)]))
    daemon = _daemon(spark, [prom], tmp_path / "s", T0_MS * 1000)
    assert daemon.run_once()["chunks"] == 4
    assert daemon.pending_chunks() == []

    # replaced at the same path: one sample fewer, the same hours
    (prom / "b.metrics").write_text(_prom([("m", 3, 2), ("m", 5, 3)]))
    assert daemon.pending_chunks() == _hours([2, 3])
    assert daemon.run_once()["chunks"] == 2

    # removed: its hour replays from the files left
    os.remove(prom / "late.metrics")
    assert daemon.pending_chunks() == _hours([1])
    assert daemon.run_once()["chunks"] == 1
    assert daemon.pending_chunks() == []

    ref = _daemon(spark, [prom], tmp_path / "ref", T0_MS * 1000)
    ref.run_once()
    assert _sink_rows(daemon) == _sink_rows(ref) == [
        ("m", 1.0, "00"), ("m", 2.0, "01"), ("m", 3.0, "02"), ("m", 5.0, "03")
    ]


def test_daemon_replay_keeps_untimed_samples_in_their_first_hour(spark, tmp_path):
    """A file's untimed samples take the scrape time of the pass that
    first parses it. A late file dirties that hour; the replay, by a
    daemon built with a scrape time five hours on, re-reads the file with
    its recorded time, so its samples stay where they were."""
    prom = tmp_path / "prom"
    prom.mkdir()
    (prom / "a.metrics").write_text(_prom([("up", 1, None), ("m", 2, 0)]))
    state = tmp_path / "s"
    first = _daemon(spark, [prom], state, (T0_MS + 600_000) * 1000)
    assert first.run_once()["chunks"] == 1

    (prom / "late.metrics").write_text(_prom([("m", 3, 0)]))
    later = _daemon(spark, [prom], state, (T0_MS + 5 * 3_600_000) * 1000)
    assert later.pending_chunks() == _hours([0])
    assert later.run_once()["chunks"] == 1
    assert later.pending_chunks() == []
    assert _sink_rows(later) == [("m", 2.0, "00"), ("m", 3.0, "00"), ("up", 1.0, "00")]
