"""The rollup job driver: beamium's scrape→route→forward loop, Spark-first.

One ``run()`` is a micro-batch pass (beamium's scrape tick,
/root/reference/src/scraper.rs:90-135):

1. discover work by source file, as beamium scans its directory
   (src/lib/asynch/fs.rs:83): list the source files, scan only files the
   checkpoint log has never seen to learn which hour-chunks each holds,
   then take the chunks never committed PLUS committed chunks whose set
   of source files changed since their commit — late-arriving,
   replaced or removed files replay their chunks exactly like beamium
   re-forwards any new file in a scanned directory (src/router.rs:56-77);
2. per pending chunk set: extract points → 1m rollup → idempotent
   partition overwrite → Gorilla blocks;
3. cascade: 1h windows of the pending hours from their stored 1m
   partitions, 1d windows of the touched days from the stored 1h tier
   (decomposable tuples — raw data is read exactly once, by the 1m pass);
4. the fence: one log segment with the 1m/1h/1d commit records, the
   chunks' source-file baseline and ``run_complete``;
5. retention and compaction: ``retention_pass`` and ``compaction_pass``,
   shared with the scrape daemon (TTL and size cap, both partition
   unlinks before a cutoff key).

Kill the driver at any point: data writes are per-chunk idempotent
overwrites and the fence lands only after the writes, so a rerun replays
exactly the unforwarded chunks (the DFO guarantee, README.md:6).

Scale notes: discovery and the checkpoint log are driver-side listings
and small files; the only raw-data scans per pass are the ``warc_ts``
scan of never-seen source files and the 1m rollup over pending chunks,
pruned by a ``warc_ts`` range predicate that reaches the parquet
row-group stats (the fixture is written time-sorted for exactly this
reason).
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beamium_spark.operators.blocks import encode_blocks
from beamium_spark.operators.extract import extract_points
from beamium_spark.operators.retention import KEY_FORMAT, size_cap_evict, ttl_evict
from beamium_spark.operators.rollup import (
    day_alert_episodes,
    rollup_cascade,
    rollup_tier,
    rollup_tier_salted,
)
from beamium_spark.plans.checkpoint import (
    Manifest,
    baseline_record,
    commit_record,
    commit_with_retry,
    event_record,
    new_run_id,
)
from beamium_spark.sources.tables import ParquetTierStore

#: the pages source schema. Declared rather than inferred so ``warc_ts``
#: reads as TIMESTAMP whatever the session's NTZ inference says: parquet
#: written with naive timestamps would otherwise read as TIMESTAMP_NTZ,
#: which the window key rejects. The microsecond values are unchanged.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


#: per-tick incremental compaction: chunks exceeding this many parquet
#: files get rewritten after retention
MAX_FILES_PER_CHUNK = 8


@dataclass
class RetentionPolicy:
    """A table's limits: rows older than ``ttl_hours`` expire, and the
    oldest hour partitions go while the table's parquet bytes on disk
    exceed ``cap_bytes`` (beamium's sink directory size). ``None`` turns
    a limit off. Earlier versions measured the cap as 64 B per row, or
    encoded block lengths for ``blocks``, so a store near its cap now
    evicts differently."""

    ttl_hours: float | None = None
    cap_bytes: int | None = None


@dataclass
class AlertRule:
    """One Prometheus-style rule the job evaluates per tick over the
    maintained 1m tier: ``value <op> threshold`` for ``for_windows``
    consecutive minutes on series whose metric matches the anchored
    regex. ``name`` labels the output rows (defaults to the rule
    expression)."""

    metric: str
    threshold: float
    op: str = ">"
    for_windows: int = 3
    name: str | None = None

    @property
    def label(self) -> str:
        return self.name or f"{self.metric}{self.op}{self.threshold}for{self.for_windows}m"


@dataclass
class JobConf:
    """Engine config; defaults echo the reference's capacity constants
    (SURVEY.md §6)."""

    bucket_mode: str = "hash"
    salt_factor: int = 0  # 0 = unsalted; >0 = two-stage skew-resistant agg
    metric_whitelist: str | None = None
    write_blocks: bool = True
    # when set, the job also maintains a 1h fixed-width value-histogram
    # tier ("hist_1h") — decomposable bin counts, the scale path for
    # approximate percentile reads (query(stat=..., approx=True))
    histogram_bin_width: float | None = None
    # when set, the job also maintains a 1h MERGEABLE HLL distinct-url
    # tier ("distinct_1h" — DataSketches sketch column at this lgK);
    # query(stat='distinct') unions it to any step without raw pages
    distinct_lgk: int | None = None
    # per-tick alert-rule evaluation (list of AlertRule): episodes land
    # in the 'alerts' table, evaluated PER TOUCHED DAY so replays are
    # deterministic regardless of which tick recomputes a day (streaks
    # reset at day boundaries by construction — the same complete-day
    # recompute contract as the cascades)
    alert_rules: list = field(default_factory=list)
    retention: dict = field(
        default_factory=lambda: {
            # 1m keeps 2 days, 1h keeps 2 weeks, 1d keeps forever;
            # raw-fidelity Gorilla blocks follow the 1m tier
            "rollup_1m": RetentionPolicy(ttl_hours=48),
            "rollup_1h": RetentionPolicy(ttl_hours=14 * 24),
            "rollup_1d": RetentionPolicy(),
            "blocks": RetentionPolicy(ttl_hours=48),
            # distribution tier (written only when histogram_bin_width is
            # set) follows the 1h tier's horizon
            "hist_1h": RetentionPolicy(ttl_hours=14 * 24),
            # distinct-sketch tier (written only when distinct_lgk is
            # set) follows the 1h tier's horizon
            "distinct_1h": RetentionPolicy(ttl_hours=14 * 24),
            # alert episodes (written only when alert_rules is set)
            "alerts": RetentionPolicy(ttl_hours=14 * 24),
        }
    )


def _utc_wall(t: dt.datetime) -> dt.datetime:
    """A collected Spark timestamp as naive UTC wall time, the clock of
    the store's ``chunk_key`` and of ``to_date`` in the UTC session.
    ``collect()`` returns naive datetimes in the driver process's local
    zone whatever the session zone."""
    return dt.datetime.fromtimestamp(t.timestamp(), dt.timezone.utc).replace(tzinfo=None)


def _utc_lit(t: dt.datetime):
    """A timestamp literal of a naive UTC wall time: PySpark reads a
    naive ``datetime`` as the driver's local time."""
    return F.lit(t.replace(tzinfo=dt.timezone.utc))


class RollupJob:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        state_root: str,
        conf: JobConf | None = None,
    ):
        self.spark = spark
        self.pages_path = pages_path
        self.conf = conf or JobConf()
        self.store = ParquetTierStore(spark, state_root)
        self.manifest = Manifest(self.store)

    # ---- discovery -------------------------------------------------------

    def pages(self) -> DataFrame:
        """The source pages: every read of the source goes through here."""
        return self.spark.read.schema(PAGES_SCHEMA).parquet(self.pages_path)

    def _scan_chunks(self, files: list[str]) -> dict[str, list]:
        """relative path → hour-chunks it holds (naive UTC wall time, as
        every chunk the driver keeps), for ``files``: one Spark job over
        their ``warc_ts``, grouped by ``input_file_name()``."""
        base = self.pages_path.rstrip("/")
        rows = (
            self.spark.read.schema(PAGES_SCHEMA)
            .parquet(*[f"{base}/{f}" for f in files])
            .filter(F.col("warc_ts").isNotNull())
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.collect_set(F.date_trunc("hour", "warc_ts")).alias("chunks"))
            .collect()
        )
        fs, root = self.store._fs_path(base)
        prefix = fs.makeQualified(root).toUri().getPath().rstrip("/") + "/"
        found = {
            unquote(urlparse(r["f"]).path)[len(prefix):]: sorted(map(_utc_wall, r["chunks"]))
            for r in rows
        }
        return {f: found.get(f, []) for f in files}

    def pending_chunks(self) -> list:
        """New chunks (never committed) ∪ dirty chunks (the set of source
        files touching them changed since their commit) — both replayed
        through the same idempotent path. A file is identified by
        (path, length, mtime), so a file replaced at the same path is a
        new file. Only never-seen files are scanned, and their chunks go
        to the log: a tick with no new source file runs no Spark job."""
        listed = {
            f"{path}|{size}|{mtime}": path
            for path, size, mtime in self.store.list_files(self.pages_path)
        }
        seen = self.manifest.source_files()
        new = sorted(fid for fid in listed if fid not in seen)
        if new:
            by_path = self._scan_chunks([listed[fid] for fid in new])
            found = {fid: by_path[listed[fid]] for fid in new}
            self.manifest.append(
                "discover",
                [{"files": {fid: [c.isoformat() for c in cs] for fid, cs in found.items()}}],
            )
            seen = {**seen, **found}
        touching = defaultdict(list)
        for fid in sorted(listed):
            for c in seen[fid]:
                touching[c].append(fid)
        # the fence records the file sets this discovery saw
        self._fingerprints = {
            c: hashlib.sha1("\n".join(fids).encode()).hexdigest()[:16]
            for c, fids in touching.items()
        }
        return self.manifest.pending(self._fingerprints, ["rollup_1m"])

    # ---- one micro-batch pass -------------------------------------------

    def run(self, max_chunks: int | None = None) -> dict:
        run_id = new_run_id()
        pending = self.pending_chunks()
        if max_chunks is not None:
            pending = pending[:max_chunks]
        report = {"run_id": run_id, "chunks": len(pending)}
        if not pending:
            report.update(scraped=0, filtered=0, forwarded=0)
            return report
        self.manifest.record_event(run_id, "run_start", f"chunks={len(pending)}")

        lo, hi = min(pending), max(pending)
        # range + set predicate: range reaches row-group stats, the isin
        # prunes interior committed chunks
        in_pending = (
            (F.col("warc_ts") >= _utc_lit(lo))
            & (F.col("warc_ts") < _utc_lit(hi) + F.expr("interval 1 hour"))
            & F.date_trunc("hour", "warc_ts").isin([_utc_lit(c) for c in pending])
        )
        source = self.pages()
        pages = source.filter(in_pending)
        points = extract_points(
            pages,
            bucket_mode=self.conf.bucket_mode,
            metric_whitelist=self.conf.metric_whitelist,
        ).cache()
        # exact counter triple (north_star scraped/filtered/forwarded):
        # scraped = raw page rows scanned (beamium_fetch_datapoints);
        # filtered = F1-dropped pages + F2/F3-dropped candidate points —
        # counted directly, never inferred from the fan-out factor (which
        # breaks under metric_whitelist / non-default families). The
        # counting scan admits NULL-warc_ts rows explicitly (the range
        # predicate above would silently exclude them): such rows can never
        # join a chunk, so like beamium's malformed lines they are
        # re-scraped and re-counted as filtered by every pass that has
        # pending work.
        from beamium_spark.operators.extract import METRICS

        count_src = source.filter(F.col("warc_ts").isNull() | in_pending)
        pg = count_src.agg(
            F.count(F.lit(1)).alias("scraped"),
            F.count(
                F.when(F.col("url").isNotNull() & F.col("warc_ts").isNotNull(), 1)
            ).alias("valid"),
        ).collect()[0]
        scraped, valid = pg["scraped"], pg["valid"]

        if self.conf.salt_factor:
            t1m = rollup_tier_salted(
                points, "1 minute", salt_factor=self.conf.salt_factor
            )
        else:
            t1m = rollup_tier(points, "1 minute")
        t1m = t1m.withColumn("chunk_start", F.date_trunc("hour", "window_start"))
        # data write only — the rollup_1m manifest row is the pending-work
        # marker, so it must land LAST, after blocks and both cascades:
        # a kill anywhere in between leaves the chunk pending and the rerun
        # redoes every (idempotent-overwrite) write for it. This first
        # action over ``points`` fills its cache, and its cnt column sums
        # to the point count: every point has a ts and a finite value.
        forwarded, n_points = self._write_tier_data(t1m, "rollup_1m")
        filtered = (scraped - valid) + (valid * len(METRICS) - n_points)

        if self.conf.write_blocks:
            blocks = encode_blocks(
                points.select("bucket", "metric", "ts", "value"), "1 hour"
            )
            commit_with_retry(
                lambda: self.store.write_chunks(blocks, "blocks", "chunk_start")
            )

        if self.conf.histogram_bin_width:
            from beamium_spark.operators.rollup import rollup_histogram

            # hour windows align with chunk boundaries, so each chunk's
            # dynamic overwrite replaces complete windows — replay-idempotent
            # like the tiers; bin_width rides along so readers are
            # self-describing
            hist = (
                rollup_histogram(
                    points, "1 hour", self.conf.histogram_bin_width
                )
                .withColumn(
                    "bin_width", F.lit(float(self.conf.histogram_bin_width))
                )
                .withColumn("chunk_start", F.col("window_start"))
            )
            commit_with_retry(
                lambda: self.store.write_chunks(hist, "hist_1h", "chunk_start")
            )

        if self.conf.distinct_lgk:
            from beamium_spark.operators.rollup import distinct_tier

            # doc_count rows carry each page's url exactly once; hour
            # windows align with chunks, so overwrites stay idempotent
            dsk = distinct_tier(
                points.filter(F.col("metric") == "doc_count").select(
                    "url", F.col("ts").alias("warc_ts")
                ),
                "1 hour",
                lgk=self.conf.distinct_lgk,
            ).withColumn("chunk_start", F.col("window_start"))
            commit_with_retry(
                lambda: self.store.write_chunks(dsk, "distinct_1h", "chunk_start")
            )

        # tier writes are dynamic overwrites of hour chunk_key partitions.
        # A 1h window is one chunk hour, so the 1h cascade reads only the
        # pending hours' 1m partitions, just written. (Cascading this
        # pass's t1m instead costs one more Spark job: a second exchange
        # of the cached points.) A 1d window spans the whole day: its
        # cascade reads the stored 1h rows of every touched day.
        touched_days = sorted({h.replace(hour=0, minute=0, second=0) for h in pending})
        touched_dates = [d.date() for d in touched_days]
        t1h = (
            rollup_cascade(
                self.store.read("rollup_1m").filter(
                    F.col("chunk_key").isin([h.strftime(KEY_FORMAT) for h in pending])
                ),
                "1 hour",
            )
            .withColumn("chunk_start", F.col("window_start"))
        )
        fwd_1h, _ = self._write_tier_data(t1h, "rollup_1h")
        t1d = (
            rollup_cascade(
                self.store.read("rollup_1h").filter(
                    F.to_date("window_start").isin(touched_dates)
                ),
                "1 day",
            )
            .withColumn("chunk_start", F.col("window_start"))
        )
        fwd_1d, _ = self._write_tier_data(t1d, "rollup_1d")

        if self.conf.alert_rules:
            eps = day_alert_episodes(
                self.store.read("rollup_1m"), touched_dates, self.conf.alert_rules
            )
            commit_with_retry(
                lambda: self.store.write_chunks(eps, "alerts", "chunk_start")
            )

        # the resumability fence: only now is the chunk "forwarded". The
        # 1h/1d counters and the late-data baseline ride the same atomic
        # segment, so no crash can split them from the 1m commit.
        fence = [
            commit_record(
                "rollup_1m", pending,
                scraped=scraped, filtered=filtered, forwarded=forwarded,
            ),
            commit_record("rollup_1h", pending, forwarded=fwd_1h),
            commit_record("rollup_1d", touched_days, forwarded=fwd_1d),
            baseline_record({c: self._fingerprints[c] for c in pending}),
            event_record("run_complete", f"chunks={len(pending)}"),
        ]
        commit_with_retry(lambda: self.manifest.commit(run_id, fence))

        points.unpersist()
        report.update(
            scraped=scraped,
            filtered=filtered,
            forwarded=forwarded,
            forwarded_1h=fwd_1h,
            forwarded_1d=fwd_1d,
        )
        return report

    def _write_tier_data(self, tier_df: DataFrame, table: str) -> tuple[int, int]:
        """Idempotent tier data write (chunk partition overwrite) with
        beamium's commit backoff; manifest rows are the caller's business —
        ordering them after all dependent writes is what makes kill-anywhere
        replay sound. Returns (rows written, sum of their ``cnt``).

        Both counters ride the write via ``observe()`` on the tier frame,
        below the store's hash exchange, which runs its child once. Fresh
        Observation per attempt: a backoff retry re-runs the closure and an
        Observation is single-use. An empty frame writes nothing and posts
        no metrics (AQE plans it as an empty relation, so no task runs the
        observer): its Observation holds an empty row, read as 0 rows."""
        from pyspark.sql import Observation

        result: dict[str, int] = {}

        def _attempt() -> None:
            ob = Observation()
            self.store.write_chunks(
                tier_df.observe(
                    ob,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("cnt"), F.lit(0)).alias("points"),
                ),
                table,
                "chunk_start",
            )
            empty = ob._jo.getRow().length() == 0
            result.update({"n": 0, "points": 0} if empty else ob.get)

        commit_with_retry(_attempt)
        return result["n"], result["points"]

    # ---- retention -------------------------------------------------------

    def apply_retention(self, now_ts: str) -> dict:
        return retention_pass(self.store, self.conf.retention, now_ts)

    def compact_if_needed(self) -> dict:
        return compaction_pass(self.store, self.conf.retention, MAX_FILES_PER_CHUNK)

    # ---- readback --------------------------------------------------------

    def tier(self, name: str) -> DataFrame:
        return self.store.read(name).drop("chunk_key", "chunk_start")

    def counters(self) -> DataFrame:
        return self.manifest.counters()

    def record_reload(self) -> None:
        """Config hot-reload marker (beamium_reload_count, src/main.rs:27-33):
        call from the ``conf.watch_and_rerun`` on_change hook before
        restarting the job from checkpoint."""
        self.manifest.record_event(new_run_id(), "reload")

    def gauges(self) -> dict:
        """Live gauges: pending-chunk count (beamium_directory_files,
        src/lib/asynch/fs.rs:17-26) + run/reload/commit event totals
        (beamium_reload_count, push_http_status analogues)."""
        events = self.manifest.event_counts()
        return {
            "pending_chunks": len(self.pending_chunks()),
            "runs_started": events.get("run_start", 0),
            "runs_completed": events.get("run_complete", 0),
            "reloads": events.get("reload", 0),
            "commits_ok": self.manifest.commits("rollup_1m"),
        }


# ---- the retention and compaction passes both drivers share ---------------


def retention_pass(store, policies: dict, now_ts: str) -> dict:
    """Apply each table's ``RetentionPolicy``: the TTL, then the size cap
    (beamium's sink scanner, src/sink.rs:101-222). Both unlink whole hour
    partitions before a cutoff key, decided from a partition listing, so
    the pass starts no Spark job. Returns {table: counters} for the
    tables that have a limit and exist."""
    out: dict = {}
    for table, pol in policies.items():
        if pol == RetentionPolicy() or not store.exists(table):
            continue
        r = out[table] = {}
        if pol.ttl_hours is not None:
            r.update(ttl_evict(store, table, now_ts, pol.ttl_hours))
        if pol.cap_bytes is not None:
            r.update(size_cap_evict(store, table, pol.cap_bytes))
    return out


def compaction_pass(store, tables, max_files_per_chunk: int) -> dict:
    """Per-tick incremental compaction: in each table, the chunks with
    more than ``max_files_per_chunk`` parquet files are rewritten (``<= 0``
    disables). Incremental passes and dirty-chunk replays leave new files
    per touched chunk every tick; a long-lived store's file count is
    otherwise unbounded, and file count — not bytes — is what blows up
    listing/planning at 10^5+ chunks. Returns {table: compact report} for
    the tables that compacted."""
    out: dict = {}
    for table in tables:
        r = store.compact_if_over(table, max_files_per_chunk)
        if r:
            out[table] = r
    return out
