"""Conf-driven scrape→route→retain daemon: the whole beamium process shape.

A user of the reference runs one binary from one config file
(/root/reference/src/main.rs:47-104): scrapers poll endpoints, the router
fans lines out to selector-filtered sinks, sinks forward with TTL/size
eviction, and a config change restarts everything from on-disk state.
``ScrapeDaemon`` is that surface on Spark:

- each ``ScraperConf`` maps to a text-source directory in the scraper's
  dialect — ``prometheus`` exposition text (transcompiled, P1) or
  ``sensision`` GTS lines (passthrough parse, P2) — with the scraper's
  metric whitelist (F3, src/scraper.rs:204-208) and per-scraper labels
  (src/conf.rs:260-264) applied on read;
- work discovery is the job's (``checkpoint.discover``): each source
  file is identified by (path, length, mtime) and parsed once, by the
  first pass that lists it, in its scraper's dialect; the hours it holds
  go to the log with that pass's scrape time. Pending are the hours not
  committed for EVERY sink, plus committed hours whose set of source
  files changed (late, replaced or removed files), as beamium re-forwards
  any new file in a scanned directory (src/router.rs:56-77);
- the router pass writes the pending hours from the pass's cached parse
  of its new files plus a re-read of the earlier files that hold a
  pending hour, applies global labels and writes one selector-filtered
  copy per sink (R1/F4, plans/router.py), then lands one fence segment
  in the checkpoint log (every sink's commit record, the hours' file-set
  baseline and ``run_complete``) — beamium's delete-after-all-writes. A
  crash mid-route replays the hours into all sinks idempotently (dynamic
  partition overwrite);
- per-sink retention maps the sink's ``ttl``/``size`` to a
  ``RetentionPolicy`` and runs the job's own retention pass (K4/K5,
  src/sink.rs:101-222); ``size`` is parquet bytes on disk;
- ``conf.watch_and_rerun`` + ``record_reload`` give the 2s-debounced hot
  reload (src/main.rs:148-205): state lives in the store, so a restarted
  daemon resumes exactly where the old one stopped.

Scale notes: a pass parses its new files once, in discovery's one Spark
job, which fills the cache every sink write reads; a pass with no new
file and nothing to replay starts no Spark job. The scrape "tick"
(src/scraper.rs:90) is the caller's loop cadence — each ``run_once`` is
one micro-batch, and ``now_us`` (settable between passes) is its scrape
time.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beamium_spark.conf import EngineConf, ScraperConf
from beamium_spark.plans.checkpoint import (
    Manifest,
    baseline_record,
    discover,
    event_record,
    new_run_id,
    utc_lit,
)
from beamium_spark.plans.job import RetentionPolicy, compaction_pass, retention_pass
from beamium_spark.plans.router import route_multicast
from beamium_spark.sources.tables import ParquetTierStore


@dataclass
class ScraperSource:
    conf: ScraperConf
    path: str  # directory of text files in the scraper's dialect


class ScrapeDaemon:
    def __init__(
        self,
        spark: SparkSession,
        conf: EngineConf,
        sources: list[ScraperSource],
        state_root: str,
        now_us: int,
    ):
        self.spark = spark
        self.conf = conf
        self.sources = sources
        self.now_us = now_us  # the pass's scrape time (P5)
        self.store = ParquetTierStore(spark, state_root)
        self.manifest = Manifest(self.store)
        # a file id leads with its source's ``name=dir/``: two sources
        # holding files of the same name keep distinct ids
        self._sources = {f"{s.conf.name}={s.path.rstrip('/')}/": s for s in sources}
        self._discovery = None

    # ---- scrape (S1/S4 + P1/P2 + F1-F3 + per-scraper P3) ------------------

    def scrape_points(self, prefix: str, paths: list[str], now_us: int) -> DataFrame:
        """The text files ``paths`` of the source ``prefix`` names, parsed in
        its dialect → (file, ts, metric, labels, value), with the
        scraper's whitelist and labels applied. Untimed Prometheus samples
        take ``now_us``; sensision sources read only ``*.metrics`` files."""
        from beamium_spark.functions.labels import add_labels, remove_labels
        from beamium_spark.sources.gts import scan_gts, scan_prometheus

        sc = self._sources[prefix].conf
        if sc.format == "sensision":
            pts = scan_gts(self.spark, paths, continuation=True, metrics_only=True)
        else:
            pts = scan_prometheus(self.spark, paths, now_us)
        if sc.metrics:
            pts = pts.filter(F.col("metric").rlike("|".join(sc.metrics)))
        if sc.labels:
            pts = pts.withColumn("labels", add_labels(F.col("labels"), sc.labels))
        if sc.drop_label_keys:  # scraper filtered_labels (scraper.rs:212)
            pts = pts.withColumn(
                "labels", remove_labels(F.col("labels"), sc.drop_label_keys)
            )
        return pts.select("file", "ts", "metric", "labels", "value")

    # ---- discovery (R2): the job's, over the text sources -----------------

    def pending_chunks(self) -> list:
        """Hours not committed for ALL sinks (beamium only deletes the
        source file after every sink write, src/router.rs:86-104), plus
        committed hours whose set of source files changed. Parses the
        files no pass has seen, once, into a cache the route pass reads;
        the log records the hours each holds and this pass's ``now_us``."""
        self._drop_parse()
        self._discovery = discover(
            self.manifest,
            {prefix: src.path for prefix, src in self._sources.items()},
            lambda prefix, paths: self.scrape_points(prefix, paths, self.now_us).cache(),
            [s.table for s in self.conf.sinks],
            stamp=self.now_us,
        )
        return self._discovery.pending

    def _drop_parse(self) -> None:
        """Release the cached parse of the last discovery."""
        for df in self._discovery.scanned if self._discovery else []:
            df.unpersist()

    def _record_chunk_counts(self, pending: list) -> dict:
        """The fence's baseline: the file-set digest of each pending hour.
        The name dates from the point-count baseline this replaced; the
        benchmark's tracer still wraps it by that name."""
        return baseline_record({c: self._discovery.fingerprints[c] for c in pending})

    def _pending_points(self, pending: list) -> DataFrame:
        """The points of the ``pending`` hours: this pass's cached parse of
        its new files, plus a re-read of the earlier files that hold a
        pending hour, each with the scrape time of its first parse."""
        d = self._discovery
        stamps = self.manifest.file_stamps()
        earlier = defaultdict(list)
        for fid in sorted({f for c in pending for f in d.touching[c]} - set(d.new)):
            prefix, path = d.files[fid]
            earlier[prefix, stamps[fid]].append(
                f"{self._sources[prefix].path.rstrip('/')}/{path}"
            )
        parts = d.scanned + [
            self.scrape_points(prefix, paths, stamp)
            for (prefix, stamp), paths in earlier.items()
        ]
        return (
            reduce(DataFrame.unionByName, parts)
            .filter(F.date_trunc("hour", "ts").isin([utc_lit(c) for c in pending]))
            .drop("file")
        )

    # ---- one tick ----------------------------------------------------------

    def run_once(self) -> dict:
        run_id = new_run_id()
        pending = self.pending_chunks()
        report: dict = {"run_id": run_id, "chunks": len(pending)}
        try:
            if not pending:
                report["forwarded"] = {}
                return report
            self.manifest.record_event(run_id, "run_start", f"chunks={len(pending)}")
            report["forwarded"] = route_multicast(
                self._pending_points(pending), self.conf, self.store, self.manifest,
                run_id, pending,
                fence=[self._record_chunk_counts(pending), event_record("run_complete")],
            )
            return report
        finally:
            self._drop_parse()

    # ---- retention (K4/K5 per sink conf) -----------------------------------

    def apply_retention(self, now_ts: str) -> dict:
        # a 0 ttl or size turns that limit off; fractional hours pass
        # through untruncated (a 30m ttl evicts at now-30m)
        policies = {
            sink.table: RetentionPolicy(
                ttl_hours=sink.ttl_hours or None, cap_bytes=sink.size_bytes or None
            )
            for sink in self.conf.sinks
        }
        return retention_pass(self.store, policies, now_ts)

    def compact_if_needed(self) -> dict:
        """Compaction over every sink table, with the threshold from
        ``parameters.max_files_per_chunk``."""
        return compaction_pass(
            self.store,
            [sink.table for sink in self.conf.sinks],
            self.conf.parameters.max_files_per_chunk,
        )

    def record_reload(self) -> None:
        self.manifest.record_event(new_run_id(), "reload")
