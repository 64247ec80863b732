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
- the router pass applies global labels and writes one selector-filtered
  copy per sink (R1/F4, plans/router.py), then lands one fence segment
  in the checkpoint log (every sink's commit record, the per-chunk
  point-count baseline and ``run_complete``) — beamium's
  delete-after-all-writes;
- work discovery: source hour-chunks not committed for EVERY sink, plus
  committed chunks whose point count drifted from the baseline (a crash
  mid-route replays the chunk into all sinks idempotently — dynamic
  partition overwrite);
- per-sink retention maps the sink's ``ttl``/``size`` to a
  ``RetentionPolicy`` and runs the job's own retention pass (K4/K5,
  src/sink.rs:101-222); ``size`` is parquet bytes on disk;
- ``conf.watch_and_rerun`` + ``record_reload`` give the 2s-debounced hot
  reload (src/main.rs:148-205): state lives in the store, so a restarted
  daemon resumes exactly where the old one stopped.

Scale notes: everything dataflow-heavy is one cached points DataFrame per
pass; discovery is one count per chunk, compared with the log on the
driver. The scrape "tick" (src/scraper.rs:90) is the caller's loop
cadence — each ``run_once`` is one micro-batch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beamium_spark.conf import EngineConf, ScraperConf
from beamium_spark.plans.checkpoint import (
    Manifest,
    baseline_record,
    event_record,
    new_run_id,
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
        self.now_us = now_us  # batch-constant scrape time (P5)
        self.store = ParquetTierStore(spark, state_root)
        self.manifest = Manifest(self.store)

    # ---- scrape (S1/S4 + P1/P2 + F1-F3 + per-scraper P3) ------------------

    def scrape_points(self) -> DataFrame:
        from beamium_spark.functions.labels import add_labels, remove_labels
        from beamium_spark.sources.gts import read_gts, read_prometheus

        parts = []
        for src in self.sources:
            sc = src.conf
            whitelist = "|".join(sc.metrics) if sc.metrics else None
            if sc.format == "sensision":
                pts = read_gts(
                    self.spark, src.path, metric_whitelist=whitelist,
                    continuation=True, metrics_only=True,
                )
            else:
                pts = read_prometheus(
                    self.spark, src.path, now_us=self.now_us,
                    metric_whitelist=whitelist,
                )
            if sc.labels:
                pts = pts.withColumn("labels", add_labels(F.col("labels"), sc.labels))
            if sc.drop_label_keys:  # scraper filtered_labels (scraper.rs:212)
                pts = pts.withColumn(
                    "labels", remove_labels(F.col("labels"), sc.drop_label_keys)
                )
            parts.append(pts.select("ts", "metric", "labels", "value"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---- discovery (R2): chunks not yet committed for every sink ----------

    def pending_chunks(self, points: DataFrame) -> list:
        """Chunks not committed for ALL sinks (beamium only deletes the
        source file after every sink write, src/router.rs:86-104), plus
        late lines in an already-routed hour: a committed chunk replays
        when its point count drifts from the fence-time baseline (beamium
        re-forwards any new file regardless of its timestamps)."""
        rows = (
            points.groupBy(F.date_trunc("hour", "ts").alias("chunk_start"))
            .agg(F.count("*").alias("n_points"))
            .collect()
        )
        self._counts = {
            r["chunk_start"]: r["n_points"] for r in rows if r["chunk_start"] is not None
        }
        return self.manifest.pending(self._counts, [s.table for s in self.conf.sinks])

    def _record_chunk_counts(self, pending: list) -> dict:
        """The late-data baseline for the fence: the point counts this
        pass's discovery saw for ``pending``."""
        return baseline_record({c: self._counts[c] for c in pending})

    # ---- one tick ----------------------------------------------------------

    def run_once(self) -> dict:
        run_id = new_run_id()
        points = self.scrape_points()
        pending = self.pending_chunks(points)
        report: dict = {"run_id": run_id, "chunks": len(pending)}
        if not pending:
            report["forwarded"] = {}
            return report
        self.manifest.record_event(run_id, "run_start", f"chunks={len(pending)}")
        batch = points.filter(F.date_trunc("hour", "ts").isin(pending))
        report["forwarded"] = route_multicast(
            batch, self.conf, self.store, self.manifest, run_id, pending,
            fence=[self._record_chunk_counts(pending), event_record("run_complete")],
        )
        return report

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
