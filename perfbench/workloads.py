"""The workloads: each drives the engine's public entry points the way
a deployment does, one closed-loop client, one operation at a time.

A workload has three parts:

- ``setup()`` — warm-up pass and state build (timed into ``setup_s``
  together with session start);
- ``op()`` — one timed operation, returning what ``check`` and the
  traced run need; anything it must not time happens in ``prepare()``;
- ``check(info)`` — compares the operation's output with the DuckDB
  reference (``oracle.py``) and returns the problems found.

``items`` in an op's info is the work it completed: pages for the
ingest workloads, queries for ``dashboard``, text lines for ``scrape``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import sys
import time

from beamium_spark.plans.job import JobConf, RetentionPolicy, RollupJob

from inputs import SCRAPE_NOW_US, WEB_HOURS
from oracle import EPOCH, Oracle


def _null_span(name, **attrs):
    return contextlib.nullcontext()


def _iso(us: int) -> str:
    return (EPOCH + dt.timedelta(microseconds=us)).isoformat()


def job_conf() -> JobConf:
    """``site`` bucketing (DuckDB recomputes the identical bucket and the
    30% hot bucket is kept), and TTLs scaled to the fixture's 12-hour
    span, so every tick evicts one hour of the 1m tier and of the blocks."""
    conf = JobConf(bucket_mode="site")
    conf.retention["rollup_1m"] = RetentionPolicy(ttl_hours=3)
    conf.retention["blocks"] = RetentionPolicy(ttl_hours=3)
    return conf


class Workload:
    name = ""

    def __init__(self, spark, inputs, oracle: Oracle, work: str):
        self.spark = spark
        self.inputs = inputs
        self.oracle = oracle
        self.work = work
        self.span = _null_span
        self._n = 0
        # output checks made outside the timed loop: (attempted, failed)
        self.side_checks = (0, 0)

    def record_check(self, what: str, problems: list[str]) -> None:
        """Count a check made outside the timed loop (a store build, a
        probe) as one more attempted, and maybe failed, operation."""
        for p in problems:
            print(f"[{self.name}] CHECK FAILED ({what}): {p}", file=sys.stderr)
        attempted, failed = self.side_checks
        self.side_checks = (attempted + 1, failed + int(bool(problems)))

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self):
        return None

    def op(self, prep) -> dict:
        raise NotImplementedError

    def check(self, info: dict) -> list[str]:
        raise NotImplementedError

    def at_boundary(self) -> bool:
        """Whether a run may end after the op just made (a run holds
        whole rounds of a workload's mix)."""
        return True

    def store_dir(self, prep) -> str | None:
        """Store root the op about to run with ``prep`` works on."""
        return getattr(self, "state", None)

    def items_in_store(self, info: dict) -> int:
        """Input items the store holds after the op (the denominator of
        ``store_bytes_per_item``)."""
        return info["items"]

    def probe_pages(self):
        """The pages DataFrame the traced run forces each ingest operator
        over, or None for workloads that ingest no pages."""
        return None

    def aliases(self, e2e: dict) -> dict:
        """The end-to-end metrics under their workload-specific names."""
        return {}


class Incremental(Workload):
    """Ticks over a state pre-filled with the first ``PREFILL`` chunks:
    ``run(max_chunks=1)`` + ``apply_retention(now)`` +
    ``compact_if_needed()``, ``now`` pinned to the end of the ticked chunk
    (the ``--now`` form of the CLI daemon loop). Every tick starts from a
    fresh copy of the pre-filled state, so every tick does the same work."""

    name = "incremental"
    PREFILL = 4

    def setup(self) -> None:
        self.hour = self.oracle.chunk_hours()[self.PREFILL]
        self.base = self.fresh_dir("base")
        job = RollupJob(self.spark, self.inputs.web_pages, self.base, job_conf())
        # the pre-fill run, retention and compaction double as the warm-up
        # of every code path a tick takes
        job.run(max_chunks=self.PREFILL)
        job.apply_retention(_iso(self.hour))
        job.compact_if_needed()

    def prepare(self):
        self.state = self.fresh_dir("state")
        shutil.copytree(self.base, self.state)
        self.job = RollupJob(self.spark, self.inputs.web_pages, self.state, job_conf())
        return self.hour

    def op(self, hour) -> dict:
        report = self.job.run(max_chunks=1)
        retention = self.job.apply_retention(_iso(hour + 3_600_000_000))
        self.job.compact_if_needed()
        evicted = sum(r.get("expired_rows", 0) for r in retention.values())
        return {"state": self.state, "hour": hour, "report": report,
                "items": report["scraped"], "rows_evicted": evicted}

    def items_in_store(self, info: dict) -> int:
        return self.oracle.pages_in(self.oracle.chunk_hours()[0],
                                    info["hour"] + 3_600_000_000)

    def probe_pages(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.inputs.web_pages).filter(
            (F.col("warc_ts") >= F.lit(_iso(self.hour)).cast("timestamp"))
            & (F.col("warc_ts") < F.lit(_iso(self.hour + 3_600_000_000)).cast("timestamp")))

    def aliases(self, e2e: dict) -> dict:
        return {"tick_p50_s": e2e["op_p50_ms"] / 1e3}

    def check(self, info: dict) -> list[str]:
        problems = self.oracle.check_hour_1m(info["state"], info["hour"])
        want = self.oracle.pages_in(info["hour"], info["hour"] + 3_600_000_000)
        if info["report"]["scraped"] != want:
            problems.append(f"tick scraped {info['report']['scraped']} != {want}")
        return problems


#: dashboard query kinds: (label, kind, query() arguments, step seconds,
#: range length in steps (min, max), metric choices). The kinds cover
#: the read features of ``query()``, one query each per round: no public
#: study of dashboard query mixes was found to weight them by, so equal
#: weight is an assumption, as are the range lengths (one to a few hours
#: of data, one or two days for the 1d tier).
_QUERY_KINDS = [
    ("1m", "tier", {"step": "1 minute", "agg": "sum"}, 60, (60, 180),
     ["doc_count", "byte_size", "text_chars"]),
    ("10m", "tier", {"step": "10 minutes", "agg": "max"}, 600, (12, 36),
     ["byte_size", "text_chars"]),
    ("1h", "tier", {"step": "1 hour", "agg": "avg"}, 3600, (4, 12),
     ["byte_size", "text_chars"]),
    ("1d", "tier", {"step": "1 day", "agg": "sum"}, 86400, (1, 2),
     ["doc_count", "lang_rate:.*"]),
    ("bucket", "tier", {"step": "1 hour", "agg": "avg"}, 3600, (6, 12),
     ["byte_size"]),
    # agg='avg' with fill='zero' raises DIVIDE_BY_ZERO (see README.md)
    ("fill", "fill", {"step": "1 hour", "agg": "sum", "fill": "zero"}, 3600,
     (6, 12), ["doc_count", "lang_rate:de"]),
    ("rate", "rate", {"step": "1 hour", "agg": "sum", "rate": True}, 3600,
     (6, 12), ["doc_count", "byte_size"]),
    ("p95", "stat", {"step": "1 hour", "stat": "p95"}, 3600, (2, 4),
     ["byte_size", "text_chars"]),
    ("m4", "m4", {"step": "15 minutes", "render": "m4"}, 900, (4, 12),
     ["byte_size"]),
]
QUERY_KIND_NAMES = ("tier", "fill", "rate", "stat", "m4")


class Dashboard(Workload):
    """A seeded mix of ``query()`` calls over a read-only store built by
    one catch-up in setup. Each round issues every query of the mix once,
    in a seeded order with seeded metric, bucket and step-aligned range,
    and a run holds whole rounds, so every run has the same mix."""

    name = "dashboard"

    def setup(self) -> None:
        from beamium_spark.sources.tables import ParquetTierStore

        self.state = self.fresh_dir("store")
        t = time.perf_counter()
        RollupJob(self.spark, self.inputs.web_pages, self.state, job_conf()).run()
        self.build_s = time.perf_counter() - t
        self.record_check("store build", self.oracle.check_catchup(self.state))
        self.store = ParquetTierStore(self.spark, self.state)
        # ranges fall inside the fixture's contiguous span (its one
        # day-boundary edge page sits alone, 12 hours later)
        self.lo_us = self.oracle.chunk_hours()[0]
        self.hi_us = self.lo_us + WEB_HOURS * 3_600_000_000
        self.rng = random.Random(self.inputs.seed)
        self.buckets = [r[0] for r in self.oracle.db.execute(
            "SELECT DISTINCT bucket FROM pages ORDER BY 1").fetchall()]
        self.queue: list[dict] = []
        # warm-up: one query of each kind
        for kind in QUERY_KIND_NAMES:
            self.op(self._draw(next(s for s in _QUERY_KINDS if s[1] == kind)))

    def _draw(self, spec) -> dict:
        label, kind, args, step_s, (n_min, n_max), metrics = spec
        step = step_s * 1_000_000
        n = self.rng.randint(n_min, n_max)
        first = -(-self.lo_us // step)
        last = max(first, self.hi_us // step - n)
        start = self.rng.randint(first, last) * step
        q = {"label": label, "kind": kind, "step_s": step_s, "start_us": start,
             "end_us": start + n * step, "metric": self.rng.choice(metrics),
             **args}
        if label == "bucket":
            q["bucket"] = self.rng.choice(self.buckets)
        return q

    def prepare(self):
        if not self.queue:
            order = list(_QUERY_KINDS)
            self.rng.shuffle(order)
            self.queue = [self._draw(spec) for spec in order]
        return self.queue.pop(0)

    def op(self, q) -> dict:
        from beamium_spark.plans import query as query_mod

        kwargs = {k: q[k] for k in ("metric", "step", "agg", "fill", "rate",
                                    "stat", "render", "bucket") if k in q}
        t0 = time.perf_counter()
        with self.span("query.build"):
            df = query_mod.query(self.store, start=_iso(q["start_us"]),
                                 end=_iso(q["end_us"]), **kwargs)
        t1 = time.perf_counter()
        with self.span("query.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        return {"query": q, "rows": rows, "items": 1, "state": self.state,
                "build_ms": (t1 - t0) * 1e3, "collect_ms": (t2 - t1) * 1e3}

    def check(self, info: dict) -> list[str]:
        return self.oracle.check_query(self.state, info["query"], info["rows"])

    def items_in_store(self, info: dict) -> int:
        return self.oracle.n_pages

    def at_boundary(self) -> bool:
        return not self.queue

    def aliases(self, e2e: dict) -> dict:
        return {"query_p50_ms": e2e["op_p50_ms"], "query_tail_ms": e2e["op_tail_ms"],
                "store_bytes_per_page": e2e["store_bytes_per_item"]}


class Catchup(Workload):
    """``RollupJob(JobConf(bucket_mode="site")).run()`` from empty state
    over the whole fixture, after one checked warm-up catch-up. Not a
    workload of BENCHMARK.json (README.md says why); run it by hand, or
    through ``--workload all``, which also runs it at local[1] for
    ``scale.speedup``."""

    name = "catchup"

    def setup(self) -> None:
        state = self.prepare()
        RollupJob(self.spark, self.inputs.web_pages, state, job_conf()).run()
        self.record_check("warm-up catch-up", self.oracle.check_catchup(state))

    def prepare(self):
        return self.fresh_dir("state")

    def store_dir(self, prep) -> str:
        return prep

    def op(self, state) -> dict:
        report = RollupJob(self.spark, self.inputs.web_pages, state, job_conf()).run()
        return {"state": state, "report": report, "items": report["scraped"]}

    def check(self, info: dict) -> list[str]:
        return self.oracle.check_catchup(info["state"])

    def probe_pages(self):
        return self.spark.read.parquet(self.inputs.web_pages)

    def aliases(self, e2e: dict) -> dict:
        return {"catchup_pages_per_s": e2e["items_per_s"]}


class Scrape(Workload):
    """``ScrapeDaemon.run_once()`` from fresh state over the generated
    text corpus: a Prometheus scraper and a sensision scraper routed into
    an all-metrics sink and a ``cpu_``-selector sink."""

    name = "scrape"
    now_us = SCRAPE_NOW_US

    def setup(self) -> None:
        from beamium_spark.conf import load_conf
        from beamium_spark.plans.daemon import ScrapeDaemon, ScraperSource

        self.conf = load_conf({
            "scrapers": {"web": {"format": "prometheus", "labels": {"dc": "gra"}},
                         "node": {"format": "sensision"}},
            "sinks": {"all_metrics": {"table": "all_metrics"},
                      "cpu_only": {"table": "cpu_only", "selector": "cpu_"}},
            "labels": {"env": "bench"},
        })
        self.sources = [ScraperSource(self.conf.scrapers[0], self.inputs.prom_dir),
                        ScraperSource(self.conf.scrapers[1], self.inputs.gts_dir)]
        # warm-up: one pass over a small corpus of the same shape
        warm = [ScraperSource(self.conf.scrapers[0], self.inputs.warm_prom_dir),
                ScraperSource(self.conf.scrapers[1], self.inputs.warm_gts_dir)]
        ScrapeDaemon(self.spark, self.conf, warm, self.prepare(), self.now_us).run_once()

    def prepare(self):
        return self.fresh_dir("state")

    def store_dir(self, prep) -> str:
        return prep

    def op(self, state) -> dict:
        from beamium_spark.plans.daemon import ScrapeDaemon

        daemon = ScrapeDaemon(self.spark, self.conf, self.sources, state, self.now_us)
        report = daemon.run_once()
        return {"state": state, "report": report,
                "items": self.inputs.meta["scrape_lines"]}

    def check(self, info: dict) -> list[str]:
        got = info["report"]["forwarded"]
        want = {"all_metrics": self.inputs.meta["scrape_points_all"],
                "cpu_only": self.inputs.meta["scrape_points_cpu"]}
        return [] if got == want else [f"forwarded {got} != generated {want}"]

    def aliases(self, e2e: dict) -> dict:
        return {"scrape_lines_per_s": e2e["items_per_s"]}


WORKLOADS = {w.name: w for w in (Incremental, Dashboard, Catchup, Scrape)}
