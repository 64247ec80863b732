"""The engine as a runnable process — beamium's binary shape on Spark.

The reference is one daemon started from a layered config file
(/root/reference/src/main.rs:47-104: parse args → load config → spawn
scrapers/router/sinks → watch config). This module is that surface for
``spark-submit``:

    spark-submit --py-files beamium_spark.zip -m ... \
        python -m beamium_spark --config engine.yaml \
            --pages /data/web_pages --state /data/state

or locally: ``python -m beamium_spark --config ... --pages ... --state ...``.

Modes:

- default       — run ``RollupJob`` passes until no pending chunks remain
                  (one-shot catch-up), then exit 0. Kill it anywhere;
                  rerunning replays exactly the unforwarded chunks.
- ``--daemon``  — keep polling every ``parameters.scan-period`` like the
                  reference's scrape ticker, with the 2 s-debounced config
                  watcher restarting the job from checkpoint on change
                  (src/main.rs:148-205). ``--max-ticks`` bounds it for
                  tests/batch windows.
- ``--scrape``  — conf-driven ``ScrapeDaemon`` over GTS/Prometheus text
                  directories instead of the web-pages table (the
                  reference's native input; ``--source name=dir`` pairs).
- ``--query``   — the read path from the same binary: one
                  ``plans.query.query()`` call against the state root's
                  tier store (``--metric/--start/--end`` required;
                  step/agg/fill/smooth/rate/stat/session-gap/anomaly
                  knobs pass through). Result goes to ``--out`` as
                  parquet (distributed write), else prints up to
                  ``--limit`` JSON rows.

Retention runs after every pass per sink/tier policy; counters print as
one JSON line per pass (the /metrics exposition analogue).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="beamium_spark")
    p.add_argument("--config", action="append", default=[],
                   help="config file (json/yaml/toml/ini/hjson); repeatable, later wins; "
                        "defaults to the /etc/beamium + ~/.beamium layering")
    p.add_argument("--pages", help="web_pages table path (parquet dir)")
    p.add_argument("--state", required=True, help="state root (tiers + manifest)")
    p.add_argument("--daemon", action="store_true",
                   help="poll forever (scan-period cadence) with config hot-reload")
    p.add_argument("--scrape", action="store_true",
                   help="conf-driven text-scraper daemon instead of the pages job")
    p.add_argument("--source", action="append", default=[],
                   help="(--scrape) scraper input: name=directory; repeatable")
    p.add_argument("--max-ticks", type=int, default=None,
                   help="stop after N daemon ticks (default: run forever)")
    p.add_argument("--max-chunks", type=int, default=None,
                   help="chunks per pass cap (default: all pending)")
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument("--now", default=None,
                   help="retention 'now' ISO timestamp (default: wall clock)")
    q = p.add_argument_group("query mode (--query)")
    q.add_argument("--query", action="store_true",
                   help="read from the state root's tier store and exit")
    q.add_argument("--metric", help="anchored metric regex")
    q.add_argument("--start", help="range start (ISO)")
    q.add_argument("--end", help="range end (ISO, exclusive)")
    q.add_argument("--step", default="1 hour", help="grid step (default: 1 hour)")
    q.add_argument("--agg", default="avg", choices=["avg", "sum", "min", "max", "cnt"])
    q.add_argument("--fill", default=None, choices=["zero", "ffill", "linear"])
    q.add_argument("--smooth", type=int, default=None,
                   help="trailing moving-average width in steps")
    q.add_argument("--rate", default=None, choices=["delta", "counter"],
                   help="per-second derivative of the value")
    q.add_argument("--stat", default=None,
                   help="percentile read from the block store, e.g. p95")
    q.add_argument("--session-gap", default=None,
                   help="session read from the block store, e.g. '5 minutes'")
    q.add_argument("--anomaly", type=int, default=None,
                   help="annotate with rolling z-score alerts (baseline steps)")
    q.add_argument("--bucket", type=int, default=None, help="single-bucket filter")
    q.add_argument("--out", default=None,
                   help="write the result as parquet here instead of printing")
    q.add_argument("--limit", type=int, default=1000,
                   help="max rows printed without --out (default 1000)")
    q.add_argument("--ewma", type=float, default=None,
                   help="annotate with recursive EWMA at this alpha")
    q.add_argument("--decompose", type=int, default=None,
                   help="annotate trend/seasonal/remainder (period in steps)")
    q.add_argument("--alert", type=float, default=None,
                   help="annotate rule state/streak (threshold; see --alert-for)")
    q.add_argument("--alert-op", default=">", choices=[">", ">=", "<", "<="])
    q.add_argument("--alert-for", type=int, default=3,
                   help="consecutive steps before the rule fires (default 3)")
    q.add_argument("--render", default=None, choices=["m4"],
                   help="chart read: M4 extremes per step from the block store")
    c = p.add_argument_group("curate mode (--curate)")
    c.add_argument("--curate", action="store_true",
                   help="one-call corpus curation over --docs")
    c.add_argument("--docs", help="documents table path (parquet)")
    c.add_argument("--out-clean", default=None,
                   help="write kept documents as parquet here")
    c.add_argument("--benchmark", default=None,
                   help="benchmark table (parquet) for decontamination")
    c.add_argument("--min-quality", type=float, default=0.5)
    c.add_argument("--near-dup", type=float, default=None,
                   help="MinHash near-dedup Jaccard threshold (e.g. 0.8)")
    c.add_argument("--sample", type=float, default=None,
                   help="deterministic keep fraction")
    c.add_argument("--scrub", action="store_true",
                   help="PII-scrub kept documents' text")
    c.add_argument("--lm-logprob", type=float, default=None,
                   help="bigram-LM mean log-likelihood floor (drops 'lm_low')")
    c.add_argument("--domain-col", default=None,
                   help="enable the domain-reputation gate on this column")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from beamium_spark.conf import (
        EngineConf,
        default_config_layers,
        load_conf_layered,
        watch_and_rerun,
    )
    from beamium_spark.session import get_spark

    layers = args.config or default_config_layers()
    conf = load_conf_layered(layers) if layers else EngineConf()
    spark = get_spark(app_name="beamium_spark", master=args.master)

    def now_iso() -> str:
        # per-TICK wall clock (unless pinned by --now for tests): a daemon's
        # TTL eviction cutoff must advance with time, like the reference's
        # per-pass `now` (src/sink.rs:101-146) — computing it once at
        # process start would freeze retention and grow sinks unboundedly.
        # UTC, as the chunk keys it is compared with: a local clock would
        # shift every cutoff by the driver's offset
        return args.now or time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())

    if args.query:
        if not (args.metric and args.start and args.end):
            print("--query requires --metric, --start and --end", file=sys.stderr)
            return 2
        from beamium_spark.plans.query import query
        from beamium_spark.sources.tables import ParquetTierStore

        store = ParquetTierStore(spark, args.state)
        try:
            df = query(
                store,
                args.metric,
                args.start,
                args.end,
                step=args.step,
                agg=args.agg,
                fill=args.fill,
                bucket=args.bucket,
                smooth=args.smooth,
                rate={"delta": True, "counter": "counter"}.get(args.rate, False),
                stat=args.stat,
                session_gap=args.session_gap,
                anomaly=args.anomaly,
                ewma=args.ewma,
                render=args.render,
                decompose=args.decompose,
                alert=args.alert,
                alert_op=args.alert_op,
                alert_for=args.alert_for,
            )
        except ValueError as e:  # a parameter the read cannot take
            print(f"--query: {e}", file=sys.stderr)
            return 2
        order = ("session_start" if args.session_gap
                 else "ws" if args.render else "window_start")
        df = df.orderBy("bucket", "metric", order)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                              "out": args.out}), flush=True)
            return 0
        # driver-bounded print: toLocalIterator streams one partition at a
        # time, --limit caps the emitted rows regardless of result size
        n = 0
        for row in df.toLocalIterator():
            if n >= args.limit:
                print(json.dumps({"truncated_at": args.limit}), flush=True)
                break
            print(json.dumps(row.asDict(), default=str), flush=True)
            n += 1
        return 0

    if args.curate:
        if not args.docs:
            print("--curate requires --docs", file=sys.stderr)
            return 2
        from beamium_spark.plans.curate import curate

        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        clean, report = curate(
            docs,
            bench,
            scrub=args.scrub,
            min_quality=args.min_quality,
            near_dup_threshold=args.near_dup,
            sample_fraction=args.sample,
            min_lm_logprob=args.lm_logprob,
            domain_col=args.domain_col,
            materialize=True,
        )
        if args.out_clean:
            clean.write.mode("overwrite").parquet(args.out_clean)
        for row in sorted(report.collect(), key=lambda r: r["outcome"]):
            print(json.dumps(row.asDict()), flush=True)
        if args.out_clean:
            print(json.dumps({"out_clean": args.out_clean}), flush=True)
        return 0

    if args.scrape:
        from beamium_spark.plans.daemon import ScrapeDaemon, ScraperSource

        by_name = {s.name: s for s in conf.scrapers}
        sources = []
        for spec in args.source:
            name, _, path = spec.partition("=")
            if name not in by_name:
                print(f"unknown scraper {name!r} in --source", file=sys.stderr)
                return 2
            sources.append(ScraperSource(by_name[name], path))
        if not sources:
            print("--scrape requires at least one --source name=dir", file=sys.stderr)
            return 2
        daemon = ScrapeDaemon(spark, conf, sources, args.state, now_us=0)
        ticks = 0
        while args.max_ticks is None or ticks < args.max_ticks:
            # the scrape time is taken per pass, as ``now_iso`` is: untimed
            # samples of a file take the clock of the pass that first
            # parses it (the log keeps that stamp for replays)
            daemon.now_us = time.time_ns() // 1000
            report = daemon.run_once()
            report["retention"] = daemon.apply_retention(now_iso())
            report["compaction"] = daemon.compact_if_needed()
            print(json.dumps(report, default=str), flush=True)
            ticks += 1
            if not args.daemon:
                break
            time.sleep(conf.parameters.scan_period_s)
        return 0

    if not args.pages:
        print("--pages is required outside --scrape mode", file=sys.stderr)
        return 2

    from beamium_spark.plans.job import JobConf, RollupJob

    job = RollupJob(spark, args.pages, args.state, JobConf())

    def one_pass() -> dict:
        report = job.run(max_chunks=args.max_chunks)
        report["retention"] = job.apply_retention(now_iso())
        report["compaction"] = job.compact_if_needed()
        print(json.dumps(report, default=str), flush=True)
        return report

    if not args.daemon:
        # catch-up mode: drain all pending work, then exit
        while one_pass()["chunks"] > 0:
            pass
        return 0

    # daemon mode: tick on scan-period; hot-reload restarts from checkpoint
    state = {"job": job, "ticks": 0}

    def on_change(new_conf: EngineConf) -> None:
        state["job"].record_reload()
        state["job"] = RollupJob(spark, args.pages, args.state, JobConf())

    import threading

    if layers:
        t = threading.Thread(
            target=watch_and_rerun, args=(layers[-1], on_change), daemon=True
        )
        t.start()
    while args.max_ticks is None or state["ticks"] < args.max_ticks:
        report = state["job"].run(max_chunks=args.max_chunks)
        report["retention"] = state["job"].apply_retention(now_iso())
        report["compaction"] = state["job"].compact_if_needed()
        print(json.dumps(report, default=str), flush=True)
        state["ticks"] += 1
        time.sleep(conf.parameters.scan_period_s)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
