"""Per-layer metrics of a traced run, from its spans and its event log.

Every value is per timed operation (the ``op`` spans: a tick, a query
or a scrape pass) and counts only spans inside one, except the scrape
layers (``daemon.*``, ``router.*``), which are per daemon pass.
A layer the workload never calls reads 0. Spark job, task and byte
counters come from the event log, attributed to spans by job group
(``spans.attribute``).
"""

from __future__ import annotations

import statistics

from workloads import QUERY_KIND_NAMES

#: tables whose write time is reported one by one
TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "blocks", "chunk_counts",
          "checkpoint_manifest", "run_meta", "all_metrics", "cpu_only")
N_FAMILIES = 4  # metric families extract_points emits per valid page


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _catchup_rate(wl, res) -> float:
    """Pages per second of a catch-up: the timed ones of ``catchup``, or
    the cold one that builds the store in ``dashboard``'s setup."""
    if wl.name == "catchup":
        return res["items"] / res["busy"] if res["busy"] else 0.0
    if wl.name == "dashboard":
        return wl.oracle.n_pages / wl.build_s
    return 0.0


def per_layer(tracer, by_span, wl, res, probes, session_s, oracle) -> dict:
    spans = tracer.spans
    ops = [s for s in spans if s["name"] == "op"]
    n = max(len(ops), 1)

    # spans inside a timed operation (probes made after the loop are not)
    in_op = [s for s in spans
             if any(spans[a]["name"] == "op" for a in tracer.roots_of(s["id"]))]

    def named(name, scope=in_op):
        return [s for s in scope if s["name"] == name]

    def total_s(name):
        return sum(tracer.dur(s) for s in named(name)) / n

    def calls(pred):
        return sum(1 for s in in_op if pred(s["name"])) / n

    def counter(span_list, key, per=n):
        return sum(by_span.get(s["id"], {}).get(key, 0.0) for s in span_list) / per

    # scrape layers: per daemon pass (the ops of ``scrape``, or the
    # probe pass of the traced ``dashboard`` run)
    passes = named("daemon.run_once", spans)
    n_pass = max(len(passes), 1)

    job_spans = named("job.run") + named("job.retention") + named("job.compact")
    reads = [s for s in named("tables.read")
             if spans[s["parent"]]["name"] != "tables.read"]
    reports = [i["report"] for i in res["infos"] if "scraped" in i.get("report", {})]
    pages = sum(r["scraped"] for r in reports)
    infos = res["infos"]
    out = {
        # plans.job
        "job.discover_s": total_s("job.discover"),
        "job.run_self_s": sum(tracer.self_time(s) for s in named("job.run")) / n,
        "job.spark_jobs": counter(job_spans, "jobs"),
        "job.spark_tasks": counter(job_spans, "tasks"),
        # plans.checkpoint
        "checkpoint.commit_s": total_s("checkpoint.commit"),
        "checkpoint.commit_calls": calls(lambda x: x == "checkpoint.commit"),
        "checkpoint.retries": sum(s.get("attempts", 1) - 1
                                  for s in named("checkpoint.commit_with_retry")) / n,
        "checkpoint.event_s": total_s("checkpoint.event"),
        # sources.tables
        **{f"tables.write_s.{t}": total_s(f"tables.write.{t}") for t in TABLES},
        "tables.write_calls": calls(lambda x: x.startswith("tables.write.")),
        "tables.read_s": sum(tracer.dur(s) for s in reads) / n,
        "tables.read_calls": len(reads) / n,
        "tables.compact_s": total_s("tables.compact"),
        "tables.files_written": sum(f for f, _ in res["files"]) / n,
        "tables.bytes_written": sum(b for _, b in res["files"]) / n,
        # operators.retention
        "retention.s": total_s("job.retention"),
        "retention.rows_evicted": sum(i.get("rows_evicted", 0) for i in infos) / n,
        # operators.extract / rollup / blocks
        "extract.pages_in": pages / n,
        "extract.points_out": sum(r["scraped"] * N_FAMILIES - r["filtered"]
                                  for r in reports) / n,
        "extract.filtered": sum(r["filtered"] for r in reports) / n,
        "rollup.rows_out.1m": sum(r.get("forwarded", 0) for r in reports) / n,
        "rollup.rows_out.1h": sum(r.get("forwarded_1h", 0) for r in reports) / n,
        "rollup.rows_out.1d": sum(r.get("forwarded_1d", 0) for r in reports) / n,
        "blocks.bytes_per_point": (oracle.blocks_bytes_per_point(infos[-1]["state"])
                                   if infos and wl.name != "scrape" else 0.0),
        "scan.bytes_per_page": counter(ops, "input_bytes", 1) / pages if pages else 0.0,
        "op.extract_s": probes.get("op.extract_s", 0.0),
        "op.rollup_1m_s": probes.get("op.rollup_1m_s", 0.0),
        "op.encode_blocks_s": probes.get("op.encode_blocks_s", 0.0),
        # plans.query, operators.gapfill
        "query.build_ms": _median(i["build_ms"] for i in infos if "build_ms" in i),
        "query.collect_ms": _median(i["collect_ms"] for i in infos if "collect_ms" in i),
        "query.spark_jobs": counter(ops, "jobs") if wl.name == "dashboard" else 0.0,
        "query.input_kb": (counter(ops, "input_bytes") / 1024
                           if wl.name == "dashboard" else 0.0),
        **{f"query.p50_ms.{k}": _median(tracer.dur(s) * 1e3 for s in ops
                                        if s.get("kind") == k)
           for k in QUERY_KIND_NAMES},
        # plans.daemon, plans.router, sources.gts, functions.transcompile
        "daemon.discover_s": sum(tracer.dur(s) for s in named("daemon.discover", spans))
        / n_pass,
        "router.route_s": sum(tracer.dur(s) for s in named("router.route", spans)) / n_pass,
        "op.parse_prometheus_s": probes.get("op.parse_prometheus_s", 0.0),
        "daemon.source_scans": counter(passes, "text_scans", n_pass),
        # catch-up and scrape rates (neither is a listed workload): the
        # store-building catch-up in dashboard's setup, and the scrape
        # probe pass of the traced dashboard run
        "catchup.pages_per_s": _catchup_rate(wl, res),
        "scrape.lines_per_s": (res["items"] / res["busy"] if wl.name == "scrape"
                               else probes.get("scrape.lines_per_s", 0.0)),
        # session
        "session.start_s": session_s,
        # Spark engine, per operation (the top-level span)
        "spark.executor_run_s": counter(ops, "executor_run_ms") / 1e3,
        "spark.shuffle_write_mb": counter(ops, "shuffle_write_bytes") / 2**20,
        "spark.spill_mb": counter(ops, "spill_bytes") / 2**20,
        "spark.gc_s": counter(ops, "gc_ms") / 1e3,
        # host: share of CPU time the hypervisor gave other guests during
        # the timed loop, to read the timings above against
        "host.steal_pct": res["steal_pct"],
        "trace.op_p50_ms": _median(tracer.dur(s) * 1e3 for s in ops),
    }
    return out
