"""Traced-run instrumentation, kept entirely in the benchmark's own files.

``Tracer.install()`` wraps the engine's public functions at runtime.
Each wrapper records a span (name, start, end, parent) and sets the
Spark job group of the calling thread to ``<span name>#<span id>`` for
the span's duration, restoring the parent's group on exit. With the
event log on (``event_log_conf``), every Spark job, stage and task can
then be attributed to the innermost span that submitted it, and from
there to every enclosing span.

``uninstall()`` restores the original functions. The untraced runs never
install anything.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._patches: list[tuple] = []

    # ---- spans -----------------------------------------------------------

    def _group(self, sid: int | None) -> str | None:
        return None if sid is None else f"{self.spans[sid]['name']}#{sid}"

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> dict:
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(GROUP_PROP, self._group(sid))
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self.stack.pop()
        self.sc.setLocalProperty(GROUP_PROP, self._group(self.stack[-1] if self.stack else None))

    # ---- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``name`` is
        a span name, or a function of the call's arguments returning one."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            with tracer.span(n):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_commit_with_retry(self, module) -> None:
        """``commit_with_retry(fn, ...)``: a span that also counts attempts."""
        orig = module.commit_with_retry
        tracer = self

        @functools.wraps(orig)
        def wrapper(fn, *args, **kwargs):
            attempts = [0]

            def counted():
                attempts[0] += 1
                return fn()

            with tracer.span("checkpoint.commit_with_retry") as rec:
                try:
                    return orig(counted, *args, **kwargs)
                finally:
                    rec["attempts"] = attempts[0]

        module.commit_with_retry = wrapper
        self._patches.append((module, "commit_with_retry", orig))

    def install(self) -> None:
        from beamium_spark.plans import checkpoint, daemon, job, router
        from beamium_spark.sources import tables

        J, D, S = job.RollupJob, daemon.ScrapeDaemon, tables.ParquetTierStore
        for owner, attr, name in [
            (J, "run", "job.run"),
            (J, "pending_chunks", "job.discover"),
            (J, "apply_retention", "job.retention"),
            (J, "compact_if_needed", "job.compact"),
            (checkpoint.Manifest, "commit", "checkpoint.commit"),
            (checkpoint.Manifest, "record_event", "checkpoint.event"),
            (S, "read", "tables.read"),
            (S, "exists", "tables.read"),
            (S, "compact_if_over", "tables.compact"),
            (S, "delete_where", "tables.delete"),
            (S, "drop_partitions_older_than", "tables.drop"),
            (S, "write_chunks", lambda self, df, table, *a, **k: f"tables.write.{table}"),
            (S, "append", lambda self, df, table, *a, **k: f"tables.write.{table}"),
            (S, "overwrite_partition",
             lambda self, df, table, *a, **k: f"tables.write.{table}"),
            (job, "ttl_evict", "retention.ttl"),
            (job, "size_cap_evict", "retention.cap"),
            (D, "run_once", "daemon.run_once"),
            (D, "scrape_points", "daemon.scrape"),
            (D, "pending_chunks", "daemon.discover"),
            (D, "_record_chunk_counts", "daemon.chunk_counts"),
            (daemon, "route_multicast", "router.route"),
        ]:
            self.wrap(owner, attr, name)
        for module in (checkpoint, job, router):
            self.wrap_commit_with_retry(module)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        self.sc.setLocalProperty(GROUP_PROP, None)

    # ---- span arithmetic ---------------------------------------------------

    def dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct children (children of
        one thread never overlap, so the union is their sum)."""
        kids = sum(self.dur(s) for s in self.spans if s["parent"] == rec["id"])
        return self.dur(rec) - kids

    def roots_of(self, sid: int) -> list[int]:
        """The span and all its ancestors."""
        out = []
        while sid is not None:
            out.append(sid)
            sid = self.spans[sid]["parent"]
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        self.rec = self.tracer._open(self.name, self.attrs)
        return self.rec

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.rec)


# ---- event log -------------------------------------------------------------

#: per-stage counters summed from task-end events
_TASK_FIELDS = {
    "executor_run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
}


def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d or 0


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order; Spark 4 rolls them into
    ``eventlog_v2_<app>/events_<n>_<app>``."""
    found = []
    for d, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus") or f.startswith("."):
                continue
            n = int(f.split("_")[1]) if f.startswith("events_") else 0
            found.append((d, n, os.path.join(d, f)))
    return [p for *_, p in sorted(found)]


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Job group → totals over its jobs: jobs, stages, tasks, the task
    counters above, and ``text_scans`` (completed stages whose RDD chain
    contains a text-file scan)."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    text_stages: set[int] = set()
    completed: set[int] = set()
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get(GROUP_PROP)
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    completed.add(info["Stage ID"])
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope and "Scan text" in json.loads(scope).get("name", ""):
                            text_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tot = stage_tot[ev["Stage ID"]]
                    tot["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for key, path in _TASK_FIELDS.items():
                        tot[key] += _dig(m, path)
    groups: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
    for jid, g in job_group.items():
        groups[g]["jobs"] += 1
    for sid in completed:
        g = groups[job_group.get(stage_job.get(sid))]
        g["stages"] += 1
        g["text_scans"] += sid in text_stages
        for key, v in stage_tot[sid].items():
            g[key] += v
    return groups


def attribute(tracer: Tracer, groups: dict) -> dict[int, dict]:
    """Span id → totals over every job submitted inside that span's
    subtree (the span itself or any descendant)."""
    by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for g, tot in groups.items():
        if not g or "#" not in g:
            continue
        sid = int(g.rsplit("#", 1)[1])
        for anc in tracer.roots_of(sid):
            for k, v in tot.items():
                by_span[anc][k] += v
    return by_span
