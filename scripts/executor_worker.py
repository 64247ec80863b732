"""One simulated executor: local[8] JVM processing a file shard.

Used by multi_executor_bench.py. Reads the assigned web_pages files,
runs extract → 1m rollup (the partial aggregate an executor computes),
writes the partial tier to its own output dir, and prints the compute
wall time (JVM/session startup excluded — cluster executors are
long-lived).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _barrier(out_dir: str) -> None:
    """Startup/warm-up barrier: when BEAMIUM_BENCH_GO is set, signal
    readiness (``<out>.ready``) and spin until the parent creates the go
    file. Without it, concurrent workers overlap one worker's TIMED
    section with another's JVM startup + warm-up — the measured source of
    the 0.43-0.88 efficiency spread, when worker heaps were still
    pre-touched and 4 of them zero-filled tens of GB exactly while the
    fastest worker was already timing."""
    go = os.environ.get("BEAMIUM_BENCH_GO")
    if not go:
        return
    open(out_dir + ".ready", "w").close()
    while not os.path.exists(go):
        time.sleep(0.05)


def main() -> None:
    out_dir = sys.argv[1]
    cores = int(os.environ.get("EXECUTOR_CORES", "8"))

    from pyspark.sql import functions as F

    from beamium_spark.operators.extract import extract_points
    from beamium_spark.operators.rollup import rollup_tier
    from beamium_spark.session import get_spark

    spark = get_spark(
        app_name=f"executor-{os.path.basename(out_dir)}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    if sys.argv[2] == "--alu":
        # compute-CEILING control: a pure-ALU scalar aggregate over the
        # same id range (xxhash64 + one-scalar reduce, near-zero agg
        # state, no shuffle payload). Its N→4N process scaling is the
        # best this host permits for concurrent JVM compute processes —
        # the ceiling the cascade's compute efficiency is normalized
        # against (mirror of the --scan I/O control).
        lo, hi = int(sys.argv[3]), int(sys.argv[4])

        def alu(lo_=None, hi_=None):
            # bit_xor reduce: overflow-free under ANSI mode, still one
            # scalar of aggregation state per task
            return (
                spark.range(lo_ or lo, hi_ or hi, 1, cores * 8)
                .select(F.xxhash64("id").alias("h"))
                .agg(F.bit_xor("h"))
                .collect()
            )

        alu(lo, lo + min(hi - lo, 100_000_000))  # warm-up: codegen JIT only
        _barrier(out_dir)
        t0 = time.monotonic()
        alu()
        dt = time.monotonic() - t0
        print(json.dumps({"out": out_dir, "compute_sec": round(dt, 3)}))
        spark.stop()
        return
    if sys.argv[2] == "--scan":
        # I/O-roofline control: read the shard's full bytes with a
        # near-zero-compute aggregate — measures the host's (page-cache)
        # scan bandwidth this executor count can sustain, nothing else.
        # A FRESH DataFrame per measurement: re-collecting one memoized
        # plan reuses the partial-agg shuffle files and skips the scan
        # entirely (measured 360 GB/s — i.e. nothing read).
        files = sys.argv[3:]

        def scan_agg():
            return spark.read.parquet(*files).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.octet_length("html")).alias("html_bytes"),
                F.sum(F.length("text")).alias("text_bytes"),
            )

        scan_agg().collect()  # warm-up: page cache + codegen
        _barrier(out_dir)
        t0 = time.monotonic()
        row = scan_agg().collect()[0]
        dt = time.monotonic() - t0
        disk_bytes = sum(os.path.getsize(f) for f in files)
        print(
            json.dumps(
                {
                    "out": out_dir,
                    "files": len(files),
                    "compute_sec": round(dt, 3),
                    "disk_bytes": disk_bytes,
                    "decoded_bytes": int(row["html_bytes"] + row["text_bytes"]),
                }
            )
        )
        spark.stop()
        return
    if sys.argv[2] == "--points":
        # compute-only shard: synthesize an id-range of points in-memory
        # (no I/O) — isolates engine scaling from the box's shared disk/
        # memory-bus bandwidth.
        #
        # Timestamp layout is TIME-CONTIGUOUS per id (ts = base + id//pps):
        # scrape data arrives batch-clustered in time — the job's unit of
        # work is an hour chunk (plans/job.py) and the fixture is written
        # time-sorted — so each task's aggregation state is the few windows
        # its id-range covers (L2-resident), not the full 1.1M-window key
        # space. The old scattered layout ((id*37) mod 3d) forced every
        # task to hold a ~70 MB hash table, measuring the host memory bus
        # instead of the engine; its numbers are retained in
        # BENCH/BASELINE.md as the adversarial bound.
        lo, hi = int(sys.argv[3]), int(sys.argv[4])
        pps = int(sys.argv[5]) if len(sys.argv) > 5 else 3858
        files: list[str] = []
        base = 1735689600
        pts = spark.range(lo, hi, 1, cores * 8).select(
            (F.col("id") % 64).cast("int").alias("bucket"),
            F.concat(F.lit("m"), (F.col("id") % 4).cast("string")).alias("metric"),
            F.timestamp_seconds(
                F.lit(base) + (F.col("id") / F.lit(pps)).cast("long")
            ).alias("ts"),
            (F.col("id") % 1000).cast("double").alias("value"),
        )
        tier = rollup_tier(pts, "1 minute")
    else:
        files = sys.argv[2:]
        pages = spark.read.parquet(*files)
        tier = rollup_tier(extract_points(pages, bucket_mode="site"), "1 minute")
    # warm-up run: codegen JIT + page cache — a cluster executor is
    # long-lived and processes thousands of splits at steady state, so the
    # honest per-executor figure is the second (warm) run
    tier.write.mode("overwrite").parquet(out_dir)

    _barrier(out_dir)
    t0 = time.monotonic()
    tier.write.mode("overwrite").parquet(out_dir)
    dt = time.monotonic() - t0
    print(json.dumps({"out": out_dir, "files": len(files), "compute_sec": round(dt, 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
