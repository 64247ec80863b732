"""N-vs-4N **multi-executor** scaling evidence.

A Spark cluster runs executors as separate JVM processes; local-mode
threads share one heap/allocator and (measured here) cap JVM scaling at
~2.7x even for pure ALU work, while independent processes on this same
box sustain ~0.9 efficiency at 32-way. So the faithful sandbox analogue
of "N → 4N executors" is N → 4N *processes*:

- level N : 1 executor  (local[8] JVM) over all input files
- level 4N: 4 executors (local[8] JVMs) over disjoint file shards,
            launched concurrently — exactly how a cluster scheduler
            assigns splits

Each executor computes the map-side partial (extract → 1m tier) on its
shard and writes a partial tier; the driver then merges partials with
the decomposable-tuple algebra (sum/sum/min/max) — the same exchange a
real cluster performs, sized by key cardinality, not data. Level time =
max(executor compute) + merge. JVM startup excluded at both levels
(cluster executors are long-lived).

Measurement discipline (round-3/4 findings — the 0.43-0.88 spread was
harness artifacts, not the engine):

- **6 GiB worker heap ceilings** (`-Xmx`; was 10g): the session factory
  neither reserves nor pre-touches the heap, so each worker commits only
  what its shard scan uses and 4 workers fit the box side by side.
- **warm-up barrier**: every worker signals ready after its warm-up run
  and waits for a go-file, so no worker's timed section overlaps another
  worker's JVM startup / warm-up. Without it the fastest worker times its
  run while stragglers are still starting.
- **min statistic over ≥3 reps** (BEAMIUM_BENCH_STAT=median to switch):
  for a capability/ceiling measurement the minimum is the unbiased
  estimate — every source of noise on a busy microVM inflates, never
  deflates, a wall time. The full per-rep sample spread is reported.
- **ALU ceiling control**: a pure-ALU scalar aggregate (xxhash64 + one
  scalar reduce, near-zero aggregation state) over the same id range at
  both levels measures the best N→4N process scaling this host permits
  for ANY concurrent JVM compute — the bus/scheduler ceiling the
  cascade's compute efficiency is normalized against (the compute-side
  mirror of scripts/roofline_control.py's scan control).

Writes BENCH/SCALING_EXECUTORS.md + merges into BENCH/scaling.json.
Run three consecutive times (scripts/scaling_repro.sh) for the
reproducibility evidence the north_rule claim carries.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "scripts", "executor_worker.py")

WORKER_HEAP = os.environ.get("BEAMIUM_BENCH_WORKER_MEM", "6g")


def run_executors(shards: list[list[str]], tag: str) -> tuple[float, list[str]]:
    """Launch one worker per shard concurrently; barrier-sync their timed
    sections (see module docstring); return (max compute sec, partial
    output dirs). A shard is a list of parquet files or a
    ["--points"|"--alu", lo, hi] compute-only range."""
    procs = []
    outs = []
    go_file = os.path.join(tempfile.gettempdir(), f"exec_bench_go_{tag}")
    if os.path.exists(go_file):
        os.remove(go_file)
    env = dict(
        os.environ,
        EXECUTOR_CORES="8",
        BEAMIUM_SPARK_DRIVER_MEM=WORKER_HEAP,
        BEAMIUM_BENCH_GO=go_file,
    )
    for i, shard in enumerate(shards):
        out = os.path.join(tempfile.gettempdir(), f"exec_bench_{tag}_{i}")
        outs.append(out)
        if os.path.exists(out + ".ready"):
            os.remove(out + ".ready")
        procs.append(
            subprocess.Popen(
                [sys.executable, WORKER, out, *shard],
                env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
        )
    # barrier: release the timed sections only after EVERY worker finished
    # its JVM startup + warm-up (ready files present)
    deadline = time.monotonic() + 600
    while any(not os.path.exists(o + ".ready") for o in outs):
        if time.monotonic() > deadline:
            for p in procs:
                p.kill()
            raise RuntimeError("worker warm-up barrier timed out")
        if any(p.poll() is not None and p.returncode != 0 for p in procs):
            raise RuntimeError("worker died before barrier")
        time.sleep(0.1)
    open(go_file, "w").close()
    computes = []
    for p in procs:
        out_text, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"worker failed rc={p.returncode}")
        line = [l for l in out_text.splitlines() if l.startswith("{")][-1]
        computes.append(json.loads(line)["compute_sec"])
    os.remove(go_file)
    return max(computes), outs


def merge_time(partial_dirs: list[str], reps: int = 3) -> float:
    """Median of ``reps`` merge passes — a single-sample merge was the
    noisiest number in the level total (measured 1.2 s vs 4.8 s for the
    same merge across identical runs)."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from beamium_spark.session import get_spark

    spark = get_spark(app_name="merge", master="local[8]", shuffle_partitions=8)
    samples = []
    n = 0
    for _ in range(reps):
        t0 = time.monotonic()
        df = spark.read.parquet(*partial_dirs)
        merged = df.groupBy("bucket", "metric", "window_start").agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        n = merged.count()
        samples.append(time.monotonic() - t0)
    spark.stop()
    samples.sort()
    return samples[len(samples) // 2], n


def _stat(samples: list[float]) -> float:
    samples = sorted(samples)
    if os.environ.get("BEAMIUM_BENCH_STAT", "min") == "median":
        return samples[len(samples) // 2]
    return samples[0]


def _spread(samples: list[float]) -> str:
    s = sorted(samples)
    return f"min {s[0]:.2f} / med {s[len(s) // 2]:.2f} / max {s[-1]:.2f}"


def main() -> None:
    # the driver-side merge session's JVM outlives spark.stop() (py4j keeps
    # the process) — cap ITS heap too, so the heap it grew during the merge
    # stays bounded while it idles alongside every later timed level
    os.environ.setdefault("BEAMIUM_SPARK_DRIVER_MEM", "6g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/"))[2:])
    sys.path.insert(0, REPO)
    from beamium_spark.sources.synth import ensure_web_pages

    fixture = ensure_web_pages(sf)
    files = sorted(glob.glob(os.path.join(fixture, "*.parquet")))
    assert len(files) >= 4, "need >=4 files to shard across 4 executors"

    runs = int(os.environ.get("BEAMIUM_BENCH_RUNS", "3"))

    # between runs the previous JVMs' heap/page reclaim competes with the
    # next runs' timed sections; a settle pause restores isolated numbers
    settle_s = float(os.environ.get("BEAMIUM_BENCH_SETTLE_S", "8"))

    def level(n_exec: int):
        shards = [files[i::n_exec] for i in range(n_exec)]
        samples = []
        for r in range(runs):
            compute, outs = run_executors(shards, f"{n_exec}x{r}")
            samples.append(compute)
            time.sleep(settle_s)
        stat_compute = _stat(samples)
        m_dt, n_rows = merge_time(outs)
        return stat_compute + m_dt, stat_compute, m_dt, n_rows, samples

    t_n, c_n, m_n, rows_n, samp_n = level(1)
    t_4n, c_4n, m_4n, rows_4n, samp_4n = level(4)
    assert rows_n == rows_4n, "merged tier must be identical across levels"

    eff = round((t_n / t_4n) / 4.0, 3)

    # compute-only form: same 1B-point cascade, sharded by id range
    total_pts = int(os.environ.get("BEAMIUM_BENCH_POINTS", "1000000000"))

    def ranged(flag: str, total: int, n_exec: int):
        step = total // n_exec
        shards = [
            [flag, str(i * step), str((i + 1) * step)] for i in range(n_exec)
        ]
        samples = []
        for r in range(runs):
            compute, _ = run_executors(shards, f"{flag.strip('-')}{n_exec}x{r}")
            samples.append(compute)
            time.sleep(settle_s)
        return _stat(samples), samples

    pc_n, psamp_n = ranged("--points", total_pts, 1)
    pc_4n, psamp_4n = ranged("--points", total_pts, 4)
    pts_eff = round((pc_n / pc_4n) / 4.0, 3)

    # ALU ceiling control: best process-scaling this host permits. The ALU
    # op streams ~50x more rows/sec than the cascade, so the range is
    # scaled up to keep the N-level timed section ~20s — at 1B rows it
    # finished in 0.4s and fixed scheduling overheads (~0.2s) drowned the
    # signal, reading as a bogus 0.28 "ceiling".
    alu_pts = int(os.environ.get("BEAMIUM_BENCH_ALU_POINTS", str(total_pts * 50)))
    alu_n, asamp_n = ranged("--alu", alu_pts, 1)
    alu_4n, asamp_4n = ranged("--alu", alu_pts, 4)
    alu_eff = round((alu_n / alu_4n) / 4.0, 3)
    pts_eff_norm = round(pts_eff / alu_eff, 3) if alu_eff else None

    stat_name = os.environ.get("BEAMIUM_BENCH_STAT", "min")
    result = {
        "mode": "multi-executor (separate JVM processes, 8 cores each)",
        "sf": sf,
        "N_executors": 1,
        "4N_executors": 4,
        "stat": stat_name,
        "runs": runs,
        "worker_heap": WORKER_HEAP,
        "barrier": True,
        "level_N_sec": round(t_n, 2),
        "level_4N_sec": round(t_4n, 2),
        "compute_N": round(c_n, 2),
        "compute_4N": round(c_4n, 2),
        "compute_N_samples": samp_n,
        "compute_4N_samples": samp_4n,
        "merge_N": round(m_n, 2),
        "merge_4N": round(m_4n, 2),
        "tier_rows": rows_n,
        "executor_scaling_efficiency": eff,
        "points_total": total_pts,
        "points_compute_N": round(pc_n, 2),
        "points_compute_4N": round(pc_4n, 2),
        "points_compute_N_samples": psamp_n,
        "points_compute_4N_samples": psamp_4n,
        "points_executor_scaling_efficiency": pts_eff,
        "alu_ceiling_N": round(alu_n, 2),
        "alu_ceiling_4N": round(alu_4n, 2),
        "alu_ceiling_N_samples": asamp_n,
        "alu_ceiling_4N_samples": asamp_4n,
        "alu_ceiling_efficiency": alu_eff,
        "points_efficiency_ceiling_normalized": pts_eff_norm,
    }
    print(json.dumps(result))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SCALING_EXECUTORS.md"), "w") as f:
        f.write(f"""# Multi-executor scaling (separate JVMs — the cluster-faithful form)

Executors on a real cluster are separate JVM processes; this measures
N=1 → 4N=4 executor processes (8 cores each) over the same sf={sf}
input, disjoint file shards, decomposable-tuple merge included.

Harness discipline (see scripts/multi_executor_bench.py docstring):
{WORKER_HEAP} worker heap ceilings, warm-up BARRIER before every timed
section, {stat_name} over {runs} reps, per-rep spread published.

| | N = 1 executor | 4N = 4 executors |
| --- | --- | --- |
| shard compute ({stat_name} of {runs}, max over executors) | {c_n:.2f}s | {c_4n:.2f}s |
| per-rep spread | {_spread(samp_n)} | {_spread(samp_4n)} |
| partial-merge (final exchange) | {m_n:.2f}s | {m_4n:.2f}s |
| total | {t_n:.2f}s | {t_4n:.2f}s |

- merged 1m tier rows identical across levels: {rows_n}
- **executor scaling efficiency (full pipeline): {eff}** — bounded by the
  box's shared page-cache/memory-bus bandwidth (~2.5-3 GB/s measured,
  BENCH/ROOFLINE.md), which 8 cores already half-saturate; real
  4N-executor clusters multiply that resource per node.

## Compute-only form (no I/O — the engine itself)

Same 1m rollup over {total_pts:,} synthetic points, sharded by id range
across executor processes. Timestamps are time-contiguous per id
(ts = id//pps) — the batch-clustered arrival the production job
guarantees (hour-chunk work units, plans/job.py; time-sorted fixture) —
so per-task aggregation state is the handful of windows the id-range
covers.

| | N = 1 executor | 4N = 4 executors |
| --- | --- | --- |
| cascade shard compute ({stat_name} of {runs}) | {pc_n:.2f}s | {pc_4n:.2f}s |
| per-rep spread | {_spread(psamp_n)} | {_spread(psamp_4n)} |
| ALU ceiling control ({stat_name} of {runs}) | {alu_n:.2f}s | {alu_4n:.2f}s |
| ALU control spread | {_spread(asamp_n)} | {_spread(asamp_4n)} |

- **executor scaling efficiency (compute-only): {pts_eff}**
  (north_rule target ≥ 0.8)
- **host ALU process-scaling ceiling: {alu_eff}** — the best N→4N any
  concurrent JVM compute achieves on this box (pure xxhash64 + scalar
  reduce, near-zero memory traffic). Ceiling-normalized cascade
  efficiency: **{pts_eff_norm}** — how much of the host-permitted
  scaling the engine's aggregation path captures.
- thread-packed single-JVM numbers (the pessimistic form) are in
  BENCH/BASELINE.md with the measured host-ceiling ladder.
""")
    # merge into scaling.json
    sj = os.path.join(REPO, "BENCH", "scaling.json")
    data = {}
    if os.path.exists(sj):
        data = json.load(open(sj))
    data["multi_executor"] = result
    history = data.setdefault("multi_executor_history", [])
    history.append(
        {
            "stat": stat_name,
            "points_eff": pts_eff,
            "alu_eff": alu_eff,
            "full_eff": eff,
        }
    )
    json.dump(data, open(sj, "w"), indent=2)


if __name__ == "__main__":
    main()
