"""Rollup-engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 10 --trace 0

run from the root of a checkout. ``--trace 0`` prints every end-to-end
metric of BENCHMARK.json; ``--trace 1`` is the separate traced run and
prints every per-layer metric. ``--workload all`` runs each workload in
its own process and prints one table (with ``--trace 1`` it runs each
workload untraced and traced, and reports the tracing overhead). The
last line of standard output is always one JSON object; the exit code is
non-zero when any operation raised or failed its output check.

See README.md in this directory for why each workload exists and what
each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
#: seconds a run may take before it must have printed its result (the
#: harness allows 180; the rest is margin for stopping the session)
RUN_BUDGET_S = 170
#: run budget the traced dashboard run's scrape probe must have left
SCRAPE_PROBE_S = 60


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: all available)")
    return p.parse_args(argv)


def pin_env(work: str, cores: int) -> None:
    """Everything the session and its workers write stays under ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "BEAMIUM_SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()


class RssSampler:
    """Peak memory of this process tree (driver Python, the JVM it
    launched, and the JVM's forked Python workers), sampled from /proc.
    Each process counts its proportional set size, so pages the forked
    workers share are counted once."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_kb(self) -> int:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += kids.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, but never below the median: a run of 21 samples
    or fewer reports its upper median."""
    s = sorted(samples)
    i = max(len(s) - 11, len(s) // 2)
    return s[i], 100.0 * (i + 1) / len(s)


def measure(wl, seconds: float, tracer=None) -> dict:
    """Closed loop: next operation only after the previous one returned
    and was checked. Check time and ``prepare()`` are not timed."""
    span = tracer.span if tracer else None
    out = {"lat": [], "infos": [], "attempted": 0, "failed": 0, "items": 0, "busy": 0.0,
           "files": []}
    start, steal0 = time.perf_counter(), steal_s()
    deadline = start + seconds
    while True:
        prep = wl.prepare()
        before = _files(wl.store_dir(prep)) if tracer else None
        t0 = time.perf_counter()
        try:
            if span:
                with span("op", kind=prep.get("kind") if isinstance(prep, dict) else None):
                    info = wl.op(prep)
            else:
                info = wl.op(prep)
            err = None
        except Exception as e:  # an operation that raised counts as failed
            info, err = None, f"{type(e).__name__}: {e}"
        dur = time.perf_counter() - t0
        out["attempted"] += 1
        if err is None:
            try:
                problems = wl.check(info)
            except Exception as e:  # e.g. output files the op never wrote
                problems = [f"check raised {type(e).__name__}: {e}"]
        else:
            problems = [err]
        if problems:
            out["failed"] += 1
            for p in problems[:3]:
                print(f"[{wl.name}] CHECK FAILED: {p}"[:2000], file=sys.stderr)
        else:
            out["lat"].append(dur)
            out["items"] += info["items"]
            out["busy"] += dur
            out["infos"].append(info)
            if tracer:
                after = _files(info["state"])
                new = {k: v for k, v in after.items() if before.get(k) != v}
                out["files"].append((len(new), sum(new.values())))
        if time.perf_counter() >= deadline and wl.at_boundary():
            cpu_s = (time.perf_counter() - start) * os.cpu_count()
            out["steal_pct"] = 100 * (steal_s() - steal0) / cpu_s
            return out


def steal_s() -> float:
    """CPU seconds the hypervisor has run other guests while this
    machine's CPUs were ready to run (``steal`` in /proc/stat): on a
    shared host, the main source of run-to-run spread."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _files(root: str | None) -> dict[str, int]:
    """parquet data file path → size under a store root."""
    out = {}
    if root and os.path.isdir(root):
        for d, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(spec_metrics: list[dict], values: dict, ok: bool, res: dict, notes: list[str]):
    names = [m["name"] for m in spec_metrics]
    if set(names) != set(values):
        raise RuntimeError(f"metric set drifted from BENCHMARK.json: "
                           f"{sorted(set(names) ^ set(values))}")
    for line in notes:
        print(line)
    metrics = {}
    for m in spec_metrics:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:<28} {v:>16.6g} {m['unit']}")
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "beamium_spark", "plans", "job.py")):
        print(f"program not found: {ROOT}/beamium_spark is missing", file=sys.stderr)
        return 2
    cores = args.cores or len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work, cores)
    sys.path[:0] = [ROOT, HERE]
    from inputs import ensure_inputs
    from oracle import Oracle
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    inputs = ensure_inputs(os.path.join(HERE, ".cache"), args.seed)
    oracle = Oracle(inputs.web_pages)
    prep_s = time.monotonic() - args.started
    try:
        with RssSampler() as rss:
            from beamium_spark.session import get_spark
            import spans as tr

            t0 = time.perf_counter()
            log_dir = os.path.join(work, "eventlog")
            extra = None
            if args.trace:
                os.makedirs(log_dir)
                extra = tr.event_log_conf(log_dir)
            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              master=f"local[{cores}]", extra_conf=extra)
            try:
                spark.sparkContext.setLogLevel("ERROR")
                session_s = time.perf_counter() - t0
                wl = WORKLOADS[args.workload](spark, inputs, oracle, work)
                wl.setup()
                setup_s = time.perf_counter() - t0
                tracer = None
                if args.trace:
                    tracer = tr.Tracer(spark.sparkContext)
                    tracer.install()
                    wl.span = tracer.span
                t1 = time.perf_counter()
                try:
                    res = measure(wl, args.seconds, tracer)
                finally:
                    if tracer:
                        tracer.uninstall()
                loop_s = time.perf_counter() - t1
                probes = run_probes(spark, wl, tracer, args.started) if args.trace else {}
            finally:
                t2 = time.perf_counter()
                stop_session(spark)
                stop_s = time.perf_counter() - t2
        res["attempted"] += wl.side_checks[0]
        res["failed"] += wl.side_checks[1]
        ok = res["failed"] == 0 and res["attempted"] > 0
        lat = res["lat"] or [0.0]
        last = res["infos"][-1] if res["infos"] else None
        store_b = (sum(_files(last["state"]).values()) / wl.items_in_store(last)
                   if last else 0.0)
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_kb / 1024,
            "store_bytes_per_item": store_b,
        }
        # timings of the operations: printed, not listed in BENCHMARK.json
        # (README.md, "Steadiness and the host", says why)
        tail_s, tail_p = tail(lat)
        timing = {"op_p50_ms": statistics.median(lat) * 1e3, "op_tail_ms": tail_s * 1e3,
                  "items_per_s": res["items"] / res["busy"] if res["busy"] else 0.0}
        notes = [f"workload={args.workload} seed={args.seed} cores={cores} "
                 f"ops={len(res['lat'])} attempted={res['attempted']} "
                 f"failed={res['failed']} error_rate={res['failed'] / res['attempted']:.4g} "
                 f"tail=p{tail_p:.0f} of n={len(res['lat'])} "
                 f"host_steal={res['steal_pct']:.1f}% of CPU during the timed loop",
                 f"  wall: inputs and reference {prep_s:.1f} s, setup {setup_s:.1f} s, "
                 f"timed loop {loop_s:.1f} s, session stop {stop_s:.1f} s",
                 f"  op_p50_ms = {timing['op_p50_ms']:.6g}"]
        notes += [f"  {k} = {v:.6g}" for k, v in wl.aliases({**e2e, **timing}).items()]
        if args.trace:
            import layers

            values = layers.per_layer(
                tracer, tr.attribute(tracer, tr.read_event_log(log_dir)), wl, res,
                probes, session_s, oracle,
            )
            emit(spec["per_layer"], values, ok, res, notes)
        else:
            emit(spec["end_to_end"], e2e, ok, res, notes)
        return 0 if ok else 1
    finally:
        oracle.close()
        shutil.rmtree(work, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_probes(spark, wl, tracer, started: float) -> dict:
    """Per-layer probes after the timed loop.

    Each lazy operator on the workload's input is forced through Spark's
    ``noop`` sink (median of three). On ``dashboard`` the traced run also
    makes one traced ``ScrapeDaemon.run_once`` pass (after a warm-up
    pass), so the scrape layers, which have no workload of their own in
    BENCHMARK.json, are measured on a listed workload. The pass is
    checked like an operation of ``scrape``. It is skipped (its metrics
    read 0, and the run says why) when less than ``SCRAPE_PROBE_S`` of
    the run budget is left."""
    from pyspark.sql import functions as F

    from workloads import Scrape

    def noop_s(df) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    out = {}
    pages = wl.probe_pages()
    if pages is not None:
        from beamium_spark.operators.blocks import encode_blocks
        from beamium_spark.operators.extract import extract_points
        from beamium_spark.operators.rollup import rollup_tier

        points = extract_points(pages, bucket_mode="site")
        out["op.extract_s"] = noop_s(points)
        out["op.rollup_1m_s"] = noop_s(rollup_tier(points, "1 minute"))
        out["op.encode_blocks_s"] = noop_s(
            encode_blocks(points.select("bucket", "metric", "ts", "value"), "1 hour"))
    if wl.name in ("dashboard", "scrape"):
        from beamium_spark.functions.transcompile import parse_prometheus

        left = RUN_BUDGET_S - (time.monotonic() - started)
        if wl.name == "dashboard" and left < SCRAPE_PROBE_S:
            print(f"  scrape probe skipped, its metrics read 0: {left:.0f} s of the "
                  f"run budget left, the probe needs {SCRAPE_PROBE_S}")
        elif wl.name == "dashboard":
            scrape = Scrape(spark, wl.inputs, wl.oracle, wl.work)
            scrape.setup()
            tracer.install()
            try:
                t = time.perf_counter()
                with tracer.span("probe.scrape"):
                    info = scrape.op(scrape.prepare())
                out["scrape.lines_per_s"] = info["items"] / (time.perf_counter() - t)
            finally:
                tracer.uninstall()
            wl.record_check("scrape probe", scrape.check(info))
        lines = spark.read.text(wl.inputs.prom_dir).withColumnRenamed("value", "line")
        out["op.parse_prometheus_s"] = noop_s(
            parse_prometheus(lines, "line", Scrape.now_us).select(
                F.col("ts_us"), F.col("cls"), F.col("labels"), F.col("value")))
    return out


def run_all(args) -> int:
    """Every workload in its own process; one table of metrics. With
    ``--trace 1`` each workload also runs traced (the tracing overhead),
    and ``catchup`` runs untraced at local[1] too (``scale.speedup``)."""
    if not os.path.isfile(os.path.join(ROOT, "beamium_spark", "plans", "job.py")):
        print(f"program not found: {ROOT}/beamium_spark is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    runs = [(name, mode, None) for name in WORKLOADS
            for mode in ([0, 1] if args.trace else [0])]
    if args.trace:
        runs.append(("catchup", 0, 1))
    rc, merged, attempted, failed, results = 0, {}, 0, 0, {}
    for name, mode, cores in runs:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(mode)] + (["--cores", str(cores)] if cores else [])
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(proc.stderr[-3000:], file=sys.stderr)
            rc = 1
        if not lines:
            continue
        res = results[name, mode, cores] = json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        tag = name + (f"@local[{cores}]" if cores else "")
        for k, v in res["metrics"].items():
            merged[f"{tag}/{k}"] = v
        # the untraced op timing is printed, not a listed metric
        m = re.search(r"^  op_p50_ms = (\S+)$", proc.stdout, re.M)
        if m and mode == 0:
            res["op_p50_ms"] = float(m.group(1))
            merged[f"{tag}/op_p50_ms"] = {"value": res["op_p50_ms"], "unit": "ms"}

    def p50(key):
        return results.get(key, {}).get("op_p50_ms")

    for name in WORKLOADS if args.trace else ():
        untraced, traced = p50((name, 0, None)), results.get((name, 1, None))
        if untraced and traced:
            traced = traced["metrics"]["trace.op_p50_ms"]["value"]
            pct = 100 * (traced / untraced - 1)
            print(f"  tracing overhead on {name}: op_p50 {untraced:.1f} ms untraced, "
                  f"{traced:.1f} ms traced ({pct:+.1f}%)")
            merged[f"{name}/trace.overhead_pct"] = {"value": pct, "unit": "%"}
    one, full = p50(("catchup", 0, 1)), p50(("catchup", 0, None))
    if one and full:
        # every catch-up ingests the same pages, so the ratio of the
        # catch-up times is the ratio of the pages/s
        print(f"  scale.speedup: catch-up {one / 1e3:.1f} s at local[1], "
              f"{full / 1e3:.1f} s at local[nproc] ({one / full:.2f}x)")
        merged["scale.speedup"] = {"value": one / full, "unit": "x"}
    print(json.dumps({"correct": rc == 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": merged}))
    return 1 if rc or failed else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    args.started = time.monotonic()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
