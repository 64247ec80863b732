"""python -m beamium_spark — the process-shape parity surface.

Runs the CLI in-process (main(argv)) against the tiny fixture: catch-up
mode must drain all chunks and a rerun must be a no-op; scrape mode must
route a GTS directory through conf-driven sinks."""

import json
import os

from beamium_spark.__main__ import main
from beamium_spark.sources.synth import ensure_web_pages


def test_cli_catchup_then_noop(spark, tmp_path, capsys):
    pages = ensure_web_pages(0.0003)
    state = str(tmp_path / "state")
    rc = main(["--pages", pages, "--state", state, "--now", "2025-01-01T00:00:00"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert lines[0]["chunks"] > 0 and lines[0]["forwarded"] > 0
    assert lines[-1]["chunks"] == 0  # drained
    assert os.path.isdir(os.path.join(state, "rollup_1d"))
    # rerun: resume fence makes it a no-op
    rc = main(["--pages", pages, "--state", state, "--now", "2025-01-01T00:00:00"])
    assert rc == 0
    lines2 = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert lines2[0]["chunks"] == 0


def test_cli_query_mode(spark, tmp_path, capsys):
    pages = ensure_web_pages(0.0003)
    state = str(tmp_path / "state")
    # build the tiers with the job, then read them back from the same binary
    rc = main(["--pages", pages, "--state", state, "--now", "2025-01-01T00:00:00"])
    assert rc == 0
    capsys.readouterr()
    rc = main([
        "--state", state, "--query",
        "--metric", "doc_count",
        "--start", "2025-01-01T00:00:00", "--end", "2025-01-02T00:00:00",
        "--step", "1 hour", "--agg", "sum", "--anomaly", "6",
        "--limit", "5",
    ])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    rows = [json.loads(l) for l in out if l.startswith("{")]
    assert rows and {"bucket", "metric", "value", "zscore", "is_anomaly"} <= set(rows[0])
    assert any("truncated_at" in r for r in rows)  # --limit enforced
    # --out writes parquet instead of printing
    dest = str(tmp_path / "result")
    rc = main([
        "--state", state, "--query", "--metric", "doc_count",
        "--start", "2025-01-01T00:00:00", "--end", "2025-01-02T00:00:00",
        "--out", dest,
    ])
    assert rc == 0
    summary = [json.loads(l) for l in capsys.readouterr().out.splitlines()
               if l.startswith("{")][-1]
    assert summary["rows"] > 0 and os.path.isdir(dest)
    # validation: missing range args
    assert main(["--state", state, "--query", "--metric", "x"]) == 2


def test_cli_scrape_mode(spark, tmp_path, capsys):
    d = tmp_path / "gts"
    d.mkdir()
    (d / "a.metrics").write_text(
        "1735689600000000// node_cpu{h=a} 1.0\n"
        "1735689660000000// node_mem{h=a} 2.0\n"
    )
    cfg = tmp_path / "engine.json"
    cfg.write_text(json.dumps({
        "scrapers": {"nodes": {"format": "sensision"}},
        "sinks": {"warp": {"table": "warp", "selector": "node_.*", "ttl": "48h"}},
    }))
    state = str(tmp_path / "state")
    rc = main([
        "--scrape", "--config", str(cfg), "--state", state,
        "--source", f"nodes={d}", "--now", "2025-01-02T00:00:00",
    ])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert out[0]["forwarded"]["warp"] == 2
    assert os.path.isdir(os.path.join(state, "warp"))


def test_cli_source_validation(spark, tmp_path, capsys):
    rc = main(["--scrape", "--state", str(tmp_path / "s")])
    assert rc == 2


def test_cli_daemon_retention_clock_advances(spark, tmp_path, capsys, monkeypatch):
    """Regression (round-4 advisor): a long-running daemon's TTL cutoff
    must be recomputed EVERY tick, not frozen at process start — the
    reference evicts relative to current time each pass
    (src/sink.rs:101-146). Pin: each tick consults the wall clock anew
    when --now is not given."""
    import time as time_mod

    import beamium_spark.__main__ as main_mod

    calls = []
    real_strftime = time_mod.strftime

    def counting_strftime(fmt, *a):
        if fmt == "%Y-%m-%dT%H:%M:%S":
            calls.append(fmt)
        return real_strftime(fmt, *a)

    monkeypatch.setattr(main_mod.time, "strftime", counting_strftime)
    monkeypatch.setattr(main_mod.time, "sleep", lambda s: None)

    d = tmp_path / "gts"
    d.mkdir()
    (d / "a.metrics").write_text("1735689600000000// node_cpu{h=a} 1.0\n")
    cfg = tmp_path / "engine.json"
    cfg.write_text(json.dumps({
        "scrapers": {"nodes": {"format": "sensision"}},
        "sinks": {"warp": {"table": "warp", "selector": "node_.*", "ttl": "48h"}},
    }))
    rc = main([
        "--scrape", "--daemon", "--max-ticks", "3",
        "--config", str(cfg), "--state", str(tmp_path / "state"),
        "--source", f"nodes={d}",
    ])
    assert rc == 0
    # one wall-clock read PER TICK (pre-fix: exactly one at process start)
    assert len(calls) == 3


def test_cli_retention_clock_is_utc(spark, tmp_path, monkeypatch):
    """The retention clock is UTC, as the chunk keys are: on a driver 14
    hours east of UTC, a sample 47 hours old stays under a 48 h TTL (a
    local clock would put the cutoff 34 hours back and evict it)."""
    import time as time_mod

    from beamium_spark.sources.tables import ParquetTierStore

    d = tmp_path / "gts"
    d.mkdir()
    ts_us = (int(time_mod.time()) - 47 * 3600) * 10**6
    (d / "a.metrics").write_text(f"{ts_us}// node_cpu{{h=a}} 1.0\n")
    cfg = tmp_path / "engine.json"
    cfg.write_text(json.dumps({
        "scrapers": {"nodes": {"format": "sensision"}},
        "sinks": {"warp": {"table": "warp", "selector": "node_.*", "ttl": "48h"}},
    }))
    state = tmp_path / "state"
    with monkeypatch.context() as m:
        m.setenv("TZ", "Pacific/Kiritimati")
        time_mod.tzset()
        try:
            rc = main(["--scrape", "--config", str(cfg), "--state", str(state),
                       "--source", f"nodes={d}"])
        finally:
            m.undo()
            time_mod.tzset()
    assert rc == 0
    store = ParquetTierStore(spark, str(state))
    assert store.exists("warp") and store.read("warp").count() == 1


def test_cli_daemon_scrape_time_is_taken_per_pass(spark, tmp_path, monkeypatch):
    """Each daemon pass takes the scrape time anew: a file that arrives
    before the second pass, two hours on, stamps its untimed sample with
    that pass's hour, while the first file, re-read because the new file
    also holds a sample of its hour, keeps the first pass's hour."""
    import time as time_mod
    import types

    import beamium_spark.__main__ as main_mod

    t0 = 1735689600  # 2025-01-01T00:00:00Z
    d = tmp_path / "prom"
    d.mkdir()
    (d / "a.metrics").write_text("up 1\n")
    clock = [t0 + 600]

    def sleep(_s):
        (d / "b.metrics").write_text(f"up 2\nlate 3 {t0 * 1000 + 1}\n")
        clock[0] += 2 * 3600

    monkeypatch.setattr(main_mod, "time", types.SimpleNamespace(
        time_ns=lambda: clock[0] * 10**9, sleep=sleep, strftime=time_mod.strftime))
    cfg = tmp_path / "engine.json"
    cfg.write_text(json.dumps({
        "scrapers": {"web": {"format": "prometheus"}},
        "sinks": {"all": {"table": "all", "ttl": "48h"}},
    }))
    state = tmp_path / "state"
    rc = main([
        "--scrape", "--daemon", "--max-ticks", "2", "--config", str(cfg),
        "--state", str(state), "--source", f"web={d}", "--now", "2025-01-01T03:00:00",
    ])
    assert rc == 0
    rows = spark.read.parquet(str(state / "all")).selectExpr(
        "metric", "value", "date_format(ts, 'HH') AS h").collect()
    assert sorted(tuple(r) for r in rows) == [
        ("late", 3.0, "00"), ("up", 1.0, "00"), ("up", 2.0, "02")]


def test_cli_query_parameter_error_is_a_usage_error(spark, tmp_path, capsys):
    """A ValueError from query() is a one-line error on stderr, exit 2."""
    state = str(tmp_path / "state")
    rc = main([
        "--state", state, "--query", "--metric", "doc_count",
        "--start", "2025-01-01T00:00:00", "--end", "2025-01-01T03:00:00",
        "--smooth", "2", "--rate", "delta",
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "Traceback" not in err
    assert [l for l in err.splitlines() if l.startswith("--query")] == [
        "--query: smooth and rate are mutually exclusive"]


def test_cli_curate_mode(spark, tmp_path, capsys):
    docs_path = str(tmp_path / "docs")
    good = (
        "the quick brown fox jumps over the lazy dog and it was that good "
        "for everyone in the field to see it happen again and again today"
    )
    rows = [(i, good + f" v{i}") for i in range(1, 5)]
    rows += [(5, good + " v1"),  # exact duplicate of doc 1
             (6, "x " * 4)]      # low quality
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs_path)
    dest = str(tmp_path / "clean")
    rc = main(["--state", str(tmp_path / "st"), "--curate",
               "--docs", docs_path, "--out-clean", dest])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.splitlines()
           if l.startswith("{")]
    rep = {r["outcome"]: r["n"] for r in out if "outcome" in r}
    assert rep.get("kept") == 4 and rep.get("duplicate") == 1
    assert rep.get("low_quality") == 1
    kept = spark.read.parquet(dest)
    assert kept.count() == 4


def test_cli_query_render_and_ewma_flags(spark, tmp_path, capsys):
    from beamium_spark.sources.synth import ensure_web_pages

    pages = ensure_web_pages(0.0003)
    state = str(tmp_path / "state")
    rc = main(["--pages", pages, "--state", state, "--now", "2025-01-01T00:00:00"])
    assert rc == 0
    capsys.readouterr()
    rc = main([
        "--state", state, "--query", "--metric", "doc_count",
        "--start", "2025-01-01T00:00:00", "--end", "2025-01-02T00:00:00",
        "--step", "1 hour", "--agg", "sum", "--ewma", "0.3", "--limit", "3",
    ])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")]
    assert rows and "ewma" in rows[0]


def test_cli_query_decompose_and_alert_flags(spark, tmp_path, capsys):
    pages = ensure_web_pages(0.0003)
    state = str(tmp_path / "state")
    rc = main(["--pages", pages, "--state", state, "--now", "2025-01-01T00:00:00"])
    assert rc == 0
    capsys.readouterr()
    rc = main([
        "--state", state, "--query",
        "--metric", "doc_count",
        "--start", "2025-01-01T00:00:00", "--end", "2025-01-02T00:00:00",
        "--step", "1 hour", "--agg", "sum", "--fill", "zero",
        "--decompose", "6", "--alert", "2.0", "--alert-for", "2",
        "--limit", "30",
    ])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")]
    data = [r for r in rows if "state" in r]
    assert data and {"trend", "seasonal", "remainder", "state", "streak"} <= set(data[0])
    assert all(r["state"] in ("inactive", "pending", "firing") for r in data)
    # interior rows of a zero-filled grid have a full decomposition frame
    assert any(r["trend"] is not None for r in data)
