"""Seeded benchmark inputs, generated outside the program under test.

Two inputs per seed, cached under ``perfbench/.cache/seed-<n>/``:

- ``web_pages/`` — the synthetic ``web_pages`` parquet fixture, made by
  ``beamium_spark.sources.synth.generate_web_pages`` with its module-level
  ``SEED`` and ``SPAN_US`` set for this seed (restored afterwards). The
  generator writes with pyarrow, not Spark, so the program only ever sees
  the files.
- ``scrape/prom/*.metrics`` and ``scrape/gts/*.metrics`` — a Prometheus
  exposition corpus plus a sensision (GTS) corpus spanning three hours.
  The generator knows exactly how many points each line yields, so the
  scrape check compares forwarded counts against ``meta.json``.
  ``scrape_warm/`` holds a corpus of the same shape, 1/20 the size, for
  the warm-up pass.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass
from urllib.parse import quote

#: web_pages fixture geometry: hour-chunks of data, and pages
#: (``rows_for_sf``: 6M pages per unit scale factor). A tenth of the
#: pages and a sixth of the hours of sf0.01 over the generator's default
#: three days: README.md says why.
WEB_HOURS = 12
WEB_SF = 0.001

#: scrape corpus geometry
PROM_FILES = 4
PROM_LINES_PER_FILE = 6_000
GTS_FILES = 2
GTS_LINES_PER_FILE = 3_000
SCRAPE_SPAN_MS = 3 * 3600 * 1000
#: batch-constant scrape time stamped on ts-less Prometheus lines; inside
#: the corpus span, so ts-less lines add no extra hour-chunk
SCRAPE_NOW_US = 1735689600000000 + 90 * 60 * 1_000_000

BASE_MS = 1735689600000  # 2025-01-01T00:00:00Z
CACHE_KEEP = 12  # seeds kept in the cache; the oldest is evicted


@dataclass
class Inputs:
    seed: int
    web_pages: str
    prom_dir: str
    gts_dir: str
    warm_prom_dir: str  # a corpus 1/20 the size, for the warm-up pass
    warm_gts_dir: str
    meta: dict


def ensure_inputs(cache_root: str, seed: int) -> Inputs:
    """Return the seed's inputs, generating them on a cache miss."""
    d = os.path.join(cache_root, f"seed-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.isfile(meta_path):
        os.makedirs(cache_root, exist_ok=True)
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = {"seed": seed}
        meta.update(_make_web_pages(os.path.join(tmp, "web_pages"), seed))
        meta.update(_make_scrape_corpus(os.path.join(tmp, "scrape"), seed))
        _make_scrape_corpus(os.path.join(tmp, "scrape_warm"), seed + 1, scale=20)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _evict(cache_root)
    else:
        os.utime(d)  # LRU touch
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(
        seed=seed,
        web_pages=os.path.join(d, "web_pages"),
        prom_dir=os.path.join(d, "scrape", "prom"),
        gts_dir=os.path.join(d, "scrape", "gts"),
        warm_prom_dir=os.path.join(d, "scrape_warm", "prom"),
        warm_gts_dir=os.path.join(d, "scrape_warm", "gts"),
        meta=meta,
    )


def _evict(cache_root: str) -> None:
    seeds = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith("seed-") and ".tmp-" not in n
    ]
    seeds.sort(key=os.path.getmtime)
    for old in seeds[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)


def _make_web_pages(out_dir: str, seed: int) -> dict:
    from beamium_spark.sources import synth

    saved = synth.SEED, synth.SPAN_US
    synth.SEED, synth.SPAN_US = seed, WEB_HOURS * 3600 * 1_000_000
    try:
        synth.generate_web_pages(WEB_SF, out_dir)
    finally:
        synth.SEED, synth.SPAN_US = saved
    return {"web_pages_rows": synth.rows_for_sf(WEB_SF), "web_hours": WEB_HOURS}


# ---- scrape corpus -------------------------------------------------------

# (family, label keys) — cpu_* families feed the selector sink
_PROM_FAMILIES = [
    ("http_requests_total", ("method", "path", "code")),
    ("cpu_seconds_total", ("cpu", "mode")),
    ("cpu_load", ()),
    ("mem_used_bytes", ("dc",)),
    ("disk_io_ops", ("dev", "dir")),
]
_GTS_CLASSES = ["cpu_temp", "os.mem.free", "os.disk.fs.used", "cpu_freq"]
# label values that need RFC-3986 encoding (space, %, +, /)
_LABEL_VALUES = {
    "method": ["GET", "POST", "PUT"],
    "path": ["/api/v1", "/api v2", "/q+search", "/50%off"],
    "code": ["200", "404", "500"],
    "cpu": ["0", "1", "2", "3"],
    "mode": ["user", "system", "idle"],
    "dc": ["gra+1", "rbx 2", "sbg"],
    "dev": ["sda", "nvme0n1"],
    "dir": ["read", "write"],
}


def _prom_line(rng: random.Random, fam: str, keys: tuple) -> tuple[str, bool]:
    """One sample line and whether it yields a point."""
    labels = ",".join(f'{k}="{rng.choice(_LABEL_VALUES[k])}"' for k in keys)
    head = f"{fam}{{{labels}}}" if keys else fam
    r = rng.random()
    if r < 0.01:
        return f"{head} {rng.choice(['+Inf', '-Inf', 'nan', 'NaN'])}", False
    value = f"{rng.uniform(-1e3, 1e6):.3f}" if r < 0.6 else str(rng.randrange(10**7))
    if r > 0.9:  # ts-less: stamped with the batch-constant scrape time
        return f"{head} {value}", True
    return f"{head} {value} {BASE_MS + rng.randrange(SCRAPE_SPAN_MS)}", True


def _make_scrape_corpus(out_dir: str, seed: int, scale: int = 1) -> dict:
    """Write the corpus (``1/scale`` of the full line count) and return its
    exact line and point counts."""
    rng = random.Random(seed)
    prom_dir, gts_dir = os.path.join(out_dir, "prom"), os.path.join(out_dir, "gts")
    os.makedirs(prom_dir)
    os.makedirs(gts_dir)
    prom_lines = prom_points = cpu_points = 0
    for i in range(PROM_FILES):
        lines = []
        for fam, _ in _PROM_FAMILIES:
            lines += [f"# HELP {fam} generated", f"# TYPE {fam} gauge"]
        while len(lines) < PROM_LINES_PER_FILE // scale:
            if rng.random() < 0.005:
                lines.append("" if rng.random() < 0.5 else "# scrape comment")
                continue
            fam, keys = rng.choice(_PROM_FAMILIES)
            line, ok = _prom_line(rng, fam, keys)
            lines.append(line)
            prom_points += ok
            cpu_points += ok and fam.startswith("cpu_")
        prom_lines += len(lines)
        with open(os.path.join(prom_dir, f"scrape-{i:03d}.metrics"), "w") as f:
            f.write("\n".join(lines) + "\n")
    gts_lines = gts_points = 0
    for i in range(GTS_FILES):
        lines = ["# sensision dump"]
        while len(lines) < GTS_LINES_PER_FILE // scale:
            cls = rng.choice(_GTS_CLASSES)
            host = quote(f"node {rng.randrange(8)}+a", safe="")
            ts_us = (BASE_MS + rng.randrange(SCRAPE_SPAN_MS)) * 1000
            lines.append(f"{ts_us}// {cls}{{host={host},rack=r{i}}} {rng.random() * 100:.4f}")
            n = 1
            # continuation lines reuse the class and labels above
            for _ in range(rng.randrange(3)):
                ts_us += 1_000_000
                lines.append(f"={ts_us}// {rng.randrange(1000)}")
                n += 1
            gts_points += n
            cpu_points += n if cls.startswith("cpu_") else 0
        gts_lines += len(lines)
        with open(os.path.join(gts_dir, f"node-{i:03d}.metrics"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return {
        "scrape_lines": prom_lines + gts_lines,
        "scrape_points_all": prom_points + gts_points,
        "scrape_points_cpu": cpu_points,
    }
