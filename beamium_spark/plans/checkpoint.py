"""Checkpoint log: the engine's Disk-Fail-Over state, kept by the driver.

Beamium's resumability primitive is "state lives on the filesystem": a
directory scan finds new files (beamium's src/lib/asynch/fs.rs:83),
the seen-set difference decides the work (src/router.rs:56-77), an
atomic ``*.tmp`` → rename marks a file done (src/scraper.rs:249-265),
and deletion waits for a confirmed forward (src/lib/asynch/http.rs:
161-176). The engine keeps the same state as an append-only log of
small JSON segments under ``<state_root>/_log/``, written and read by the
driver through the store's Hadoop FileSystem — no Spark job:

- directory scan     → ``discover``, the one discovery both drivers
                       call: list the source files, scan only those the
                       log has never seen, and append a ``files`` record
                       with each file's id (path, length, mtime) and the
                       hour-chunks it holds
- seen-set difference → Python set arithmetic over the log
                       (``Manifest.pending``): chunks never committed,
                       or whose set of source files changed since commit
- atomic ``*.tmp``    → each segment is written ``.<name>.tmp`` then
                       renamed; readers skip dot-files, so a kill leaves
                       no partial segment
- delete-after-send  → a run's one fence segment (commit records, source
                       baseline, ``run_complete``) lands only after every
                       data write; data writes are idempotent partition
                       overwrites, so a kill before the fence replays the
                       chunk with no duplicates (K2 semantics)
- retry w/ backoff   → ``commit_with_retry`` with beamium's constants:
                       initial 500 ms, max 60 s, ×1.5, ±0.3 jitter
                       (src/conf.rs:135-138, src/lib/asynch/http.rs:87-93)
- counters           → scraped / filtered / forwarded per commit record
                       (the north_star triple; beamium's
                       beamium_fetch_datapoints / line filters /
                       beamium_push_datapoints, src/scraper.rs:35-46,
                       src/lib/asynch/http.rs:31-47)

A segment is ``{"run_id", "at", "records": [...]}``; a record is one of
``{"event", "info"}``, ``{"commit": tier, "chunks", "scraped",
"filtered", "forwarded"}``, ``{"baseline": {chunk: file-set digest}}`` or
``{"files": {file id: [chunk, ...]}[, "stamp": µs]}``; the scrape daemon's
``stamp`` is the scrape time its first parse gave samples that carry no
timestamp. Chunks are ISO timestamps (naive UTC).
Segments are named ``<seq>-<run_id>.json`` and read in ``seq`` order;
later baselines supersede earlier ones.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import time
import uuid
from collections import Counter, defaultdict
from dataclasses import dataclass
from functools import reduce
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LOG_DIR = "_log"

# beamium backoff defaults (src/conf.rs:135-138)
BACKOFF_INITIAL_S = 0.5
BACKOFF_MAX_S = 60.0
BACKOFF_MULTIPLIER = 1.5
BACKOFF_RANDOMIZATION = 0.3


def commit_record(
    tier: str, chunk_starts, scraped: int = 0, filtered: int = 0, forwarded: int = 0
) -> dict:
    return {
        "commit": tier,
        "chunks": [c.isoformat() for c in chunk_starts],
        "scraped": scraped,
        "filtered": filtered,
        "forwarded": forwarded,
    }


def event_record(event: str, info: str = "") -> dict:
    return {"event": event, "info": info}


def baseline_record(fingerprints: dict) -> dict:
    """Per-chunk digest of the source files that held the chunk at its
    commit (``Discovery.fingerprints``): a committed chunk whose live
    digest differs is replayed."""
    return {"baseline": {c.isoformat(): v for c, v in fingerprints.items()}}


class Manifest:
    def __init__(self, store):
        self.store = store
        self.root = f"{store.root}/{LOG_DIR}"
        # segments are immutable once renamed: each is read once
        self._cache: dict[str, dict] = {}

    # ---- the log ---------------------------------------------------------

    def _names(self) -> list[str]:
        return sorted(
            n for n, is_dir in self.store._ls(self.root)
            if not is_dir and n.endswith(".json") and not n.startswith(".")
        )

    def segments(self) -> list[tuple[str, dict]]:
        """(name, segment) of every renamed segment, in write order."""
        out = []
        for name in self._names():
            if name not in self._cache:
                raw = self.store.read_bytes(f"{self.root}/{name}")
                self._cache[name] = json.loads(raw)
            out.append((name, self._cache[name]))
        return out

    def _records(self, key: str) -> list[dict]:
        return [r for _, seg in self.segments() for r in seg["records"] if key in r]

    def append(self, run_id: str, records: list[dict]) -> str:
        """Write one segment (``.tmp`` then rename); returns its name."""
        names = self._names()
        seq = int(names[-1].split("-", 1)[0]) + 1 if names else 1
        name = f"{seq:010d}-{run_id}.json"
        seg = {
            "run_id": run_id,
            "at": dt.datetime.now(dt.timezone.utc).isoformat(),
            "records": records,
        }
        self.store.write_bytes(
            f"{self.root}/{name}", json.dumps(seg, separators=(",", ":")).encode()
        )
        self._cache[name] = seg
        return name

    def commit(self, run_id: str, records: list[dict]) -> str:
        """The resumability fence: one segment holding a run's commit
        records (and whatever must land atomically with them)."""
        return self.append(run_id, records)

    # ---- discovery state -------------------------------------------------

    def committed_chunks(self, tier: str) -> set:
        return {
            dt.datetime.fromisoformat(c)
            for r in self._records("commit") if r["commit"] == tier
            for c in r["chunks"]
        }

    def baseline(self) -> dict:
        out = {}
        for r in self._records("baseline"):
            out.update(r["baseline"])
        return {dt.datetime.fromisoformat(c): v for c, v in out.items()}

    def source_files(self) -> dict[str, list]:
        """file id → hour-chunks it holds, for every source file seen."""
        out: dict[str, list] = {}
        for r in self._records("files"):
            for fid, chunks in r["files"].items():
                out[fid] = [dt.datetime.fromisoformat(c) for c in chunks]
        return out

    def file_stamps(self) -> dict[str, int]:
        """file id → the scrape time stamped on its untimed samples, for
        the files of ``files`` records that carry a ``stamp``."""
        return {
            fid: r["stamp"] for r in self._records("files") if "stamp" in r
            for fid in r["files"]
        }

    def pending(self, fingerprints: dict, tiers: list[str]) -> list:
        """Chunks of ``fingerprints`` (chunk → live source fingerprint)
        not committed for every tier in ``tiers``, or whose fingerprint
        differs from the baseline recorded at their commit — the
        seen-set difference (src/router.rs:63-77) plus beamium's
        re-forward of any new file in a scanned directory."""
        committed = set.intersection(*(self.committed_chunks(t) for t in tiers)) if tiers else set()
        base = self.baseline()
        return sorted(
            c for c, fp in fingerprints.items() if c not in committed or base.get(c) != fp
        )

    # ---- run metadata: reload/restart + commit observability -------------
    # beamium_reload_count (src/main.rs:27-33, inc :201) and
    # beamium_push_http_status (src/lib/asynch/http.rs:31-47) analogues.

    def record_event(self, run_id: str, event: str, info: str = "") -> None:
        self.append(run_id, [event_record(event, info)])

    def run_events(self) -> DataFrame:
        rows = [
            (seg["run_id"], r["event"], r["info"], dt.datetime.fromisoformat(seg["at"]))
            for _, seg in self.segments() for r in seg["records"] if "event" in r
        ]
        return self.store.spark.createDataFrame(
            rows, "run_id string, event string, info string, at timestamp"
        )

    def event_counts(self) -> dict[str, int]:
        """Events per kind (run_start / run_complete / reload)."""
        return dict(Counter(r["event"] for r in self._records("event")))

    def commits(self, tier: str) -> int:
        """Fences that committed ``tier`` (commits_ok)."""
        return sum(1 for r in self._records("commit") if r["commit"] == tier)

    def counters(self) -> DataFrame:
        """Per-tier counter totals — the /metrics exposition analogue
        (src/cmd.rs:80-106), queryable via Spark SQL."""
        tot: dict[str, list] = {}
        for r in self._records("commit"):
            t = tot.setdefault(r["commit"], [0, 0, 0, 0])
            for i, k in enumerate(("chunks", "scraped", "filtered", "forwarded")):
                t[i] += len(r[k]) if k == "chunks" else r[k]
        return self.store.spark.createDataFrame(
            [(tier, *v) for tier, v in sorted(tot.items())],
            "tier string, chunks long, scraped long, filtered long, forwarded long",
        )


def utc_wall(t: dt.datetime) -> dt.datetime:
    """A collected Spark timestamp as naive UTC wall time, the clock of
    the store's ``chunk_key`` and of ``to_date`` in the UTC session.
    ``collect()`` returns naive datetimes in the driver process's local
    zone whatever the session zone."""
    return dt.datetime.fromtimestamp(t.timestamp(), dt.timezone.utc).replace(tzinfo=None)


def utc_lit(t: dt.datetime):
    """A timestamp literal of a naive UTC wall time: PySpark reads a
    naive ``datetime`` as the driver's local time."""
    return F.lit(t.replace(tzinfo=dt.timezone.utc))


# ---- discovery: the one both drivers call ----------------------------------


@dataclass
class Discovery:
    """What one ``discover`` pass found."""

    pending: list  # chunks to (re)play, sorted
    fingerprints: dict  # chunk → digest of the ids of the listed files holding it
    files: dict  # listed file id → (root prefix, path under the root)
    touching: dict  # chunk → ids of the listed files holding it
    new: list  # ids of the files this pass scanned
    scanned: list  # ``scan``'s frames over them, one per root


def discover(
    manifest: Manifest, roots: dict, scan, tiers: list[str], stamp: int | None = None
) -> Discovery:
    """Work by source file, as beamium's router keeps the set of files it
    has seen and reads only new ones (src/router.rs:56-77).

    ``roots`` maps a file-id prefix to a source directory. A file's id is
    ``<prefix><path under the root>|<length>|<mtime ms>``, so a file
    replaced at the same path is a new file. Files the log has never seen
    are scanned, in one Spark job: ``scan(prefix, paths)`` returns a frame
    with a ``ts`` timestamp and a ``file`` column (the reader's
    ``input_file_name()``) over the files ``paths`` of one root. The hours
    each file holds go to the log in one ``files`` record, with ``stamp``
    when given. Pending are the chunks not committed for every tier in
    ``tiers`` and the committed chunks whose set of files changed since
    their commit: late-arriving, replaced and removed files replay
    exactly their chunks. A pass with no new file runs no Spark job."""
    store = manifest.store
    files = {
        f"{prefix}{path}|{size}|{mtime}": (prefix, path)
        for prefix, root in roots.items()
        for path, size, mtime in store.list_files(root)
    }
    seen = manifest.source_files()
    new = sorted(fid for fid in files if fid not in seen)
    scanned = []
    if new:
        by_root = defaultdict(list)
        for fid in new:
            by_root[files[fid][0]].append(files[fid][1])
        frames = {
            prefix: scan(prefix, [f"{roots[prefix].rstrip('/')}/{p}" for p in paths])
            for prefix, paths in by_root.items()
        }
        scanned = list(frames.values())
        rows = (
            reduce(DataFrame.unionByName, [
                df.select(F.lit(prefix).alias("root"), "file", "ts")
                for prefix, df in frames.items()
            ])
            .filter(F.col("ts").isNotNull())
            .groupBy("root", "file")
            .agg(F.collect_set(F.date_trunc("hour", "ts")).alias("chunks"))
            .collect()
        )
        # the reader names a file by its qualified URI; an id holds the
        # path under the file's root
        qualified = {}
        for prefix in frames:
            fs, root = store._fs_path(roots[prefix].rstrip("/"))
            qualified[prefix] = fs.makeQualified(root).toUri().getPath().rstrip("/") + "/"
        held = {
            (r["root"], unquote(urlparse(r["file"]).path)[len(qualified[r["root"]]):]):
                sorted(map(utc_wall, r["chunks"]))
            for r in rows
        }
        found = {fid: held.get(files[fid], []) for fid in new}
        record = {"files": {fid: [c.isoformat() for c in cs] for fid, cs in found.items()}}
        if stamp is not None:
            record["stamp"] = stamp
        manifest.append("discover", [record])
        seen = {**seen, **found}
    touching = defaultdict(list)
    for fid in sorted(files):
        for c in seen[fid]:
            touching[c].append(fid)
    fingerprints = {
        c: hashlib.sha1("\n".join(fids).encode()).hexdigest()[:16]
        for c, fids in touching.items()
    }
    return Discovery(
        manifest.pending(fingerprints, tiers), fingerprints, files, dict(touching),
        new, scanned,
    )


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def commit_with_retry(
    fn,
    max_attempts: int = 8,
    initial_s: float = BACKOFF_INITIAL_S,
    max_s: float = BACKOFF_MAX_S,
    multiplier: float = BACKOFF_MULTIPLIER,
    randomization: float = BACKOFF_RANDOMIZATION,
    sleep=time.sleep,
    rng: random.Random | None = None,
):
    """Driver-side commit retry with beamium's exponential backoff
    (state machine at src/lib/asynch/http.rs:181-232; reset-on-success
    :87-93). Spark task retries cover executor failure; this covers the
    commit action itself."""
    rng = rng or random.Random()
    delay = initial_s
    last_err = None
    for _ in range(max_attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - commit errors are retryable
            last_err = e
            jitter = 1.0 + randomization * (2.0 * rng.random() - 1.0)
            sleep(min(delay * jitter, max_s))
            delay = min(delay * multiplier, max_s)
    raise RuntimeError(f"commit failed after {max_attempts} attempts") from last_err
