"""Output references computed by DuckDB, never by the program under test.

Raw points are re-derived from the fixture parquet with the extraction
rules of ``operators/extract.py`` written out in SQL (site-mode bucket,
one row per page per metric family); stored tiers and blocks are read
back from the program's parquet files. Every comparison returns a list
of problems; an empty list means the output matched.

Timestamps are compared as epoch microseconds on both sides, so neither
engine's time-zone handling enters the comparison.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
N_BUCKETS = 64

_POINTS_SQL = """
CREATE TABLE pages AS
SELECT CAST(regexp_extract(url, 'site(\\d+)', 1) AS INTEGER) % {nb} AS bucket,
       epoch_us(warc_ts) AS ts, coalesce(octet_length(html), 0)::DOUBLE AS hlen,
       coalesce(length(text), 0)::DOUBLE AS tlen, lang
FROM read_parquet('{path}/*.parquet')
WHERE url IS NOT NULL AND warc_ts IS NOT NULL;
CREATE TABLE pts AS
SELECT bucket, 'doc_count' AS metric, ts, 1.0::DOUBLE AS value FROM pages
UNION ALL
SELECT bucket, 'byte_size', ts, hlen FROM pages
UNION ALL
SELECT bucket, 'text_chars', ts, tlen FROM pages
UNION ALL
SELECT bucket, 'lang_rate:' || coalesce(lang, 'unknown'), ts, 1.0::DOUBLE FROM pages;
"""


def to_us(t: dt.datetime) -> int:
    """Naive UTC datetime (Spark collect with TZ=UTC) → epoch µs."""
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def _compare(name: str, got: dict, want: dict) -> list[str]:
    """Key sets must match; values (tuples) must match within tolerance."""
    problems = []
    missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
    if missing or extra:
        problems.append(
            f"{name}: {len(missing)} rows missing, {len(extra)} unexpected "
            f"(e.g. {sorted(missing or extra, key=str)[:2]})"
        )
    for k in want.keys() & got.keys():
        g, w = got[k], want[k]
        if not all(close(a, b) for a, b in zip(g, w)):
            problems.append(f"{name}: {k} got {g} want {w}")
            break
    return problems


class Oracle:
    def __init__(self, web_pages: str):
        self.db = duckdb.connect()
        self.db.execute("SET threads = 2")
        self.db.execute(_POINTS_SQL.format(nb=N_BUCKETS, path=web_pages))
        self.n_pages = self.db.execute("SELECT count(*) FROM pages").fetchone()[0]

    def close(self) -> None:
        self.db.close()

    # ---- fixture facts ---------------------------------------------------

    def chunk_hours(self) -> list[int]:
        """Sorted hour-chunk starts (epoch µs) present in the fixture."""
        rows = self.db.execute(
            "SELECT DISTINCT ts // 3600000000 * 3600000000 FROM pages ORDER BY 1"
        ).fetchall()
        return [r[0] for r in rows]

    def pages_in(self, lo_us: int, hi_us: int) -> int:
        return self.db.execute(
            "SELECT count(*) FROM pages WHERE ts >= ? AND ts < ?", [lo_us, hi_us]
        ).fetchone()[0]

    # ---- stored-output readers ------------------------------------------

    def _stored(self, state: str, table: str, part: str = "*") -> str:
        return f"read_parquet('{state}/{table}/chunk_key={part}/*.parquet')"

    def _tier_rows(self, src: str) -> dict:
        rows = self.db.execute(
            f"SELECT bucket, metric, epoch_us(window_start), cnt, sum_value, "
            f"min_value, max_value FROM {src}"
        ).fetchall()
        return {(r[0], r[1], r[2]): tuple(r[3:]) for r in rows}

    def _ref_rollup(self, width_us: int, where: str = "TRUE") -> dict:
        rows = self.db.execute(
            f"SELECT bucket, metric, ts // {width_us} * {width_us} AS w, "
            f"count(*), sum(value), min(value), max(value) FROM pts "
            f"WHERE {where} GROUP BY ALL"
        ).fetchall()
        return {(r[0], r[1], r[2]): tuple(r[3:]) for r in rows}

    # ---- checks ----------------------------------------------------------

    def check_catchup(self, state: str) -> list[str]:
        """Full rollup_1d tier, and rollup_1m per-metric totals."""
        problems = _compare(
            "rollup_1d",
            self._tier_rows(self._stored(state, "rollup_1d")),
            self._ref_rollup(86_400_000_000),
        )
        got = self.db.execute(
            f"SELECT metric, count(*), sum(cnt), sum(sum_value) "
            f"FROM {self._stored(state, 'rollup_1m')} GROUP BY metric"
        ).fetchall()
        want = self.db.execute(
            "SELECT metric, count(DISTINCT (bucket, ts // 60000000)), count(*), "
            "sum(value) FROM pts GROUP BY metric"
        ).fetchall()
        problems += _compare(
            "rollup_1m totals",
            {r[0]: tuple(r[1:]) for r in got},
            {r[0]: tuple(r[1:]) for r in want},
        )
        return problems

    def check_hour_1m(self, state: str, hour_us: int) -> list[str]:
        """Every rollup_1m row of one ticked hour."""
        key = (EPOCH + dt.timedelta(microseconds=hour_us)).strftime("%Y-%m-%d-%H")
        return _compare(
            f"rollup_1m[{key}]",
            self._tier_rows(self._stored(state, "rollup_1m", key)),
            self._ref_rollup(
                60_000_000, f"ts >= {hour_us} AND ts < {hour_us + 3_600_000_000}"
            ),
        )

    def blocks_bytes_per_point(self, state: str) -> float:
        b, n = self.db.execute(
            f"SELECT sum(octet_length(ts_block) + octet_length(val_block)), "
            f"sum(n_points) FROM {self._stored(state, 'blocks')}"
        ).fetchone()
        return b / n

    # ---- dashboard references -------------------------------------------

    def tier_read(self, state: str, q: dict) -> dict:
        """The re-rolled series a tier read must return: (bucket, metric,
        window µs) → (value,), with fill/rate shaping applied."""
        step = q["step_s"] * 1_000_000
        tier = {86400: "rollup_1d", 3600: "rollup_1h"}.get(
            next(s for s in (86400, 3600, 60) if q["step_s"] % s == 0), "rollup_1m"
        )
        where = (
            f"epoch_us(window_start) >= {q['start_us']} "
            f"AND epoch_us(window_start) < {q['end_us']} "
            f"AND regexp_full_match(metric, '{q['metric']}')"
        )
        if q.get("bucket") is not None:
            where += f" AND bucket = {q['bucket']}"
        rows = self.db.execute(
            f"SELECT bucket, metric, epoch_us(window_start) // {step} * {step}, "
            f"sum(cnt), sum(sum_value), min(min_value), max(max_value) "
            f"FROM {self._stored(state, tier)} WHERE {where} GROUP BY ALL"
        ).fetchall()
        tuples = {(r[0], r[1], r[2]): r[3:] for r in rows}
        if q.get("fill") == "zero":
            for b, m in {(k[0], k[1]) for k in tuples}:
                for w in range(q["start_us"], q["end_us"], step):
                    tuples.setdefault((b, m, w), (0, 0.0, None, None))
        agg = q["agg"]

        def value(t):
            cnt, s, mn, mx = t
            return {"sum": s, "min": mn, "max": mx, "cnt": float(cnt),
                    "avg": s / cnt if cnt else None}[agg]

        out = {k: value(t) for k, t in tuples.items()}
        if q.get("rate"):
            prev: dict = {}
            rated = {}
            for k in sorted(out, key=lambda k: (k[0], k[1], k[2])):
                p = prev.get((k[0], k[1]))
                v = out[k]
                rated[k] = None if p is None or v is None or p[0] is None \
                    else (v - p[0]) / q["step_s"]
                prev[(k[0], k[1])] = (v,)
            out = rated
        return {k: (v,) for k, v in out.items()}

    def raw_window_stats(self, q: dict) -> list[tuple]:
        """Raw-point rows per (bucket, metric, window) over the query range:
        p95, min, max, first ts, last ts."""
        step = q["step_s"] * 1_000_000
        where = (
            f"ts >= {q['start_us']} AND ts < {q['end_us']} "
            f"AND regexp_full_match(metric, '{q['metric']}')"
        )
        return self.db.execute(
            f"SELECT bucket, metric, ts // {step} * {step}, "
            f"quantile_cont(value, 0.95), min(value), max(value), min(ts), max(ts) "
            f"FROM pts WHERE {where} GROUP BY ALL"
        ).fetchall()

    def check_query(self, state: str, q: dict, rows: list) -> list[str]:
        kind = q["kind"]
        if kind == "stat":
            want = {(r[0], r[1], r[2]): (r[3],) for r in self.raw_window_stats(q)}
            got = {
                (r["bucket"], r["metric"], to_us(r["window_start"])): (r["value"],)
                for r in rows
            }
            return _compare(f"p95 {q['label']}", got, want)
        if kind == "m4":
            want = {
                (r[0], r[1], r[2] // 1_000_000): (r[4], r[5], r[6], r[7])
                for r in self.raw_window_stats(q)
            }
            got = {
                (r["bucket"], r["metric"], r["ws"]):
                (r["v_min"], r["v_max"], r["t_first"], r["t_last"])
                for r in rows
            }
            return _compare(f"m4 {q['label']}", got, want)
        want = self.tier_read(state, q)
        got = {
            (r["bucket"], r["metric"], to_us(r["window_start"])): (r["value"],)
            for r in rows
        }
        return _compare(f"{kind} {q['label']}", got, want)
