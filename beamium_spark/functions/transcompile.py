"""Prometheus → GTS transcompilation as DataFrame column transforms.

Reference: ``format_prometheus`` /root/reference/src/lib/transcompiler.rs:38-109
and ``format_warp10`` (sensision passthrough) :33-35. Behaviors preserved:

- trim; drop ``#`` comments and blank lines (:42-44);
- drop ``+Inf``/``-Inf``/``nan``/``NaN`` values (:57-60);
- class/value split at the *last* ``}`` when labels present, else first
  space (:47-52);
- timestamp: 3rd token is Prometheus **milliseconds** → ×1000 µs; missing
  or unparsable → the batch-constant "now" in µs (:62-66);
- class and label keys/values are RFC-3986 percent-encoded, everything but
  unreserved chars (``urlencoding::encode``, :71, :87) — `%`→`%25`,
  space→`%20`, `+`→`%2B` per golden vectors :164-194;
- label values are double-quote-delimited; quotes stripped (:80-83).

Everything except the percent-encoding + quoted-label parse is JVM-side
Catalyst expression; that remainder is one Arrow-vectorized pandas UDF
(no per-row Python UDFs, per BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from urllib.parse import quote

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LABEL_RE = re.compile(r'([^=,{}"\s]+)\s*=\s*"([^"]*)"')

_ENTRY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("value", T.StringType(), True),
        ]
    )
)


@F.pandas_udf(T.StringType())
def url_encode_rfc3986(s: pd.Series) -> pd.Series:
    """Percent-encode all but RFC-3986 unreserved chars — byte-for-byte the
    reference's ``urlencoding::encode`` (src/lib/transcompiler.rs:5, :71)."""
    return s.map(lambda x: quote(x, safe="") if x is not None else None)


@F.pandas_udf(_ENTRY_TYPE)
def _parse_label_body(s: pd.Series) -> pd.Series:
    """``k1="v1",k2="v2"`` → [(enc(k), enc(v)), ...], preserving order.

    Quote-aware like the reference's char loop (transcompiler.rs:76-101);
    both parts percent-encoded (:87).
    """

    def parse(body):
        if body is None:
            return []
        return [
            {"key": quote(k, safe=""), "value": quote(v, safe="")}
            for k, v in _LABEL_RE.findall(body)
        ]

    return s.map(parse)


def transcompile_sensision(line: Column) -> Column:
    """Sensision dialect is passed through trimmed (transcompiler.rs:33-35)."""
    return F.trim(line)


def parse_prometheus(df: DataFrame, line_col: str, now_us: int) -> DataFrame:
    """Lines → columns (ts_us, cls, labels map, value string), dropped rows
    filtered out; the other columns of ``df`` lead, unchanged. ``now_us``
    is the batch-constant scrape time (one value per pass,
    transcompiler.rs:16-22)."""
    line = F.trim(F.col(line_col))
    has_labels = line.contains("{")
    # class part: up to last '}' if labeled, else the first token
    cls_raw = F.when(
        has_labels, F.regexp_extract(line, r"^(.*\})", 1)
    ).otherwise(F.regexp_extract(line, r"^(\S+)\s", 1))
    cls_len = F.when(
        has_labels, F.length(F.regexp_extract(line, r"^(.*\})", 1))
    ).otherwise(F.length(F.regexp_extract(line, r"^(\S+)", 1)))
    rest = F.ltrim(line.substr(cls_len + 1, F.lit(1 << 20)))
    value = F.get(F.split(rest, r"\s+"), 0)
    ts_tok = F.get(F.split(rest, r"\s+"), 1)
    ts_us = F.when(
        ts_tok.rlike(r"^-?\d+$"), ts_tok.cast("long") * 1000
    ).otherwise(F.lit(now_us))

    cls_name = F.trim(F.regexp_extract(cls_raw, r"^([^{]*)", 1))
    label_body = F.when(
        has_labels, F.regexp_extract(cls_raw, r"\{(.*)\}\s*$", 1)
    ).otherwise(F.lit(None).cast("string"))

    out = (
        df.withColumn("__line", line)
        .filter(
            (F.col("__line") != "")
            & ~F.col("__line").startswith("#")
            # labeled line with no closing '}' is a parse error → dropped
            # (reference: rfind('}') fails → Err, transcompiler.rs:48)
            & ~(has_labels & (cls_raw == ""))
            & value.isNotNull()
            & (value != "")
            & ~value.isin("+Inf", "-Inf", "nan", "NaN")
        )
        .select(
            *[c for c in df.columns if c != line_col],
            ts_us.alias("ts_us"),
            url_encode_rfc3986(cls_name).alias("cls"),
            F.map_from_entries(
                F.coalesce(_parse_label_body(label_body), F.array().cast(_ENTRY_TYPE))
            ).alias("labels"),
            value.alias("value"),
        )
    )
    return out


def transcompile_prometheus(df: DataFrame, line_col: str, now_us: int) -> DataFrame:
    """Lines → one ``gts`` string column, skipped lines dropped — the
    end-to-end shape of ``format_prometheus`` (transcompiler.rs:108)."""
    from beamium_spark.functions.labels import format_gts_line

    cols = parse_prometheus(df, line_col, now_us)
    return cols.select(
        format_gts_line(
            F.col("ts_us"), F.col("cls"), F.col("labels"), F.col("value")
        ).alias("gts")
    )
