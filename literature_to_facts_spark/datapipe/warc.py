"""WARC record parsing — the Common-Crawl container format.

The raw unit of a web-scale text pipeline is not a page but a WARC file:
concatenated ``WARC/1.0`` records (request/response/metadata/...) each
carrying a header block and a body.  :func:`parse_warc` explodes a WARC
payload column into one row per record with the fields the downstream
stages key on (type, target URI, fetch timestamp, declared length, body)
— feeding :func:`~literature_to_facts_spark.datapipe.urls.url_latest_snapshot`
(re-crawl collapse needs ``warc_ts``) and the html extraction lane.

Documented subset: the payload is TEXT (gzip/chunked transfer belong to
the fetch layer); record
bodies are delimited by the header blank line and the inter-record
``\\r\\n\\r\\n`` terminator rather than ``Content-Length`` byte slicing
(Spark string ops are codepoint-, not byte-, indexed; the declared length
is still EMITTED so a consumer can validate).  Header field names match
case-insensitively per the WARC spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one capture group each; (?im) — field names case-insensitive, anchored to
# line starts within the header block; values run to end-of-line (\r stays
# out of the class so the captured value is clean)
WARC_HEADER_PATTERNS = {
    "warc_type": r"(?im)^WARC-Type:[ \t]*([^\r\n]*)",
    "target_uri": r"(?im)^WARC-Target-URI:[ \t]*([^\r\n]*)",
    "warc_date": r"(?im)^WARC-Date:[ \t]*([^\r\n]*)",
    "content_length": r"(?im)^Content-Length:[ \t]*([0-9]+)",
}

_WARC_INTERNAL_COLS = frozenset({"_rec"})
_CRLF2 = "\r\n\r\n"


def parse_warc(
    docs: DataFrame,
    warc_col: str = "warc",
    carry_cols: tuple = (),
) -> DataFrame:
    """Explode a WARC payload into records: ``([carry...,] warc_type,
    target_uri, warc_date, warc_ts_us, content_length, body)``.

    * records split on the ``WARC/1.0`` version line (the leading
      pre-record fragment is dropped, as is anything without a blank-line
      header terminator);
    * ``warc_ts_us`` is the WARC-Date as epoch MICROSECONDS (bigint, NULL
      when absent/unparseable — ``try_cast``, never a throw under ANSI);
    * ``content_length`` the declared byte count (bigint, NULL when
      absent);
    * ``body`` everything after the header blank line with ONE trailing
      record terminator trimmed ('' for header-only records);
    * absent header fields are NULL, not ''.

    Scale shape: per-row split + regex battery fused into the scan — zero
    shuffle; the explode drops the raw payload column first so records
    never carry the file.  NULL payloads contribute nothing.
    """
    clash = sorted(
        (
            _WARC_INTERNAL_COLS
            | {
                "warc_type",
                "target_uri",
                "warc_date",
                "warc_ts_us",
                "content_length",
                "body",
            }
        )
        & set(docs.columns)
    )
    if clash:
        raise ValueError(
            f"input columns {clash} collide with parse_warc "
            "internals/outputs; rename them first"
        )
    recs = docs.where(F.col(warc_col).isNotNull()).select(
        *[F.col(c) for c in carry_cols],
        F.explode(
            F.slice(
                F.split(F.col(warc_col), r"WARC/1\.0\r\n"),
                2,
                2_147_483_647,
            )
        ).alias("_rec"),
    )
    hdr_end = F.instr(F.col("_rec"), _CRLF2)
    header = F.substring(F.col("_rec"), 1, hdr_end - 1)
    body_raw = F.expr(
        f"substring(_rec, instr(_rec, '{_CRLF2}') + 4)"
    )
    # trim ONE trailing inter-record terminator (the last record may lack it)
    body = F.regexp_replace(body_raw, r"\r\n\r\n$", "")
    # trim BOTH sides of the captured value (the [^\r\n]* capture keeps
    # trailing spaces; field values are surrounded by optional whitespace
    # per the spec) and treat empty as absent (NULL)
    field = lambda pat: F.nullif(  # noqa: E731
        F.trim(F.regexp_extract(header, pat, 1)), F.lit("")
    )
    out = recs.where(hdr_end > 0).withColumns(
        {
            "warc_type": field(WARC_HEADER_PATTERNS["warc_type"]),
            "target_uri": field(WARC_HEADER_PATTERNS["target_uri"]),
            "warc_date": field(WARC_HEADER_PATTERNS["warc_date"]),
            "content_length": F.expr(
                f"try_cast(regexp_extract(substring(_rec, 1,"
                f" instr(_rec, '{_CRLF2}') - 1),"
                f" '{WARC_HEADER_PATTERNS['content_length']}', 1) as bigint)"
            ),
            "body": body,
        }
    )
    return out.withColumns(
        {
            "warc_ts_us": F.expr(
                "unix_micros(try_cast(warc_date as timestamp))"
            ).cast("bigint")
        }
    ).drop("_rec")
