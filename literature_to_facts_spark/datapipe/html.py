"""HTML -> text extraction for the web-page input table.

The engine's input schema carries the raw page (``html binary``) alongside
the extracted ``text`` (BASELINE.json input_hint); production crawls run a
strip stage between them.  This module is that stage as a pure JVM-side
regexp/replace chain — zero Python, zero shuffle, scan-fused — covering the
deterministic part of extraction (script/style/comment removal, tag strip,
basic entity decode, whitespace collapse).  :func:`html_main_content` adds
the shallow-feature boilerplate heuristic (block splitting + link density,
Boilerpipe/jusText-style) — still DOM-free and expression-only; DOM-based
learned models (trafilatura-class) stay out of scope.  Pair with
:func:`~literature_to_facts_spark.datapipe.textclean.line_dedup` — corpus
line frequencies remove the nav/footer boilerplate a single page can't
reveal.

Every pattern stays in the RE2-compatible subset ((?is) inline flags and
non-greedy repetition are RE2-safe; no lookaround/backrefs) and whitespace
uses the explicit ``[ \\t\\n\\x0B\\f\\r]`` class, so the DuckDB oracle
recomputes the chain verbatim — patterns live ONLY here and oracles
interpolate them (the PII_PATTERNS contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# applied IN ORDER; (pattern, replacement) — replacement syntax shared by
# Java and RE2 (no backrefs used)
HTML_STRIP_PATTERNS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
]

# entity decode AFTER tag strip; '&amp;' decodes LAST so '&amp;lt;' yields
# the literal '&lt;' (single-pass decode, the lxml/html.unescape order)
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

_WS_CLASS = r"[ \t\n\x0B\f\r]+"  # explicit: Java \s includes U+000B, RE2 does not

# anchor href extraction — three quote styles, each a separate RE2-safe
# pattern with ONE capture group (double-quoted, single-quoted, unquoted).
# A given href matches exactly one (the char after '=' decides), so
# concatenating the three extract-all arrays never double-counts.
_A_WS = r"[ \t\n\x0B\f\r]"
HREF_PATTERNS: list[str] = [
    rf'(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*"([^"]*)"',
    rf"(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*'([^']*)'",
    rf"""(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*([^"' \t\n\x0B\f\r>][^ \t\n\x0B\f\r>]*)""",
]

# anchor (href, inner-html) PAIR extraction — the same three quote styles
# with TWO capture groups (1 = href, 2 = inner html up to the first </a>).
# Needs a closing </a>, so it is deliberately narrower than HREF_PATTERNS
# (a tagless bare <a href=...> emits a link but no anchor text); nested
# anchors end at the first close tag (RE2-safe non-greedy).
ANCHOR_PAIR_PATTERNS: list[str] = [
    rf'(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*"([^"]*)"[^>]*>(.*?)</a{_A_WS}*>',
    rf"(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*'([^']*)'[^>]*>(.*?)</a{_A_WS}*>",
    rf"""(?is)<a{_A_WS}[^>]*href{_A_WS}*={_A_WS}*([^"' \t\n\x0B\f\r>][^ \t\n\x0B\f\r>]*)[^>]*>(.*?)</a{_A_WS}*>""",
]

# a link carrying its own scheme ('javascript:', 'mailto:', 'https://...')
LINK_SCHEME_PATTERN = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
HTTP_LINK_PATTERN = r"(?i)^https?://"

_LINK_INTERNAL_COLS = frozenset(
    {
        "_html_txt", "_hrefs", "_href_raw", "_href",
        "_pg_scheme", "_pg_base", "_pg_dir", "_pg_valid", "_resolved",
    }
)


def html_extract_text(
    docs: DataFrame,
    html_col: str = "html",
    output_col: str = "extracted_text",
) -> DataFrame:
    """Extract display text from raw HTML: drop script/style/comment
    blocks, strip tags, decode the six common entities, collapse
    whitespace, trim.  ``html_col`` may be binary (decoded as ASCII with
    U+FFFD replacement — the reference's ``decode('ascii', 'replace')``
    invariant, /root/reference/facts/gcn.py:39) or string.  NULL in, NULL
    out.

    Scale shape: a per-row regexp_replace chain fused into the scan — zero
    shuffle, no Python.  Each pattern is a separate pass over the string
    (bounded constant factor); the non-greedy block patterns are linear in
    RE2 and Java alike.
    """
    if output_col in docs.columns:
        raise ValueError(
            f"output column {output_col!r} already exists; rename it first"
        )
    col = F.col(html_col)
    if dict(docs.dtypes)[html_col] == "binary":
        # ANSI mode makes decode(.., 'US-ASCII') THROW on non-ascii bytes;
        # latin-1 is a total bytes->chars map, so decode with it and replace
        # the high range with U+FFFD — byte-identical to python's
        # decode('ascii', 'replace') (verified in tests)
        col = F.regexp_replace(
            F.decode(col, "ISO-8859-1"), r"[^\x00-\x7F]", "�"
        )
    for pat, repl in HTML_STRIP_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    for ent, ch in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    col = F.trim(F.regexp_replace(col, _WS_CLASS, " "))
    return docs.withColumns({output_col: col})


def _decoded_html(docs: DataFrame, html_col: str):
    """html column as a string expression (binary decoded as latin-1 with
    the high range replaced by U+FFFD — the ascii-replace invariant)."""
    col = F.col(html_col)
    if dict(docs.dtypes)[html_col] == "binary":
        col = F.regexp_replace(F.decode(col, "ISO-8859-1"), r"[^\x00-\x7F]", "�")
    return col


def _page_part_cols(url_col: str) -> dict:
    """The page-URL resolution parts (``_pg_valid/_pg_scheme/_pg_base/
    _pg_dir``) as a withColumns dict — shared by the link and anchor
    extractors so their RFC-3986-subset resolution is ONE definition."""
    from .urls import URL_PATTERN

    url = F.col(url_col)
    host_raw = F.regexp_extract(url, URL_PATTERN, 2)
    pg_valid = F.when(url.isNotNull(), host_raw != F.lit(""))
    scheme = F.lower(F.regexp_extract(url, URL_PATTERN, 1))
    port_s = F.regexp_extract(url, URL_PATTERN, 3)
    base = F.concat(
        scheme,
        F.lit("://"),
        F.lower(host_raw),
        F.when(port_s == F.lit(""), F.lit("")).otherwise(
            F.concat(F.lit(":"), port_s)
        ),
    )
    path = F.regexp_extract(url, URL_PATTERN, 4)
    pg_dir = F.when(path == F.lit(""), F.lit("/")).otherwise(
        F.regexp_extract(path, r"(?s)^(.*/)", 1)
    )
    return {
        "_pg_valid": pg_valid,
        "_pg_scheme": F.when(pg_valid, scheme),
        "_pg_base": F.when(pg_valid, base),
        "_pg_dir": F.when(pg_valid, pg_dir),
    }


def _resolve_href_expr():
    """Resolve the projected ``_href`` against the ``_pg_*`` page parts
    (NULL = dropped): absolute http(s) passes, other schemes drop,
    protocol-/root-/dir-relative concatenate — the documented RFC 3986
    subset, one definition for links and anchors."""
    h = F.col("_href")
    has_scheme = h.rlike(LINK_SCHEME_PATTERN)
    is_http = h.rlike(HTTP_LINK_PATTERN)
    return (
        F.when(h == F.lit(""), F.lit(None).cast("string"))
        .when(has_scheme & is_http, h)
        .when(has_scheme, F.lit(None).cast("string"))
        .when(~F.col("_pg_valid"), F.lit(None).cast("string"))
        .when(
            h.startswith("//"),
            F.concat(F.col("_pg_scheme"), F.lit(":"), h),
        )
        .when(h.startswith("/"), F.concat(F.col("_pg_base"), h))
        .otherwise(F.concat(F.col("_pg_base"), F.col("_pg_dir"), h))
    )


def html_extract_links(
    docs: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    link_col: str = "link_url",
    host_col: str = "link_host",
    dedup: bool = False,
) -> DataFrame:
    """Extract anchor hrefs from raw HTML and resolve them against the
    page URL — the stage that turns a crawl table into a ``(src, dst)``
    link edge list.  One output row per extracted link: all input columns EXCEPT
    ``html_col`` (dropped so the explode never copies the raw page per
    link) plus ``link_col`` (the resolved absolute URL, fragment stripped)
    and ``host_col`` (its lowercased host).

    Resolution semantics (RFC 3986 subset, documented not silent):
    absolute ``http(s)`` links pass through; other schemes
    (``javascript:``, ``mailto:``, ``ftp:``) are dropped;
    protocol-relative ``//host/p`` takes the page scheme; root-relative
    ``/p`` takes ``scheme://host[:port]``; everything else resolves
    against the page path's directory (no ``..`` segment normalization —
    crawl graphs compare the unnormalized form).  Fragment-only / empty
    hrefs are dropped; relative links on an invalid or NULL page URL are
    dropped (nothing to resolve against); pages with no links emit no
    rows; every emitted ``link_col`` is an absolute http(s) URL (a
    relative link inheriting a non-http page scheme is filtered, not
    emitted).  Pattern battery (:data:`HREF_PATTERNS`) covers double-quoted /
    single-quoted / unquoted hrefs and stays RE2-safe so the DuckDB
    oracle replays it verbatim.

    Scale shape: extract-all + resolution fuse into the scan (the decoded
    html and the page parts are projected ONCE each before the HOF /
    multi-consumer expressions — repo invariant); the only wide op is the
    optional ``dedup`` distinct.  Reference tie: the reference builds its
    citation graph from in-text links (facts/common.py:22-35); this is
    the crawl-scale analog over raw pages.
    """
    clash = sorted(_LINK_INTERNAL_COLS & set(docs.columns))
    if clash:
        raise ValueError(
            f"input columns {clash} collide with html_extract_links "
            "internals; rename them first"
        )
    for out_name in (link_col, host_col):
        if out_name in docs.columns:
            raise ValueError(
                f"output column {out_name!r} already exists; rename it first"
            )
    from .urls import URL_PATTERN

    # decoded html projected once (three extract-all consumers)
    staged = docs.withColumns({"_html_txt": _decoded_html(docs, html_col)})
    hrefs = F.concat(
        *[
            F.regexp_extract_all(F.col("_html_txt"), F.lit(p), 1)
            for p in HREF_PATTERNS
        ]
    )
    staged = staged.withColumns(
        {"_hrefs": hrefs, **_page_part_cols(url_col)}
    ).drop(html_col, "_html_txt")
    exploded = staged.withColumns(
        {"_href_raw": F.explode(F.col("_hrefs"))}
    ).drop("_hrefs")
    # trim + strip fragment, projected once (six consumers below)
    exploded = exploded.withColumns(
        {"_href": F.substring_index(F.trim(F.col("_href_raw")), "#", 1)}
    )
    out = (
        exploded.withColumns({"_resolved": _resolve_href_expr()})
        # every output link is an absolute http(s) URL: relative links
        # inherit the page scheme, so a link resolved against an ftp://
        # page is filtered here, not silently emitted
        .where(
            F.col("_resolved").isNotNull()
            & F.col("_resolved").rlike(HTTP_LINK_PATTERN)
        )
        .withColumns(
            {
                link_col: F.col("_resolved"),
                host_col: F.lower(
                    F.regexp_extract(F.col("_resolved"), URL_PATTERN, 2)
                ),
            }
        )
        .drop(
            "_href_raw", "_href", "_resolved",
            "_pg_valid", "_pg_scheme", "_pg_base", "_pg_dir",
        )
    )
    return out.distinct() if dedup else out


_ANCHOR_INTERNAL_COLS = _LINK_INTERNAL_COLS | {"_pairs", "_pair", "_anchor_raw"}


def html_extract_anchors(
    docs: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    link_col: str = "link_url",
    host_col: str = "link_host",
    anchor_col: str = "anchor_text",
) -> DataFrame:
    """:func:`html_extract_links` plus the anchor TEXT: one row per
    ``<a href=...>inner</a>`` element with the resolved absolute URL, its
    host, and the anchor's display text (inner HTML with nested tags
    stripped, whitespace collapsed, trimmed; case preserved — casefold in
    the aggregation, not the extraction).  Anchor text is the classic
    web-KG naming signal: what the web *calls* a page is how crawl-scale
    KGs label entities and rank aliases.

    Same resolution semantics as :func:`html_extract_links` (shared
    helpers, one definition), same RE2-safe battery shape — but pairs need
    a closing ``</a>``, so bare unclosed anchors emit nothing here while
    still emitting a link there (documented, not silent).  The
    (href, text) arrays come from the SAME pattern's group 1 and group 2,
    so they are always aligned; ``zip_with`` pairs them before ONE
    explode.

    Scale shape: per-row extract/resolve fused into the scan, zero
    shuffle, no Python; the decoded html is projected once before the six
    extract-all consumers (repo invariant).
    """
    clash = sorted(_ANCHOR_INTERNAL_COLS & set(docs.columns))
    if clash:
        raise ValueError(
            f"input columns {clash} collide with html_extract_anchors "
            "internals; rename them first"
        )
    for out_name in (link_col, host_col, anchor_col):
        if out_name in docs.columns:
            raise ValueError(
                f"output column {out_name!r} already exists; rename it first"
            )
    from .urls import URL_PATTERN

    staged = docs.withColumns({"_html_txt": _decoded_html(docs, html_col)})
    pair_arrays = [
        F.zip_with(
            F.regexp_extract_all(F.col("_html_txt"), F.lit(p), 1),
            F.regexp_extract_all(F.col("_html_txt"), F.lit(p), 2),
            lambda h, t: F.struct(h.alias("h"), t.alias("t")),
        )
        for p in ANCHOR_PAIR_PATTERNS
    ]
    staged = staged.withColumns(
        {"_pairs": F.concat(*pair_arrays), **_page_part_cols(url_col)}
    ).drop(html_col, "_html_txt")
    exploded = staged.withColumns(
        {"_pair": F.explode(F.col("_pairs"))}
    ).drop("_pairs")
    exploded = exploded.withColumns(
        {
            "_href": F.substring_index(
                F.trim(F.col("_pair").getField("h")), "#", 1
            ),
            "_anchor_raw": F.col("_pair").getField("t"),
        }
    ).drop("_pair")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_anchor_raw"), r"<[^>]+>", " "),
            _WS_CLASS,
            " ",
        )
    )
    return (
        exploded.withColumns({"_resolved": _resolve_href_expr()})
        .where(
            F.col("_resolved").isNotNull()
            & F.col("_resolved").rlike(HTTP_LINK_PATTERN)
        )
        .withColumns(
            {
                link_col: F.col("_resolved"),
                host_col: F.lower(
                    F.regexp_extract(F.col("_resolved"), URL_PATTERN, 2)
                ),
                anchor_col: cleaned,
            }
        )
        .drop(
            "_anchor_raw", "_href", "_resolved",
            "_pg_valid", "_pg_scheme", "_pg_base", "_pg_dir",
        )
    )


def anchor_text_profile(
    links: DataFrame,
    target_col: str = "link_url",
    anchor_col: str = "anchor_text",
    host_col: str | None = "link_host",
    src_host_col: str | None = None,
    k: int = 3,
) -> DataFrame:
    """Inlink anchor-text aggregation per target page — the web-KG entity
    naming table: for every link target, its top-``k`` anchor texts by
    frequency plus inlink evidence counts.  Input is an anchor edge list
    (:func:`html_extract_anchors` output or any (target, anchor[, source
    host]) frame); output one row per target:

    ``(target, n_anchored_inlinks, n_anchors, [n_src_hosts,] top_anchors)``

    with ``top_anchors`` the ``k`` most frequent casefolded anchors joined
    by commas in (count desc, anchor asc) order.  Empty / NULL anchors are
    excluded — an imageless icon link carries no naming signal (documented;
    ``n_anchored_inlinks`` therefore counts anchorED inlinks only).
    ``src_host_col`` names the LINKING page's host column for the
    ``n_src_hosts`` evidence column (how many distinct sites agree on the
    name — link-farm resistance); pass ``None`` to skip it.

    Scale shape: one (target, anchor)-keyed count (map-side partial — a
    hot target named the same way everywhere folds in the mappers), a
    target-keyed evidence aggregation, and a window ONLY over the already
    aggregated per-(target, anchor) rows (bounded by distinct anchors per
    target, not by inlinks).  The final target-keyed join is between two
    frames already partitioned compatibly.  ``host_col`` is accepted for
    API symmetry with :func:`html_extract_anchors` output but unused
    unless ``src_host_col`` points at it.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    cols = [
        F.col(target_col).alias("target"),
        F.lower(F.col(anchor_col)).alias("_a"),
    ]
    if src_host_col is not None:
        cols.append(F.col(src_host_col).alias("_sh"))
    base = links.where(
        F.col(anchor_col).isNotNull() & (F.col(anchor_col) != "")
    ).select(*cols)
    per_anchor = base.groupBy("target", "_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    w = Window.partitionBy("target").orderBy(
        F.desc("_n"), F.asc("_a")
    )
    topk = (
        per_anchor.withColumns({"_rn": F.row_number().over(w)})
        .where(F.col("_rn") <= int(k))
        .groupBy("target")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "_a"))),
                    lambda x: x.getField("_a"),
                ),
                ",",
            ).alias("top_anchors")
        )
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_anchored_inlinks"),
        F.countDistinct("_a").cast("bigint").alias("n_anchors"),
    ]
    if src_host_col is not None:
        aggs.append(F.countDistinct("_sh").cast("bigint").alias("n_src_hosts"))
    stats = base.groupBy("target").agg(*aggs)
    return stats.join(topk, on="target").withColumnsRenamed(
        {"target": target_col}
    )


# robots-meta content extraction — the four RE2-safe attribute orderings
# (name-then-content / content-then-name, double/single-quoted content).  A
# given tag matches exactly one ordering family (the attribute that appears
# first decides), so concatenating the arrays never double-counts a tag.
META_ROBOTS_PATTERNS: list[str] = [
    rf'(?is)<meta{_A_WS}[^>]*name{_A_WS}*={_A_WS}*["\']robots["\'][^>]*content{_A_WS}*={_A_WS}*"([^"]*)"',
    rf"(?is)<meta{_A_WS}[^>]*name{_A_WS}*={_A_WS}*[\"']robots[\"'][^>]*content{_A_WS}*={_A_WS}*'([^']*)'",
    rf'(?is)<meta{_A_WS}[^>]*content{_A_WS}*={_A_WS}*"([^"]*)"[^>]*name{_A_WS}*={_A_WS}*["\']robots["\']',
    rf"(?is)<meta{_A_WS}[^>]*content{_A_WS}*={_A_WS}*'([^']*)'[^>]*name{_A_WS}*={_A_WS}*[\"']robots[\"']",
]

# rel=canonical link href — same four-orderings battery
CANONICAL_PATTERNS: list[str] = [
    rf'(?is)<link{_A_WS}[^>]*rel{_A_WS}*={_A_WS}*["\']canonical["\'][^>]*href{_A_WS}*={_A_WS}*"([^"]*)"',
    rf"(?is)<link{_A_WS}[^>]*rel{_A_WS}*={_A_WS}*[\"']canonical[\"'][^>]*href{_A_WS}*={_A_WS}*'([^']*)'",
    rf'(?is)<link{_A_WS}[^>]*href{_A_WS}*={_A_WS}*"([^"]*)"[^>]*rel{_A_WS}*={_A_WS}*["\']canonical["\']',
    rf"(?is)<link{_A_WS}[^>]*href{_A_WS}*={_A_WS}*'([^']*)'[^>]*rel{_A_WS}*={_A_WS}*[\"']canonical[\"']",
]

_META_INTERNAL_COLS = frozenset({"_html_txt", "_robots_norm", "_canon_arr"})


def html_meta_directives(
    docs: DataFrame,
    html_col: str = "html",
    noindex_col: str = "robots_noindex",
    nofollow_col: str = "robots_nofollow",
    canonical_col: str = "canonical_href",
) -> DataFrame:
    """Per-page crawl directives from raw HTML — the gate every production
    crawl pipeline runs before indexing/training on a page:

    * ``robots_noindex`` / ``robots_nofollow`` — true iff any
      ``<meta name="robots">`` content carries the directive (``none``
      implies both, per the robots-meta spec); a page with no robots meta
      is indexable (both false, never NULL for non-NULL html).
    * ``canonical_href`` — the first ``<link rel="canonical">`` href in
      battery order (trimmed, fragment stripped; NULL when absent).  The
      standard dedup assist: group crawl variants by their declared
      canonical before content-hash dedup.

    Directive matching tokenizes on commas with whitespace stripped
    (``content="noindex, nofollow"``), so ``noindexing`` or ``no index``
    never false-positive.  Patterns (:data:`META_ROBOTS_PATTERNS`,
    :data:`CANONICAL_PATTERNS`) cover both attribute orderings and both
    quote styles, stay in the RE2-compatible subset, and live ONLY here —
    the DuckDB oracle interpolates them verbatim (the PII_PATTERNS
    contract).

    Scale shape: scan-fused per-row regexes, zero shuffle, no Python; the
    decoded html is projected ONCE before the eight extract-all consumers
    (repo invariant).  NULL html propagates NULL to all three outputs.
    """
    clash = sorted(_META_INTERNAL_COLS & set(docs.columns))
    if clash:
        raise ValueError(
            f"input columns {clash} collide with html_meta_directives "
            "internals; rename them first"
        )
    for out_name in (noindex_col, nofollow_col, canonical_col):
        if out_name in docs.columns:
            raise ValueError(
                f"output column {out_name!r} already exists; rename it first"
            )
    staged = docs.withColumns({"_html_txt": _decoded_html(docs, html_col)})
    robots = F.concat(
        *[
            F.regexp_extract_all(F.col("_html_txt"), F.lit(p), 1)
            for p in META_ROBOTS_PATTERNS
        ]
    )
    # ',noindex,nofollow,' — lowercased, whitespace stripped, comma-fenced
    # so directive tests are exact-token LIKEs
    robots_norm = F.concat(
        F.lit(","),
        F.regexp_replace(
            F.lower(F.array_join(robots, ",")), _A_WS + "+", ""
        ),
        F.lit(","),
    )
    canon = F.concat(
        *[
            F.regexp_extract_all(F.col("_html_txt"), F.lit(p), 1)
            for p in CANONICAL_PATTERNS
        ]
    )
    staged = staged.withColumns(
        {"_robots_norm": robots_norm, "_canon_arr": canon}
    )
    rn = F.col("_robots_norm")
    has_tok = lambda t: rn.contains(f",{t},")  # noqa: E731
    first_canon = F.element_at(F.col("_canon_arr"), 1)
    return (
        staged.withColumns(
            {
                noindex_col: has_tok("noindex") | has_tok("none"),
                nofollow_col: has_tok("nofollow") | has_tok("none"),
                canonical_col: F.when(
                    F.size("_canon_arr") > 0,
                    F.substring_index(F.trim(first_canon), "#", 1),
                ),
            }
        )
        .drop("_html_txt", "_robots_norm", "_canon_arr")
    )


# block-level tags: opening/closing either of these ends a text block (the
# Boilerpipe/jusText shallow-feature granularity — no DOM needed)
BLOCK_TAG_NAMES = (
    "p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|tr|td|th|br|hr|section|article"
    "|main|header|footer|nav|aside|blockquote|pre|form|fieldset"
)
BLOCK_TAG_PATTERN = rf"(?is)</?(?:{BLOCK_TAG_NAMES})(?:{_A_WS}[^>]*)?/?>"

# an anchor element's inner html (href not required — any link text counts
# toward a block's link density); ends at the first </a> like the pair
# battery
ANCHOR_INNER_PATTERN = rf"(?is)<a(?:{_A_WS}[^>]*)?>(.*?)</a{_A_WS}*>"

INLINE_TAG_PATTERN = r"<[^>]+>"

_MAIN_INTERNAL_COLS = frozenset(
    {"_mc_h", "_mc_stats", "_mc_statsb", "_mc_kept", "_mc_keptb"}
)


def html_main_content(
    docs: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 30,
    max_link_density_pct: int = 33,
    output_col: str = "main_text",
    n_blocks_col: str = "n_blocks",
    n_kept_col: str = "n_kept",
) -> DataFrame:
    """Main-content extraction by shallow block features — the
    Boilerpipe/jusText heuristic (Kohlschütter et al., WSDM 2010) without
    a DOM: split the page into text blocks at block-level tag boundaries
    (:data:`BLOCK_TAG_PATTERN`), score each block by its text length and
    LINK DENSITY (chars of anchor text / chars of text), and keep only
    blocks that are long enough and link-sparse enough.  Navigation bars,
    footers and related-links boxes are short and link-saturated; article
    bodies are long and link-light — the split
    :func:`html_extract_text` (which keeps everything) cannot make.

    Adds three columns: ``main_text`` (kept blocks' display text joined
    with newlines, ``''`` when nothing survives), ``n_blocks`` (blocks
    with any raw text) and ``n_kept``.  A block is kept iff its
    tag-stripped, whitespace-collapsed RAW text has at least
    ``min_block_chars`` chars, its anchor-text chars are at most
    ``max_link_density_pct``% of those (integer cross-multiplication — no
    float ratios, bit-portable), and its entity-decoded display text is
    non-empty.  Density is measured pre-entity-decode (numerator and
    denominator consistently); the OUTPUT text is entity-decoded like
    :func:`html_extract_text`.  NULL html propagates NULL to all three.

    Scale shape: entirely per-row (zero shuffle, no Python) — block
    splitting and per-block scoring run as higher-order functions over the
    block array; each lambda touches only its own block, so work is linear
    in page size.  The multi-consumed block arrays sit behind 1:1
    ``explode(array(...))`` Generate barriers (repo invariant: projections
    cannot collapse through them, so the battery is evaluated once per
    row, not once per consumer).  Patterns live ONLY here; the DuckDB
    oracle interpolates them verbatim (the PII_PATTERNS contract).
    """
    if min_block_chars < 1:
        raise ValueError(f"min_block_chars must be >= 1, got {min_block_chars}")
    if not 0 <= max_link_density_pct <= 100:
        raise ValueError(
            f"max_link_density_pct must be in [0, 100], got {max_link_density_pct}"
        )
    clash = sorted(
        (_MAIN_INTERNAL_COLS | {output_col, n_blocks_col, n_kept_col})
        & set(docs.columns)
    )
    if clash:
        raise ValueError(
            f"input columns {clash} collide with html_main_content "
            "internals/outputs; rename them first"
        )

    def _clean_raw(x):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(x, INLINE_TAG_PATTERN, " "), _WS_CLASS, " "
            )
        )

    def _block_struct(b):
        raw = F.regexp_replace(b, INLINE_TAG_PATTERN, " ")
        dec = raw
        for ent, ch in HTML_ENTITIES:
            dec = F.replace(dec, F.lit(ent), F.lit(ch))
        txt = F.trim(F.regexp_replace(dec, _WS_CLASS, " "))
        link_chars = F.aggregate(
            F.regexp_extract_all(b, F.lit(ANCHOR_INNER_PATTERN), F.lit(1)),
            F.lit(0),
            lambda acc, x: acc + F.length(_clean_raw(x)),
        )
        return F.struct(
            txt.alias("txt"),
            F.length(F.trim(F.regexp_replace(raw, _WS_CLASS, " "))).alias(
                "n_raw"
            ),
            link_chars.alias("link_chars"),
        )

    h = _decoded_html(docs, html_col)
    for pat, repl in HTML_STRIP_PATTERNS[:3]:  # script/style/comments only
        h = F.regexp_replace(h, pat, repl)
    blocks = F.split(F.regexp_replace(h, BLOCK_TAG_PATTERN, "\x1e"), "\x1e")
    staged = (
        docs.withColumn("_mc_stats", F.transform(blocks, _block_struct))
        # Generate barrier: _mc_stats feeds three consumers below
        .withColumn("_mc_statsb", F.explode(F.array("_mc_stats")))
        .withColumn(
            "_mc_kept",
            F.filter(
                "_mc_statsb",
                lambda s: (s.n_raw >= F.lit(int(min_block_chars)))
                & (
                    s.link_chars * F.lit(100)
                    <= F.lit(int(max_link_density_pct)) * s.n_raw
                )
                & (s.txt != F.lit("")),
            ),
        )
        .withColumn("_mc_keptb", F.explode(F.array("_mc_kept")))
    )
    return staged.withColumns(
        {
            n_blocks_col: F.size(
                F.filter("_mc_statsb", lambda s: s.n_raw > 0)
            ).cast("int"),
            n_kept_col: F.size("_mc_keptb").cast("int"),
            output_col: F.array_join(
                F.transform("_mc_keptb", lambda s: s.txt), "\n"
            ),
        }
    ).drop("_mc_stats", "_mc_statsb", "_mc_kept", "_mc_keptb")


_ANCHOR_SEP = "\x1f"  # unit separator: cannot appear in urls/anchors/hosts


def build_anchor_index(
    links: DataFrame,
    target_col: str = "link_url",
    anchor_col: str = "anchor_text",
    src_host_col: str | None = None,
) -> DataFrame:
    """Per-batch partial anchor evidence — the PERSISTED STATE of the
    incremental anchor-text profile: ``(tav_key, target, kind, val, n)``
    with ``kind`` ∈ {'a','h'}: 'a' rows carry a casefolded anchor and its
    anchored-inlink count, 'h' rows a linking-page host (counted for
    compaction, used for existence).

    APPEND-ONLY (the delta-family convention): each batch appends its own
    partials, so a (target, anchor) seen by k batches has k rows;
    per-anchor counts merge by SUM and the distinct-anchor /
    distinct-host evidence merges by counting distinct ``tav_key`` rows
    (existence, the predicate-stats trick — distinct counts can never be
    merged from counts alone); a compaction may merge the partials by
    summing ``n``.  Write with
    ``write_bucketed(..., bucket_col='tav_key')``: the composite key makes
    the touched-row merge groupBy plan with ZERO Exchange over the
    bucketed scan (hash clustering on ``tav_key`` satisfies any grouping
    that includes it).  Empty/NULL anchors are excluded exactly like
    :func:`anchor_text_profile`; source hosts drop only when NULL —
    ``''`` is kept because the full profile's ``countDistinct`` counts it
    (bit-parity of the merge; normalize junk hosts to NULL upstream, as
    the extractors do).
    """
    a = (
        links.where(F.col(anchor_col).isNotNull() & (F.col(anchor_col) != ""))
        .select(
            F.col(target_col).alias("target"),
            F.lit("a").alias("kind"),
            F.lower(F.col(anchor_col)).alias("val"),
        )
    )
    parts = [a]
    if src_host_col is not None:
        parts.append(
            links.where(
                F.col(anchor_col).isNotNull()
                & (F.col(anchor_col) != "")
                & F.col(src_host_col).isNotNull()
            ).select(
                F.col(target_col).alias("target"),
                F.lit("h").alias("kind"),
                F.col(src_host_col).alias("val"),
            )
        )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    return (
        rows.groupBy(
            F.concat_ws(_ANCHOR_SEP, "target", "kind", "val").alias("tav_key"),
            "target",
            "kind",
            "val",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def anchor_text_profile_incremental(
    new_links: DataFrame,
    old_index: DataFrame | None,
    target_col: str = "link_url",
    anchor_col: str = "anchor_text",
    src_host_col: str | None = None,
    k: int = 3,
    cache_registry: list | None = None,
) -> DataFrame:
    """Maintain the anchor-text naming profile under a new crawl batch
    WITHOUT rescanning historical links — the ELEVENTH probe-shaped delta
    family: returns :func:`anchor_text_profile` rows for every target the
    BATCH links to (the profiles that changed), bit-equal to the full
    profile over ``old ∪ new`` restricted to those targets.

    PROBE-shaped: the batch's distinct targets are batch-bounded, so they
    BROADCAST and semi-join-filter the history index AT ITS SCAN — only
    'a'/'h' evidence rows for targets the batch actually touches go
    anywhere (zero Exchange over a ``write_bucketed('tav_key')`` catalog
    table: the touched-row merge groups on ``tav_key``, which the bucketed
    scan's clustering already satisfies).  Merged per-anchor counts SUM
    across batches; the distinct-anchor and distinct-source-host evidence
    counts merge by counting distinct merged rows (existence, never
    count-addition).  Everything downstream of the probe is
    touched-target-sized.  ``old_index=None`` means no history: the first
    batch degenerates to the full profile of the batch.  The caller
    appends ``build_anchor_index(batch)`` after each batch (same loop
    contract as the other ten families); purged pages' contributions
    persist until compaction — conservative, like the line/window
    indexes.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    spark = new_links.sparkSession
    if old_index is None:
        old_index = spark.createDataFrame(
            [], "tav_key string, target string, kind string, val string, n bigint"
        )
    batch_idx = build_anchor_index(
        new_links,
        target_col=target_col,
        anchor_col=anchor_col,
        src_host_col=src_host_col,
    ).persist()
    if cache_registry is not None:
        cache_registry.append(batch_idx)
    batch_targets = batch_idx.select("target").distinct()
    touched = old_index.join(
        F.broadcast(batch_targets), on="target", how="left_semi"
    )
    merged = (
        touched.unionByName(batch_idx)
        .groupBy("tav_key", "target", "kind", "val")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(merged)
    return profile_from_index(
        merged,
        target_col=target_col,
        with_hosts=src_host_col is not None,
        k=k,
        pre_merged=True,
    )


def profile_from_index(
    index: DataFrame,
    target_col: str = "link_url",
    with_hosts: bool = True,
    k: int = 3,
    pre_merged: bool = False,
) -> DataFrame:
    """The :func:`anchor_text_profile` output recomputed from a
    :func:`build_anchor_index` evidence table — the ONE definition of the
    index -> profile math, shared by the incremental operator (over its
    touched-row merge) and the from-state audit path (streaming face /
    compaction checks: full profile of everything the index has ever
    seen, no link rescan).  ``pre_merged=False`` first merges append-only
    partials (groupBy tav_key, SUM n — over a ``write_bucketed('tav_key')``
    table this plans with zero Exchange)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    merged = index
    if not pre_merged:
        merged = index.groupBy("tav_key", "target", "kind", "val").agg(
            F.sum("n").cast("bigint").alias("n")
        )
    anchors = merged.where(F.col("kind") == "a")
    aggs = [
        F.sum(F.when(F.col("kind") == "a", F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_anchored_inlinks"),
        F.sum(F.when(F.col("kind") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("n_anchors"),
    ]
    if with_hosts:
        aggs.append(
            F.sum(F.when(F.col("kind") == "h", 1).otherwise(0))
            .cast("bigint")
            .alias("n_src_hosts")
        )
    stats = merged.groupBy("target").agg(*aggs)
    w = Window.partitionBy("target").orderBy(F.desc("n"), F.asc("val"))
    topk = (
        anchors.withColumns({"_rn": F.row_number().over(w)})
        .where(F.col("_rn") <= int(k))
        .groupBy("target")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", "val"))),
                    lambda x: x.getField("val"),
                ),
                ",",
            ).alias("top_anchors")
        )
    )
    return stats.join(topk, on="target").withColumnsRenamed(
        {"target": target_col}
    )
