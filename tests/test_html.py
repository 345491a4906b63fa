from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# html_extract_text / html_extract_links
# ---------------------------------------------------------------------------


def test_html_extract_text_semantics(spark):
    """HTML strip chain: script/style/comment removal, tag strip, entity
    decode order (&amp; last), binary ascii-replace decode, NULL pass."""
    from pyspark.sql import Row

    from literature_to_facts_spark.datapipe.html import html_extract_text

    page = (
        '<html><head><STYLE a="b">p{}</STYLE><script>if(1<2){x()}</script>'
        "</head><body><!-- no --><p>A&amp;lt;B</p>\n\t<b>bold</b>"
        "&nbsp;&quot;q&#39; </body></html>"
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, html=page), Row(doc_id=2, html=None)]
    )
    out = {r.doc_id: r.extracted_text for r in html_extract_text(df).collect()}
    # &amp;lt; single-pass decodes to the literal &lt;  (amp decoded LAST)
    assert out[1] == 'A&lt;B bold "q\''
    assert out[2] is None

    # binary column: ascii-replace decode (U+FFFD for non-ascii bytes),
    # checked against python's own decode('ascii', 'replace')
    import re as _re

    raw = b"<p>caf\xc3\xa9</p>"
    dfb = spark.createDataFrame([Row(doc_id=1, html=bytearray(raw))])
    got = html_extract_text(dfb).collect()[0].extracted_text
    exp = _re.sub(r"<[^>]+>", " ", raw.decode("ascii", "replace")).strip()
    assert got == exp == "caf��"

    import pytest as _pt
    with _pt.raises(ValueError, match="extracted_text"):
        html_extract_text(df.withColumn("extracted_text", df.html))


def test_html_extract_links_resolution(spark):
    """Anchor extraction + resolution: quote styles, scheme filtering,
    protocol/root/dir-relative resolution, fragment strip, invalid-page
    guard, html column dropped, collision guards."""
    from pyspark.sql import Row

    from literature_to_facts_spark.datapipe.html import html_extract_links

    page = (
        '<body><a href="https://CDN.Example.com/lib.html#frag">abs</a>'
        "<A id='n' HREF='/root.html'>root</A>"
        "<a href=rel/x.html>unquoted rel</a>"
        '<a href="//mirror.net/m">proto-rel</a>'
        '<a href="mailto:a@b.c">drop</a>'
        '<a href="#sec">drop</a>'
        '<a href = "sib.html">spaced eq</a>'
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=1, url="https://Ex.org:8443/a/b/page.html?q=1", html=page),
            Row(doc_id=2, url="not-a-url", html=page),
            Row(doc_id=3, url=None, html=page),
            Row(doc_id=4, url="https://ex.org/", html="<p>no links</p>"),
        ]
    )
    out = html_extract_links(df)
    assert "html" not in out.columns
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.link_url, r.link_host))
    # valid page: 5 links survive (mailto + fragment-only dropped)
    assert sorted(by_doc[1]) == sorted(
        [
            ("https://CDN.Example.com/lib.html", "cdn.example.com"),
            ("https://ex.org:8443/root.html", "ex.org"),
            ("https://ex.org:8443/a/b/rel/x.html", "ex.org"),
            ("https://mirror.net/m", "mirror.net"),
            ("https://ex.org:8443/a/b/sib.html", "ex.org"),
        ]
    )
    # invalid / NULL page urls: only the fully-absolute http(s) link
    # survives (protocol-relative needs the page scheme -> dropped too)
    for d in (2, 3):
        assert by_doc[d] == [
            ("https://CDN.Example.com/lib.html", "cdn.example.com")
        ]
    assert 4 not in by_doc  # no anchors -> no rows

    # binary html decodes like the text path
    dfb = spark.createDataFrame(
        [Row(doc_id=1, url="https://e.com/", html=bytearray(b'<a href="/x">b</a>'))]
    )
    got = html_extract_links(dfb).collect()
    assert [(r.link_url, r.link_host) for r in got] == [("https://e.com/x", "e.com")]

    # dedup collapses repeated links
    dfd = spark.createDataFrame(
        [Row(doc_id=1, url="https://e.com/", html='<a href="/x">1</a><a href="/x#f">2</a>')]
    )
    assert html_extract_links(dfd, dedup=True).count() == 1
    assert html_extract_links(dfd).count() == 2

    import pytest as _pt

    with _pt.raises(ValueError, match="_pg_base"):
        html_extract_links(df.withColumn("_pg_base", F.lit("x")))
    with _pt.raises(ValueError, match="link_url"):
        html_extract_links(df.withColumn("link_url", F.lit("x")))

    # plan pin: the default path is scan-fused — zero Exchange
    plan = html_extract_links(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan





# ---------------------------------------------------------------------------
# html_meta_directives (robots meta + rel=canonical gate)
# ---------------------------------------------------------------------------


def _meta_rows(spark, pages):
    from literature_to_facts_spark.datapipe.html import html_meta_directives

    df = spark.createDataFrame(pages, "doc_id bigint, html string")
    return {
        r["doc_id"]: (
            r["robots_noindex"], r["robots_nofollow"], r["canonical_href"]
        )
        for r in html_meta_directives(df).collect()
    }


def test_meta_robots_orderings_and_tokens(spark):
    got = _meta_rows(
        spark,
        [
            (1, '<meta name="robots" content="noindex, follow">'),
            (2, "<META CONTENT='nofollow' NAME='robots'>"),
            (3, '<meta name="robots" content="NONE">'),
            (4, '<meta name="robots" content="noindexing">'),
            (5, "<p>no meta at all</p>"),
            (6, '<meta name="robots" content=" NoIndex , NOFOLLOW ">'),
        ],
    )
    assert got[1] == (True, False, None)
    assert got[2] == (False, True, None)   # content-first ordering
    assert got[3] == (True, True, None)    # none implies both
    assert got[4] == (False, False, None)  # exact token, not prefix
    assert got[5] == (False, False, None)
    assert got[6] == (True, True, None)    # case + whitespace normalization


def test_meta_canonical_first_and_fragment(spark):
    got = _meta_rows(
        spark,
        [
            (1, '<link rel="canonical" href="https://e.com/a#frag">'),
            (2, "<link href='/b.html' rel='canonical'>"),
            (
                3,
                '<link rel="canonical" href="https://e.com/first">'
                '<link rel="canonical" href="https://e.com/second">',
            ),
            (4, "<p>none</p>"),
        ],
    )
    assert got[1] == (False, False, "https://e.com/a")
    assert got[2] == (False, False, "/b.html")  # href-first ordering
    assert got[3][2] == "https://e.com/first"
    assert got[4][2] is None


def test_meta_null_html_propagates(spark):
    got = _meta_rows(spark, [(1, None)])
    assert got[1] == (None, None, None)


def test_meta_binary_html_decodes(spark):
    from literature_to_facts_spark.datapipe.html import html_meta_directives
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '<meta name="robots" content="noindex">')], "doc_id bigint, h string"
    ).select("doc_id", F.encode("h", "UTF-8").alias("html"))
    row = html_meta_directives(df).collect()[0]
    assert row["robots_noindex"] is True and row["robots_nofollow"] is False


def test_meta_collision_guard(spark):
    import pytest as _pytest

    from literature_to_facts_spark.datapipe.html import html_meta_directives

    df = spark.createDataFrame(
        [(1, "<p>x</p>", True)], "doc_id bigint, html string, robots_noindex boolean"
    )
    with _pytest.raises(ValueError, match="robots_noindex"):
        html_meta_directives(df)


# ---------------------------------------------------------------------------
# html_extract_anchors + anchor_text_profile (inlink naming signal)
# ---------------------------------------------------------------------------


def test_extract_anchors_three_quote_styles_and_cleaning(spark):
    from literature_to_facts_spark.datapipe.html import html_extract_anchors

    html = (
        '<a href="https://x.example.com/a">Read <b>More</b></a>'
        "<a id='n' href='/r/1.html'>  deep   page </a>"
        "<a href=rel.html>rel  anchor</a>"
        '<a href="https://x.example.com/b"></a>'
        '<a href="mailto:a@b.c">mail me</a>'
        '<a href="https://x.example.com/c#frag">Frag</a>'
        '<a href="https://x.example.com/open">'  # no closing tag: link-only
    )
    df = spark.createDataFrame(
        [(1, "http://h.example.org/d/e.html", html)],
        "doc_id bigint, url string, html string",
    )
    rows = {
        (r["link_url"], r["anchor_text"])
        for r in html_extract_anchors(df).collect()
    }
    assert rows == {
        ("https://x.example.com/a", "Read More"),     # nested tag stripped
        ("http://h.example.org/r/1.html", "deep page"),  # ws collapsed+trim
        ("http://h.example.org/d/rel.html", "rel anchor"),  # unquoted+dir
        ("https://x.example.com/b", ""),              # empty anchor kept here
        ("https://x.example.com/c", "Frag"),          # fragment stripped
        # mailto dropped; unclosed <a> emits no PAIR (documented)
    }


def test_extract_anchors_matches_links_resolution(spark):
    """Anchors' resolved URLs are a subset of html_extract_links' on the
    same pages (shared resolution helpers — one definition)."""
    from literature_to_facts_spark.datapipe.html import (
        html_extract_anchors,
        html_extract_links,
    )

    html = (
        '<a href="//m.example.net/p">proto</a>'
        "<a href='/root.html'>root</a>"
        "<a href=sub/d.html>dir</a>"
        '<a href="ftp://f.example.com/x">other scheme</a>'
    )
    df = spark.createDataFrame(
        [(1, "HTTPS://Host.Example.COM:8443/a/b.html", html),
         (2, None, html), (3, "not-a-url", html)],
        "doc_id bigint, url string, html string",
    )
    link_rows = {
        (r["doc_id"], r["link_url"]) for r in html_extract_links(df).collect()
    }
    anchor_rows = {
        (r["doc_id"], r["link_url"])
        for r in html_extract_anchors(df).collect()
    }
    assert anchor_rows == link_rows  # every href here is closed
    assert (1, "https://host.example.com:8443/a/sub/d.html") in anchor_rows
    # invalid/NULL page urls resolve nothing relative
    assert not any(d in (2, 3) for d, _ in anchor_rows)


def test_extract_anchors_collision_guards(spark):
    import pytest

    from literature_to_facts_spark.datapipe.html import html_extract_anchors

    df = spark.createDataFrame(
        [(1, "http://a.com/", "<a href=x>y</a>", "boom")],
        "doc_id bigint, url string, html string, _pair string",
    )
    with pytest.raises(ValueError, match="_pair"):
        html_extract_anchors(df)
    df2 = spark.createDataFrame(
        [(1, "http://a.com/", "<a href=x>y</a>", "boom")],
        "doc_id bigint, url string, html string, anchor_text string",
    )
    with pytest.raises(ValueError, match="anchor_text"):
        html_extract_anchors(df2)


def test_anchor_text_profile_topk_and_evidence(spark):
    from literature_to_facts_spark.datapipe.html import anchor_text_profile

    rows = []
    # target T: "Home" x3 (two hosts), "home" x1 (casefolds in), "News" x2,
    # "blog" x1, "" x2 (excluded), None x1 (excluded)
    for h, a in [
        ("a.com", "Home"), ("a.com", "Home"), ("b.com", "home"),
        ("b.com", "Home"), ("a.com", "News"), ("b.com", "News"),
        ("c.com", "blog"), ("a.com", ""), ("b.com", ""), ("c.com", None),
    ]:
        rows.append(("T", a, h))
    rows.append(("U", "solo", "a.com"))
    links = spark.createDataFrame(
        rows, "link_url string, anchor_text string, src string"
    )
    got = {
        r["link_url"]: r
        for r in anchor_text_profile(links, src_host_col="src", k=2).collect()
    }
    t = got["T"]
    assert t["n_anchored_inlinks"] == 7
    assert t["n_anchors"] == 3          # home, news, blog
    assert t["n_src_hosts"] == 3
    assert t["top_anchors"] == "home,news"  # k=2, count desc
    u = got["U"]
    assert (u["n_anchored_inlinks"], u["top_anchors"]) == (1, "solo")


def test_anchor_text_profile_tie_breaks_by_anchor_asc(spark):
    from literature_to_facts_spark.datapipe.html import anchor_text_profile

    links = spark.createDataFrame(
        [("T", "zeta", "h"), ("T", "alpha", "h"), ("T", "mid", "h")],
        "link_url string, anchor_text string, src_host string",
    )
    r = anchor_text_profile(links, src_host_col=None, k=2).collect()[0]
    assert r["top_anchors"] == "alpha,mid"
    assert "n_src_hosts" not in r.asDict()


# ---------------------------------------------------------------- main content

_MC_PAGE = (
    '<html><body>'
    '<div class="nav"><a href="/">Home</a> | <a href="/x">News</a> | '
    '<a href="/y">Sports</a></div>'
    '<h1>Hi</h1>'
    '<p>This is the long main article paragraph with plenty of prose and an '
    '<a href="/rel">inline link</a> that must not disqualify it at all.</p>'
    '<p>Second paragraph talks about science &amp; nature for a while longer.</p>'
    '<p>&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;&nbsp;</p>'
    '<div class="footer"><a href="/tos">Terms</a> <a href="/priv">Privacy</a>'
    ' contact</div>'
    '</body></html>'
)


def test_main_content_drops_boilerplate_keeps_article(spark):
    from literature_to_facts_spark.datapipe.html import html_main_content

    df = spark.createDataFrame(
        [(1, _MC_PAGE), (2, None)], "doc_id bigint, html string"
    )
    got = {r["doc_id"]: r for r in html_main_content(df).collect()}
    r = got[1]
    # nav, h1, entity-only block and footer dropped; both paragraphs kept
    assert r["n_kept"] == 2
    lines = r["main_text"].split("\n")
    assert lines[0].startswith("This is the long main article")
    assert "inline link" in lines[0]          # anchor text kept in display text
    assert lines[1] == (
        "Second paragraph talks about science & nature for a while longer."
    )
    assert "Home" not in r["main_text"] and "Terms" not in r["main_text"]
    # NULL html -> NULL outputs
    r2 = got[2]
    assert r2["main_text"] is None and r2["n_blocks"] is None and r2["n_kept"] is None


def test_main_content_density_boundary_and_binary(spark):
    from literature_to_facts_spark.datapipe.html import html_main_content

    # raw text 'abcd efghi x' = 12 chars, 5 of them anchor text ->
    # 500 <= 12*pct iff pct >= 42: kept at 42, dropped at 41
    blk = "<p>abcd <a href='/x'>efghi</a>x</p>"
    df = spark.createDataFrame([(1, blk)], "doc_id bigint, html string")
    keep = html_main_content(df, min_block_chars=5, max_link_density_pct=42)
    drop = html_main_content(df, min_block_chars=5, max_link_density_pct=41)
    assert keep.collect()[0]["n_kept"] == 1
    assert drop.collect()[0]["n_kept"] == 0
    # binary html decodes via the ascii-replace invariant
    bdf = spark.createDataFrame(
        [(1, ("<p>" + "plain prose body long enough to pass the bar" + "</p>").encode())],
        "doc_id bigint, html binary",
    )
    r = html_main_content(bdf, min_block_chars=10).collect()[0]
    assert r["main_text"] == "plain prose body long enough to pass the bar"


def test_main_content_guards(spark):
    import pytest

    from pyspark.sql import functions as F

    from literature_to_facts_spark.datapipe.html import html_main_content

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id bigint, html string")
    with pytest.raises(ValueError, match="min_block_chars"):
        html_main_content(df, min_block_chars=0)
    with pytest.raises(ValueError, match="max_link_density_pct"):
        html_main_content(df, max_link_density_pct=101)
    clash = df.withColumn("n_kept", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        html_main_content(clash)


# ------------------------------------------- incremental anchor profile

def _anchor_links(spark):
    """(link_url, anchor_text, src_host) edge rows with cross-batch anchor
    overlap: target T is named 'home' by history and batch (count merge),
    'news' only by history, 'fresh' only by the batch; host h2 appears in
    both (distinct merge must not double-count)."""
    hist = [
        ("T", "Home", "h1"), ("T", "home", "h2"), ("T", "News", "h1"),
        ("U", "about", "h1"), ("U", "about", None),
    ]
    batch = [
        ("T", "HOME", "h2"), ("T", "fresh", "h3"), ("V", "solo", "h9"),
    ]
    schema = "link_url string, anchor_text string, src_host string"
    return (
        spark.createDataFrame(hist, schema),
        spark.createDataFrame(batch, schema),
    )


def _profile_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_anchor_incremental_equals_full_on_touched_targets(spark):
    from literature_to_facts_spark.datapipe.html import (
        anchor_text_profile,
        anchor_text_profile_incremental,
        build_anchor_index,
    )

    hist, batch = _anchor_links(spark)
    reg = []
    got = anchor_text_profile_incremental(
        batch,
        build_anchor_index(hist, src_host_col="src_host"),
        src_host_col="src_host",
        cache_registry=reg,
    )
    full = anchor_text_profile(
        hist.unionByName(batch), src_host_col="src_host"
    ).where(F.col("link_url").isin("T", "V"))  # batch-touched targets
    assert _profile_rows(got) == _profile_rows(full)
    t = {r["link_url"]: r for r in got.collect()}["T"]
    assert t["n_anchored_inlinks"] == 5       # 3 hist + 2 batch
    assert t["n_anchors"] == 3                # home, news, fresh
    assert t["n_src_hosts"] == 3              # h1, h2 (merged once), h3
    assert t["top_anchors"] == "home,fresh,news"  # 3x home, then asc tie
    for df in reg:
        df.unpersist()


def test_anchor_incremental_first_batch_and_loop(spark):
    from literature_to_facts_spark.datapipe.html import (
        anchor_text_profile,
        anchor_text_profile_incremental,
        build_anchor_index,
    )

    hist, batch = _anchor_links(spark)
    # first batch: no history -> full profile of the batch
    got = anchor_text_profile_incremental(hist, None, src_host_col="src_host")
    assert _profile_rows(got) == _profile_rows(
        anchor_text_profile(hist, src_host_col="src_host")
    )
    # two-batch loop with index append between batches
    idx = build_anchor_index(hist, src_host_col="src_host")
    idx2 = idx.unionByName(build_anchor_index(batch, src_host_col="src_host"))
    b3 = spark.createDataFrame(
        [("T", "home", "h7"), ("W", "w-page", "h1")],
        "link_url string, anchor_text string, src_host string",
    )
    got3 = anchor_text_profile_incremental(b3, idx2, src_host_col="src_host")
    full3 = anchor_text_profile(
        hist.unionByName(batch).unionByName(b3), src_host_col="src_host"
    ).where(F.col("link_url").isin("T", "W"))
    assert _profile_rows(got3) == _profile_rows(full3)


def test_anchor_incremental_no_hosts_and_validation(spark):
    import pytest

    from literature_to_facts_spark.datapipe.html import (
        anchor_text_profile,
        anchor_text_profile_incremental,
        build_anchor_index,
    )

    hist, batch = _anchor_links(spark)
    got = anchor_text_profile_incremental(
        batch, build_anchor_index(hist), k=1
    )
    full = anchor_text_profile(hist.unionByName(batch), k=1).where(
        F.col("link_url").isin("T", "V")
    )
    assert _profile_rows(got) == _profile_rows(full)
    assert "n_src_hosts" not in got.columns
    with pytest.raises(ValueError, match="k must be"):
        anchor_text_profile_incremental(batch, None, k=0)


def test_anchor_incremental_bucketed_no_exchange(spark, tmp_path):
    """Over a write_bucketed('tav_key') catalog table the touched-row merge
    (broadcast target semi filter -> union batch -> tav_key groupBy) plans
    with ZERO Exchange on the history side — the eleventh family keeps the
    probe-shape pin."""
    from literature_to_facts_spark.datapipe.html import (
        build_anchor_index,
    )
    from literature_to_facts_spark.engine.kgquery import write_bucketed

    hist, batch = _anchor_links(spark)
    idx = build_anchor_index(hist, src_host_col="src_host")
    try:
        write_bucketed(idx, "t_anchor_idx", "tav_key", 4,
                       path=str(tmp_path / "aidx"))
        table = spark.table("t_anchor_idx")
        batch_idx = build_anchor_index(batch, src_host_col="src_host")
        probe = (
            table.join(
                F.broadcast(batch_idx.select("target").distinct()),
                on="target",
                how="left_semi",
            )
            .groupBy("tav_key", "target", "kind", "val")
            .agg(F.sum("n").alias("n"))
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        streamed = plan.split("BroadcastExchange")[0]
        assert "Exchange" not in streamed, plan
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_anchor_idx")
