"""Source parsers (notices, ingestion indexes) and a seeded fuzz parity
sweep."""

import pytest


SWIFT_PAGE = """
<html><table>
<tr><th>Trig</th><th>Date yy/mm/dd</th><th>Time UT</th><th>BAT RA</th>
<th>BAT Dec</th><th>BAT Error</th><th>XRT RA</th><th>XRT Dec</th><th>XRT Error</th></tr>
<tr><td>973628</td><td>20/05/22</td><td>11:41:34</td><td>12.34</td>
<td>-5.6</td><td>3.0</td><td><a href="x">12.35</a></td><td>-5.61</td><td>0.01</td></tr>
<tr><td>973629</td><td>20/05/23</td><td>09:00:00</td><td>100.0</td>
<td>20.0</td><td>2.0</td><td>100.1</td><td>20.1</td><td>0.02</td></tr>
<tr><td>broken</td></tr>
</table></html>
"""


def test_parse_notices_and_turtle(spark):
    from literature_to_facts_spark.sources.notices import (
        notices_to_triples,
        notices_turtle,
        parse_notices_html,
    )

    entries = parse_notices_html(SWIFT_PAGE)
    assert len(entries) == 2  # the broken row is dropped (no date column)
    assert entries.iloc[0]["event_isot"] == "2020-05-22T11:41:34"
    assert entries.iloc[0]["xrt_ra"] == "12.35"  # inner tags stripped

    triples = notices_to_triples(spark, entries)
    rows = triples.collect()
    subjects = {r["subj"] for r in rows}
    assert subjects == {
        "https://odahub.io/ontology/paper/swift_notice_trigger_973628",
        "https://odahub.io/ontology/paper/swift_notice_trigger_973629",
    }
    preds = {r["pred"] for r in rows}
    assert "swift_event_isot" in preds and "swift_bat_ra" in preds

    ttl = notices_turtle(triples)
    assert ttl.startswith("@prefix paper:")
    assert '"2020-05-22T11:41:34"' in ttl


GCN_INDEX = """
<A HREF=gcn3/31373.gcn3>31373</A>
<A HREF=gcn3/31374.gcn3>31374</A>
<A HREF=gcn3/31375.gcn3>31375</A>
"""

ATEL_INDEX = (
    '<tr valign="top"><td class="num">15100</td>'
    '<td class="title"><a href="https://www.astronomerstelegram.org/?read=15100">T1</a></td>'
    '<td class="author" valign="top">A. Author<br><em>8 Dec 2021; 23:20 UT</em></td></tr>'
    '<TR VALIGN="top"><TD CLASS="num">15101</TD>'
    '<TD CLASS="title"><A HREF="https://www.astronomerstelegram.org/?read=15101">T2</A></TD>'
    '<TD CLASS="author" VALIGN="top">B. Author<BR><EM>9 Dec 2021; 10:00 UT</EM></TD></TR>'
)


def test_ingest_index_parsers(spark, docs_df):
    from literature_to_facts_spark.sources.ingest import (
        atel_entries_from_index,
        documents_in_gcn_range,
        gcn_ids_from_index,
        gcn_urls_for_range,
    )

    assert gcn_ids_from_index(GCN_INDEX) == [31375, 31374, 31373]  # reversed
    assert gcn_urls_for_range(31373, 31375) == [
        "https://gcn.gsfc.nasa.gov/gcn3/31374.gcn3",
        "https://gcn.gsfc.nasa.gov/gcn3/31373.gcn3",
    ]

    entries = atel_entries_from_index(ATEL_INDEX)
    assert list(entries["atelid"]) == ["15100", "15101"]  # re.I matches both
    assert entries.iloc[0]["date"] == "8 Dec 2021; 23:20 UT"

    ranged = documents_in_gcn_range(docs_df, 31000, 31200)
    urls = [r["url"] for r in ranged.select("url").collect()]
    assert urls and all("gcn3/31" in u for u in urls)
    assert all(31000 <= int(u.split("/")[-1].split(".")[0]) < 31200 for u in urls)


@pytest.mark.parametrize("seed", [7, 123, 20260816])
def test_fuzz_parity_other_seeds(seed, ):
    """Seeded fuzz sweep: vectorized extraction == shim on corpora the
    golden tests never saw (different RNG draws exercise different regex
    branches and value shapes)."""
    from literature_to_facts_spark.engine.kinds import classify_url
    from literature_to_facts_spark.engine import pipeline as pl
    from literature_to_facts_spark.shim import reference_shim as rs
    from literature_to_facts_spark.sources.corpus import build_corpus

    corpus = build_corpus(n_docs=1200, seed=seed, include_golden=False)
    sides = pl.make_sides(corpus.balrog, corpus.amon_notices, corpus.ads_authors)
    shim_sides = rs.SideTables(
        balrog={r["url_json"]: r for _, r in corpus.balrog.iterrows()},
        amon_notices={r["url"]: r["notice_text"] for _, r in corpus.amon_notices.iterrows()},
        ads_authors={r["subject"]: r["gcn_authors"] for _, r in corpus.ads_authors.iterrows()},
    )
    docs = corpus.documents.copy()
    docs["kind"] = docs["url"].map(classify_url)
    rel = docs[docs["kind"] != "other"]

    golden = set()
    for _, row in rel.iterrows():
        try:
            doc = rs.decode_doc(row["kind"], row["text"])
            _, triples = rs.extract_doc_facts(row["kind"], doc, shim_sides)
        except Exception:
            continue
        for s, p, o in triples:
            golden.add((s.strip("<>"), p.strip("<>").split("#")[-1], o))

    vec = pl.extract_batch(rel, sides)
    got = set(zip(vec["subj"], vec["pred"], vec["obj_n3"]))
    assert got == golden, (
        sorted(got - golden)[:5],
        sorted(golden - got)[:5],
    )
    assert len(golden) > 500


def test_notices_turtle_escapes_fully(spark):
    """Backslash/newline/CR in a cell value must serialize to valid Turtle
    with the full rdflib escape set (quote-only escaping produced invalid
    output for such values)."""
    from literature_to_facts_spark.functions.literals import quote_encode

    nasty = 'path\\to "x"\nline2\rtail'
    df = spark.createDataFrame(
        [("http://odahub.io/ontology/paper#swift_notice_trigger_1", "swift_trig", nasty)],
        "subj string, pred string, obj string",
    )
    from literature_to_facts_spark.sources.notices import notices_turtle

    ttl = notices_turtle(df)
    line = [l for l in ttl.splitlines() if l.startswith("<")][0]
    assert quote_encode(nasty) in line
    assert "\n" not in line and "\r" not in line  # one statement per line
