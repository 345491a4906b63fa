"""Source parsers (notices, ingestion indexes), Structured Streaming wrapper,
and a seeded fuzz parity sweep."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


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


def test_streaming_available_now(spark, corpus, sides, tmp_path):
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.streaming.stream import (
        read_stream_triples,
        stream_documents_to_graph,
    )

    docs_dir = str(tmp_path / "docs_stream")
    out_dir = str(tmp_path / "stream_out")
    pdf = corpus.documents.copy()
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).write.mode("overwrite").parquet(docs_dir)

    q = stream_documents_to_graph(spark, docs_dir, out_dir, sides)
    q.awaitTermination(120)
    n1 = read_stream_triples(spark, out_dir).count()
    assert n1 > 0

    # land more files; a second availableNow run picks up ONLY the new ones
    spark.createDataFrame(pdf.iloc[half:]).write.mode("append").parquet(docs_dir)
    q2 = stream_documents_to_graph(spark, docs_dir, out_dir, sides)
    q2.awaitTermination(120)
    streamed = read_stream_triples(spark, out_dir)
    batch = extract_triples(spark, spark.createDataFrame(pdf), sides)
    assert streamed.count() == batch.count()
    s = {(r["subj"], r["pred"], r["obj_n3"]) for r in streamed.collect()}
    b = {(r["subj"], r["pred"], r["obj_n3"]) for r in batch.collect()}
    assert s == b


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


def test_stateful_stream_dedup_across_runs(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence per text hash passes;
    duplicates are dropped within a batch, across batches, and across
    RESTARTS (state lives in the checkpoint)."""
    import pandas as pd

    from literature_to_facts_spark.streaming.stateful import (
        DEDUP_OUTPUT_SCHEMA,
        dedup_stream_first_seen,
    )

    src = tmp_path / "docs"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).astype("datetime64[us]")
        pdf.to_parquet(src / f"{name}.parquet")

    def run_once():
        docs = spark.readStream.schema(
            "url string, warc_ts timestamp, text string"
        ).parquet(str(src))
        q = (
            dedup_stream_first_seen(docs)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1", [
        ("u1", "2026-01-01 00:00:00", "alpha text"),
        ("u2", "2026-01-01 00:01:00", "alpha text"),   # in-batch dup
        ("u3", "2026-01-01 00:02:00", "beta text"),
    ])
    run_once()
    write_batch("b2", [
        ("u4", "2026-01-01 01:00:00", "alpha text"),   # cross-run dup
        ("u5", "2026-01-01 01:01:00", "gamma text"),   # new
    ])
    run_once()  # restart: state must come back from the checkpoint

    got = spark.read.schema(DEDUP_OUTPUT_SCHEMA).parquet(str(out))
    rows = {r["text"]: r["url"] for r in got.collect()}
    assert got.count() == 3  # one per distinct text, ever
    assert set(rows) == {"alpha text", "beta text", "gamma text"}
    assert rows["gamma text"] == "u5"
    assert rows["alpha text"] in {"u1", "u2"}  # from run 1, not u4


def test_windowed_doc_counts_watermark(spark):
    """Event-time windowed counts: batch-mode equality against a plain
    groupBy oracle (same column shape the streaming query produces)."""
    import pandas as pd

    from literature_to_facts_spark.streaming.stateful import windowed_doc_counts

    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(6)],
            "warc_ts": pd.to_datetime(
                [
                    "2026-01-01 00:10:00",
                    "2026-01-01 00:50:00",
                    "2026-01-01 01:10:00",
                    "2026-01-01 01:20:00",
                    "2026-01-01 01:20:00",
                    "2026-01-01 02:05:00",
                ]
            ).astype("datetime64[us]"),
            "lang": ["en", "en", "en", "de", "en", "en"],
        }
    )
    docs = spark.createDataFrame(pdf)
    got = {
        (str(r["win_start"]), r["key"]): r["n_docs"]
        for r in windowed_doc_counts(docs).collect()
    }
    assert got[("2026-01-01 00:00:00", "en")] == 2
    assert got[("2026-01-01 01:00:00", "en")] == 2
    assert got[("2026-01-01 01:00:00", "de")] == 1
    assert got[("2026-01-01 02:00:00", "en")] == 1


def test_stateful_dedup_state_ttl_expiry(spark, tmp_path):
    """state_ttl bounds checkpoint state: a key idle past the TTL is evicted
    (its timer fires in a later micro-batch), so a subsequent duplicate is
    re-emitted — the bounded-horizon dedup mode for unbounded ingest."""
    import time as _time

    import pandas as pd

    from literature_to_facts_spark.streaming.stateful import (
        DEDUP_OUTPUT_SCHEMA,
        _parse_duration_ms,
        dedup_stream_first_seen,
    )

    assert _parse_duration_ms("7 days") == 7 * 86_400_000
    assert _parse_duration_ms("24 hours") == 24 * 3_600_000
    assert _parse_duration_ms("500 ms") == 500
    assert _parse_duration_ms("1 hour 30 minutes") == 5_400_000  # compound

    # an explicitly-provided TTL that parses to <= 0 must be rejected, not
    # silently fall back to dedup-forever (unbounded state with no signal)
    import pytest as _pytest

    (tmp_path / "empty_src").mkdir()
    with _pytest.raises(ValueError, match="must be positive"):
        dedup_stream_first_seen(
            spark.readStream.schema("url string, warc_ts timestamp, text string")
            .parquet(str(tmp_path / "empty_src")),
            state_ttl="0 ms",
        )

    src = tmp_path / "docs"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).astype("datetime64[us]")
        pdf.to_parquet(src / f"{name}.parquet")

    def count_out():
        try:
            return spark.read.schema(DEDUP_OUTPUT_SCHEMA).parquet(str(out)).count()
        except Exception:
            return 0

    def run_once(expected_rows):
        docs = spark.readStream.schema(
            "url string, warc_ts timestamp, text string"
        ).parquet(str(src))
        q = (
            dedup_stream_first_seen(docs, state_ttl="1 ms")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        # with processing-time timers the availableNow query neither
        # self-terminates nor quiesces for processAllAvailable (the engine
        # keeps the query up to fire timers): poll the sink, then stop
        deadline = _time.time() + 90
        while _time.time() < deadline and count_out() < expected_rows:
            _time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)

    write_batch("b1", [("u1", "2026-01-01 00:00:00", "alpha text")])
    run_once(1)
    _time.sleep(0.05)  # let the 1 ms timer lapse
    # this run carries no alpha rows -> alpha's timed-out state is evicted
    write_batch("b2", [("u2", "2026-01-01 01:00:00", "other text")])
    run_once(2)
    write_batch("b3", [("u3", "2026-01-01 02:00:00", "alpha text")])
    run_once(3)

    got = spark.read.schema(DEDUP_OUTPUT_SCHEMA).parquet(str(out)).collect()
    alpha_urls = sorted(r["url"] for r in got if r["text"] == "alpha text")
    assert alpha_urls == ["u1", "u3"]  # re-emitted after TTL eviction


def test_delta_dedup_state_read_classification(spark, tmp_path):
    """_read_state's missing-state classification: absent path -> None
    (first batch); a dir holding only an uncommitted _temporary leftover
    from a crashed first write -> None too (re-raising would crash-loop
    every replay); any other read failure propagates (a half-lost committed
    state must fail the batch, not silently downgrade to full-mode
    pairing)."""
    import os

    from literature_to_facts_spark.streaming.kg_stats import _read_state

    root = str(tmp_path / "band_index")
    assert _read_state(spark, root, 1) is None  # path absent
    os.makedirs(os.path.join(root, "_batch=0", "_temporary", "0"))
    assert _read_state(spark, root, 1) is None  # crashed uncommitted write
    # a committed state reads fine and excludes the current batch
    df = spark.createDataFrame([(1, 0, "k")], "doc_id long, band int, key string")
    df.write.mode("overwrite").parquet(os.path.join(root, "_batch=0"))
    got = _read_state(spark, root, 1)
    assert got is not None and got.count() == 1
    assert _read_state(spark, root, 0).count() == 0  # strict < prune
    # a corrupt committed file is NOT missing state: it must raise, not None
    part = next(
        f
        for f in os.listdir(os.path.join(root, "_batch=0"))
        if f.endswith(".parquet")
    )
    with open(os.path.join(root, "_batch=0", part), "wb") as fh:
        fh.write(b"not a parquet file")
    import pytest

    with pytest.raises(Exception):
        _read_state(spark, root, 1).collect()


def test_streaming_kg_stats_exact_and_replay(spark, tmp_path):
    """Micro-batch predicate-stats maintenance: after each batch the
    snapshot equals the from-scratch stats over everything seen so far,
    and replaying a batch (crash recovery) leaves the state bit-equal."""
    from pyspark.sql import functions as F

    from literature_to_facts_spark.engine.kgquery import predicate_stats
    from literature_to_facts_spark.streaming.kg_stats import (
        make_kg_stats_batch_fn,
        read_current_stats,
    )

    rows = []
    for i in range(45):
        rows.append((i, "lang", ["en", "fr", "de"][i % 3]))
        rows.append((i, "host", f"h{i % 5}.com"))
        if i % 4 == 0:
            rows.append((i, "lang", ["en", "fr", "de"][i % 3]))  # dup triple
    triples = spark.createDataFrame(rows, "subj bigint, pred string, obj string")

    state = str(tmp_path / "kgstats")
    fn = make_kg_stats_batch_fn(state)
    seen = None
    for b in range(3):
        batch = triples.where(F.col("subj") % 3 == b)
        fn(batch, b)
        seen = batch if seen is None else seen.unionByName(batch)
        got = sorted(map(tuple, read_current_stats(spark, state).collect()))
        want = sorted(map(tuple, predicate_stats(seen).collect()))
        assert got == want, f"batch {b}"

    # crash replay: re-running the LAST batch must heal to the same state
    fn(triples.where(F.col("subj") % 3 == 2), 2)
    got = sorted(map(tuple, read_current_stats(spark, state).collect()))
    assert got == sorted(map(tuple, predicate_stats(triples).collect()))
