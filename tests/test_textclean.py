"""Tests for datapipe/textclean (line dedup + PII redaction)."""

import random

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# line_dedup
# ---------------------------------------------------------------------------

BOILER = "This cookie banner appears everywhere."
UNIQ = {
    1: "Document one says something original here.",
    2: "Document two has its own unique content.",
    3: "Document three is entirely boilerplate free.",
}


@pytest.fixture(scope="module")
def line_docs(spark):
    rows = [
        (1, f"{BOILER}\n{UNIQ[1]}\n--"),
        (2, f"{UNIQ[2]}\n{BOILER}\n--"),
        # doc 3: boilerplate repeated INSIDE one doc — counts once toward
        # df, but every occurrence is removed
        (3, f"{BOILER}\n{BOILER}\n{UNIQ[3]}"),
        # doc 4: all lines frequent -> clean_text ''
        (4, BOILER),
        (5, None),
        # doc 6: empty text -> one empty (short, kept) line
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_line_dedup_semantics(spark, line_docs):
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    out = {
        r["doc_id"]: r
        for r in line_dedup(line_docs, min_df=2, min_line_chars=10).collect()
    }
    # NULL text excluded entirely
    assert set(out) == {1, 2, 3, 4, 6}
    # the shared long line is removed from every document; the short '--'
    # separator is frequent too (docs 1+2) but below min_line_chars -> kept
    assert out[1]["clean_text"] == f"{UNIQ[1]}\n--"
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == f"{UNIQ[2]}\n--"
    # in-document repetition: both occurrences removed
    assert out[3]["clean_text"] == UNIQ[3]
    assert out[3]["n_lines"] == 3 and out[3]["n_dropped"] == 2
    # everything dropped -> empty string (not NULL)
    assert out[4]["clean_text"] == "" and out[4]["n_dropped"] == 1
    # empty text -> one kept empty line
    assert out[6]["clean_text"] == "" and out[6]["n_lines"] == 1
    assert out[6]["n_dropped"] == 0


def test_line_dedup_df_counts_documents_not_occurrences(spark):
    """A line occurring twice in ONE document only does not reach min_df=2."""
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    ln = "A line repeated twice within a single document."
    docs = spark.createDataFrame([(1, f"{ln}\n{ln}")], ["doc_id", "text"])
    row = line_dedup(docs, min_df=2, min_line_chars=10).collect()[0]
    assert row["clean_text"] == f"{ln}\n{ln}" and row["n_dropped"] == 0


def test_line_dedup_min_df_validation(spark, line_docs):
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    with pytest.raises(ValueError, match="min_df"):
        line_dedup(line_docs, min_df=1)


def test_line_dedup_broadcast_path_matches_and_saves_a_shuffle(spark, line_docs):
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    base = line_dedup(line_docs, min_df=2, min_line_chars=10)
    bcast = line_dedup(line_docs, min_df=2, min_line_chars=10, broadcast_frequent=True)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, bcast.collect()))
    # default: 4 exchanges — count(DISTINCT doc) is two-phase (key,id then
    # key), plus the lines-by-key join shuffle, plus doc reassembly;
    # broadcast drops the lines-by-key shuffle (the exploded corpus is never
    # shuffled by line key)
    p_base = base._jdf.queryExecution().executedPlan().toString()
    p_bcast = bcast._jdf.queryExecution().executedPlan().toString()
    f_base = p_base.split("== Initial Plan ==")[0]
    f_bcast = p_bcast.split("== Initial Plan ==")[0]
    assert f_base.count("Exchange hashpartitioning") == 4
    assert "BroadcastHashJoin" in f_bcast
    assert f_bcast.count("Exchange hashpartitioning") == 3


# ---------------------------------------------------------------------------
# pii_redact
# ---------------------------------------------------------------------------


def test_pii_redact_semantics(spark):
    from literature_to_facts_spark.datapipe.textclean import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail alice.b@sub.example.org now"),
            (2, "server at 192.168.0.1 and also 10.0.0.255."),
            (3, "call +41 22 767 8914 or 555-123-4567 today"),
            (4, "a numeric-TLD address a@1.2.3.4 is an ip, not an email"),
            (5, "nothing to see"),
            (6, None),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["clean_text"] == "mail <EMAIL> now"
    assert out[2]["n_ipv4"] == 2
    assert out[2]["clean_text"] == "server at <IP> and also <IP>."
    assert out[3]["n_phone"] == 2
    assert out[3]["clean_text"] == "call <PHONE> or <PHONE> today"
    # the email pattern requires an alphabetic TLD, so a@1.2.3.4 is NOT an
    # email — only its ip is detected (and masked)
    assert out[4]["n_email"] == 0 and out[4]["n_ipv4"] == 1
    assert out[4]["clean_text"] == "a numeric-TLD address a@<IP> is an ip, not an email"
    assert out[5]["has_pii"] is False and out[5]["clean_text"] == "nothing to see"
    assert out[6]["n_email"] == 0 and out[6]["has_pii"] is False
    assert out[6]["clean_text"] is None


def test_pii_redact_zero_shuffle_plan(spark):
    from literature_to_facts_spark.datapipe.textclean import pii_redact

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = pii_redact(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pii_cross_engine_fuzz(spark):
    """Seeded fuzz: Java regex (Spark) and RE2 (DuckDB) must agree on counts
    AND the redacted text — the RE2-compatible-subset contract of
    PII_PATTERNS."""
    import duckdb

    from literature_to_facts_spark.datapipe.textclean import PII_PATTERNS, pii_redact

    rng = random.Random(4242)
    snippets = [
        "bob@example.com",
        "x.y+z@a-b.co",
        "@not.an.email",
        "1.2.3.4",
        "999.999.999.999",
        "1.2.3.4.5",
        "+12 345-678-9012",
        "+123456789",
        "555-123-4567",
        "5551234567",
        "word",
        "a@b",
        "127.0.0.1:8080",
        "+1 2",
        "émile@café.fr",
        "12.34",
        "...",
        "call+41 22 767 8914now",
    ]
    rows = []
    for i in range(150):
        n = rng.randint(0, 6)
        rows.append((i, " ".join(rng.choice(snippets) for _ in range(n))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"], r["clean_text"])
        for r in pii_redact(docs).collect()
    }
    con = duckdb.connect()
    clean = "text"
    for _, pat, mask in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{mask}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"SELECT doc_id, {counts}, {clean} AS clean_text FROM t"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# line_dedup_incremental (fifth probe-shaped delta family)
# ---------------------------------------------------------------------------

LN_CROSS = "A boilerplate line shared across the batch boundary."
LN_OLD = "A line that was already frequent in the history."
LN_NEW = "A line duplicated only inside the new batch itself."


@pytest.fixture(scope="module")
def delta_line_docs(spark):
    rows = [
        # history (ids % 5 != 0)
        (1, f"{LN_CROSS}\n{UNIQ[1]}"),
        (2, f"{LN_OLD}\nhistory doc two content line."),
        (3, f"{LN_OLD}\nhistory doc three content line."),
        (4, "history doc four is entirely unique text."),
        # new batch (ids % 5 == 0)
        (5, f"{LN_CROSS}\nnew doc five has its own line."),
        (10, f"{LN_OLD}\n{LN_NEW}"),
        (15, f"{LN_NEW}\nnew doc fifteen unique content."),
        (20, "new doc twenty is fresh and unique."),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_line_dedup_incremental_equals_full_restricted(spark, delta_line_docs):
    """Contract: full-corpus line_dedup restricted to the new batch's ids —
    covering a line frequent only ACROSS the boundary (1 old + 1 new), one
    already frequent in history alone, and one frequent only in-batch."""
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup,
        line_dedup_incremental,
    )

    new = delta_line_docs.where(F.col("doc_id") % 5 == 0)
    old = delta_line_docs.where(F.col("doc_id") % 5 != 0)
    idx = build_line_frequency_index(old)
    got = line_dedup_incremental(new, idx)
    want = line_dedup(delta_line_docs).where(F.col("doc_id") % 5 == 0)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # spot-check the three scenarios
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows[5]["clean_text"] == "new doc five has its own line."  # cross-boundary dropped
    assert rows[10]["clean_text"] == ""  # both lines frequent (old-frequent + in-batch dup)
    assert rows[10]["n_dropped"] == 2
    assert rows[20]["n_dropped"] == 0


def test_line_dedup_incremental_first_batch(spark, delta_line_docs):
    """old_index=None degenerates to full mode over the batch."""
    from literature_to_facts_spark.datapipe.textclean import (
        line_dedup,
        line_dedup_incremental,
    )

    new = delta_line_docs.where(F.col("doc_id") % 5 == 0)
    got = line_dedup_incremental(new, None)
    want = line_dedup(new)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_line_dedup_incremental_two_batch_loop(spark, delta_line_docs, tmp_path):
    """Operational loop: the index round-trips through parquet appends and
    batch 2 sees batch 1's counts (the cross-boundary line is dropped from
    the batch-2 doc even though each batch alone holds one occurrence)."""
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup_incremental,
    )

    path = str(tmp_path / "line_idx")
    b1 = delta_line_docs.where(F.col("doc_id").isin(1, 2, 3, 4))
    b2 = delta_line_docs.where(F.col("doc_id") % 5 == 0)
    build_line_frequency_index(b1).write.mode("overwrite").parquet(path)
    out2 = {
        r["doc_id"]: r
        for r in line_dedup_incremental(b2, spark.read.parquet(path)).collect()
    }
    assert out2[5]["clean_text"] == "new doc five has its own line."
    build_line_frequency_index(b2).write.mode("append").parquet(path)
    # a third batch holding one more LN_CROSS occurrence sees df=2 history
    b3 = spark.createDataFrame([(25, f"{LN_CROSS}\nbatch three line.")], ["doc_id", "text"])
    out3 = line_dedup_incremental(b3, spark.read.parquet(path)).collect()[0]
    assert out3["clean_text"] == "batch three line." and out3["n_dropped"] == 1


def test_line_dedup_incremental_bucketed_history_no_exchange(spark, delta_line_docs, tmp_path):
    """Storage-layout composition: over a write_bucketed("line_key") catalog
    table, the history side of the probe (broadcast semi-join filter ->
    touched-key SUM) plans with ZERO Exchange — same pin as the other four
    delta families."""
    from literature_to_facts_spark.engine.kgquery import write_bucketed
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup_incremental,
    )

    new = delta_line_docs.where(F.col("doc_id") % 5 == 0)
    old = delta_line_docs.where(F.col("doc_id") % 5 != 0)
    idx = build_line_frequency_index(old)
    try:
        write_bucketed(idx, "t_line_idx", "line_key", 4, path=str(tmp_path / "idx"))
        bucketed = line_dedup_incremental(new, spark.table("t_line_idx"))
        raw = line_dedup_incremental(new, spark.read.parquet(str(tmp_path / "idx")))
        assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, raw.collect()))
        # the pinned fragment: semi-filtered bucketed scan -> SUM by line_key
        batch_keys = build_line_frequency_index(new).select("line_key")
        hist_agg = (
            spark.table("t_line_idx")
            .join(F.broadcast(batch_keys), on="line_key", how="left_semi")
            .groupBy("line_key")
            .agg(F.sum("df").alias("_old_df"))
        )
        hist_plan = hist_agg._jdf.queryExecution().executedPlan().toString()
        streamed_side = hist_plan.split("BroadcastExchange")[0]
        assert "Exchange" not in streamed_side, hist_plan
        assert "Bucketed: true" in hist_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_line_idx")


def test_line_dedup_incremental_cache_registry(spark, delta_line_docs):
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup_incremental,
    )

    new = delta_line_docs.where(F.col("doc_id") % 5 == 0)
    old = delta_line_docs.where(F.col("doc_id") % 5 != 0)
    reg = []
    out = line_dedup_incremental(new, build_line_frequency_index(old), cache_registry=reg)
    out.collect()
    assert len(reg) == 2
    for df in reg:
        assert df.storageLevel.useMemory
        df.unpersist()


def test_pii_redact_chains_after_line_dedup(spark, line_docs):
    """The natural composition — line dedup then PII redaction — must yield
    ONE unambiguous clean_text column (output columns replace same-named
    inputs)."""
    from literature_to_facts_spark.datapipe.textclean import line_dedup, pii_redact

    deduped = line_dedup(line_docs, min_df=2, min_line_chars=10)
    out = pii_redact(deduped, text_col="clean_text")
    assert out.columns.count("clean_text") == 1
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["clean_text"] == f"{UNIQ[1]}\n--"
    # and an explicit output_col leaves the input column alone
    out2 = pii_redact(deduped, text_col="clean_text", output_col="redacted")
    assert "redacted" in out2.columns and out2.columns.count("clean_text") == 1


def test_pii_oracle_null_text_parity(spark):
    """The entry-query synthesis (concat in Spark) and the oracle synthesis
    ('||' in DuckDB) must agree on NULL-text docs: Spark's concat propagates
    NULL while DuckDB's concat() SKIPS NULL args — the oracle uses '||'
    precisely so a NULL-text doc (even one with doc_id % 3 == 0) stays NULL
    on both sides instead of sprouting planted PII in DuckDB only."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em
    from literature_to_facts_spark.datapipe.textclean import pii_redact

    rows = [(3, None), (6, "plain text"), (9, "see 10.1.2.3"), (2, None)]
    sdocs = spark.createDataFrame(rows, ["doc_id", "text"]).selectExpr(
        "doc_id", f"concat(text, {em._PII_SUFFIX_SPARK}) AS text"
    )
    got = [
        (r["doc_id"], r["n_email"], r["n_ipv4"], r["n_phone"], r["has_pii"], r["clean_text"])
        for r in pii_redact(sdocs)
        .select("doc_id", "n_email", "n_ipv4", "n_phone", "has_pii", "clean_text")
        .collect()
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(em._pii_oracle()).fetchall()
    assert sorted(got) == sorted(want)
    by_id = {t[0]: t for t in got}
    assert by_id[3][1:] == (0, 0, 0, False, None)  # NULL text, %3==0: no planted PII
    assert by_id[9][2] == 2 and by_id[9][4] is True  # own ip + planted suffix


def test_line_dedup_incremental_index_param_stamp(spark, tmp_path):
    """build_line_frequency_index stamps min_line_chars into the line_key
    field metadata; the stamp survives a parquet round-trip and a
    mismatched probe fails at call time instead of silently combining
    frequencies over two different line populations."""
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup_incremental,
    )

    docs = spark.createDataFrame(
        [(1, "a boilerplate line long enough.\nshort"),
         (2, "a boilerplate line long enough.\nunique body text here")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "line_idx")
    build_line_frequency_index(docs, min_line_chars=10).write.parquet(path)
    idx = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(3, "a boilerplate line long enough.\nnew doc body")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="min_line_chars=10"):
        line_dedup_incremental(batch, idx, min_line_chars=20)
    # matching threshold passes; a hand-built index (no stamp) is accepted
    assert line_dedup_incremental(batch, idx, min_line_chars=10).count() == 1
    bare = idx.select(
        F.col("line_key").cast("bigint").alias("line_key"), "df"
    )
    assert line_dedup_incremental(batch, bare, min_line_chars=20).count() == 1


# ----------------------------------------------- group-scoped (per-host) mode

_SITE_NAV = "Subscribe to our newsletter for updates"


@pytest.fixture()
def grouped_docs(spark):
    rows = [
        # host A: nav line on both pages -> boilerplate WITHIN A
        (1, "a.com", f"{_SITE_NAV}\nunique article one goes here"),
        (2, "a.com", f"{_SITE_NAV}\nunique article two goes here"),
        # host B: SAME line once -> not frequent within B, kept
        (3, "b.com", f"{_SITE_NAV}\nanother site entirely here"),
        # NULL host: never deduped even if the line repeats
        (4, None, f"{_SITE_NAV}\nnull host page"),
        (5, None, f"{_SITE_NAV}\nsecond null host page"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "host", "text"])


def test_line_dedup_grouped_scopes_frequency_to_group(spark, grouped_docs):
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    out = {
        r["doc_id"]: r
        for r in line_dedup(
            grouped_docs, min_df=2, group_col="host", carry_cols=("host",)
        ).collect()
    }
    assert out[1]["clean_text"] == "unique article one goes here"
    assert out[2]["n_dropped"] == 1
    # same line on host B survives (df within B = 1)
    assert out[3]["clean_text"].startswith(_SITE_NAV)
    # NULL-group rows never dedup, even though the line repeats across them
    assert out[4]["n_dropped"] == 0 and out[5]["n_dropped"] == 0
    # global mode WOULD have removed it everywhere (control)
    from literature_to_facts_spark.datapipe.textclean import line_dedup as ld

    global_out = {r["doc_id"]: r for r in ld(grouped_docs, min_df=2).collect()}
    assert global_out[3]["n_dropped"] == 1


def test_line_dedup_grouped_single_group_equals_global(spark, line_docs):
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    one = line_docs.withColumn("g", F.lit("x"))
    grouped = line_dedup(one, min_df=2, group_col="g")
    glob = line_dedup(line_docs, min_df=2)
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["clean_text"], r["n_lines"], r["n_dropped"])
        for r in df.collect()
    )
    assert key(grouped) == key(glob)


def test_line_dedup_grouped_incremental_and_stamp(spark, grouped_docs, tmp_path):
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup,
        line_dedup_incremental,
    )

    hist = grouped_docs.where(F.col("doc_id") <= 2)
    batch = grouped_docs.where(F.col("doc_id") > 2)
    idx = build_line_frequency_index(hist, group_col="host")
    got = line_dedup_incremental(
        batch, idx, min_df=2, group_col="host", carry_cols=("host",)
    )
    full = line_dedup(
        grouped_docs, min_df=2, group_col="host", carry_cols=("host",)
    ).where(F.col("doc_id") > 2)
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["clean_text"], r["n_dropped"]) for r in df.collect()
    )
    assert key(got) == key(full)
    # stamp guard: a global-mode probe against a grouped index fails loudly
    with pytest.raises(ValueError, match="group_col"):
        line_dedup_incremental(batch, idx, min_df=2)
    # ... and survives a parquet round-trip
    idx.write.mode("overwrite").parquet(str(tmp_path / "gidx"))
    rt = spark.read.parquet(str(tmp_path / "gidx"))
    with pytest.raises(ValueError, match="group_col"):
        line_dedup_incremental(batch, rt, min_df=2)


def test_line_dedup_grouped_validation(spark, grouped_docs):
    import pytest as _pytest

    from literature_to_facts_spark.datapipe.textclean import line_dedup

    with _pytest.raises(ValueError, match="group_col"):
        line_dedup(grouped_docs, group_col="nope")
