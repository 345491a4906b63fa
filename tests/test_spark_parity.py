"""Spark pipeline vs shim oracle: triple-level P/R and dict-view goldens.

The BASELINE.json gate is P/R >= 0.95 vs the reference on the fixture
corpus; the suite asserts the stronger P = R = 1.0.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from literature_to_facts_spark.engine.dictview import dict_view, rows_to_python
from literature_to_facts_spark.engine.kinds import KIND_OTHER, classify_url
from literature_to_facts_spark.engine.valuable import (
    valuable_filter_semijoin,
    valuable_filter_window,
)
from literature_to_facts_spark.shim import reference_shim as rs


def shim_triple_set(corpus, shim_sides):
    out = set()
    docs = corpus.documents
    for _, row in docs.iterrows():
        kind = classify_url(row["url"])
        if kind == "other":
            continue
        try:
            doc = rs.decode_doc(kind, row["text"])
            _, triples = rs.extract_doc_facts(kind, doc, shim_sides)
        except Exception:
            continue
        for s, p, o in triples:
            out.add((s.strip("<>"), p.strip("<>").split("#")[-1], o))
    return out


@pytest.fixture(scope="module")
def spark_triple_set(triples_df):
    rows = triples_df.select("subj", "pred", "obj_n3").collect()
    return {(r["subj"], r["pred"], r["obj_n3"]) for r in rows}


def test_triple_precision_recall(spark_triple_set, corpus, shim_sides):
    golden = shim_triple_set(corpus, shim_sides)
    tp = len(spark_triple_set & golden)
    precision = tp / max(len(spark_triple_set), 1)
    recall = tp / max(len(golden), 1)
    assert precision == 1.0, sorted(spark_triple_set - golden)[:10]
    assert recall == 1.0, sorted(golden - spark_triple_set)[:10]
    assert len(golden) > 1000  # corpus actually exercises the batteries


def test_dedup_is_set_semantics(triples_df):
    n = triples_df.count()
    assert triples_df.select("subj", "pred", "obj_n3").distinct().count() == n


def test_dict_view_goldens(spark, triples_raw_df):
    """Spark dict view reproduces the reference test assertions end-to-end."""
    dv = dict_view(triples_raw_df)
    by_subj = {}
    for r in dv.collect():
        by_subj.setdefault(r["subj"], []).append(r)

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#gcn31106"])
    assert g["paper:grb_isot"] == "2021-11-23T03:52:23.500000"
    assert g["paper:mentions_named_hawc"] == ["HAWC-211123A"]
    assert g["paper:hawc_ra"] == 34.12
    assert g["paper:hawc_dec"] == -8.05

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#gcn31373"])
    assert g["paper:cites"] == [
        f"http://odahub.io/ontology/paper#gcn{i}"
        for i in (31347, 31350, 31351, 31354, 31360, 31372)
    ]
    assert g["paper:mentions_named_grb"] == ["GRB220101A"]

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#gcn31126"])
    assert g["paper:event_ra"] == 43.59
    assert g["paper:event_isot"] == "2021-11-25T06:22:21.550000"

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#atel15100"])
    assert g["paper:mentions_named_event"] == [
        "IceCube-170922A", "IceCube-211208A", "IceCube-2112108A", "PKS0735+17",
    ]
    assert g["paper:cites_atel_id"] == "15099"

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#gcn31182"])
    assert g["paper:swift_trigger_id"] == 1088376

    g = rows_to_python(by_subj["http://odahub.io/ontology/paper#gcn20249"])
    assert g["paper:integral_ul"] == 4.6e-7


def test_valuable_filter_variants_agree(spark, docs_df, sides):
    """Batch-local filter (pipeline) == window variant == semi-join variant."""
    from literature_to_facts_spark.engine import pipeline as pl

    sides_bc = sides
    bc = spark.sparkContext.broadcast(sides_bc)

    def run_unfiltered(batches):
        for pdf in batches:
            parts = []
            for kind in ("gcn", "atel", "arxiv"):
                sub = pdf[pdf["kind"] == kind]
                if len(sub) == 0:
                    continue
                t, _ = pl.extract_kind_batch(kind, sub, bc.value)
                parts.append(t)
            if parts:
                out = pd.concat(parts, ignore_index=True)[pl.TRIPLE_COLS]
                if len(out):
                    yield out

    raw = pl.relevant_docs(docs_df).mapInPandas(run_unfiltered, schema=pl.TRIPLE_SCHEMA)
    raw = raw.cache()
    w = valuable_filter_window(raw)
    s = valuable_filter_semijoin(raw)
    batch_local = pl.extract_triples(spark, docs_df, sides_bc, dedup=False)

    def key_set(df):
        return {
            (r["subj"], r["pred"], r["obj_n3"])
            for r in df.select("subj", "pred", "obj_n3").collect()
        }

    kw, ks, kb = key_set(w), key_set(s), key_set(batch_local)
    assert kw == ks == kb
    assert len(kw) < len(key_set(raw))  # the filter actually drops docs
    raw.unpersist()


def test_column_pruning_reads_only_url_text(spark, corpus, sides, tmp_path):
    """html must never be read: check ReadSchema on a parquet-backed run."""
    from literature_to_facts_spark.engine.pipeline import extract_triples

    path = str(tmp_path / "documents.parquet")
    df = spark.createDataFrame(corpus.documents)
    df.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    plan = extract_triples(spark, docs, sides)._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan
    assert "PushedFilters" in plan or "StartsWith" in plan


def test_extraction_metrics_and_lineage(spark, docs_df, sides, tmp_path):
    from literature_to_facts_spark.engine.pipeline import LINEAGE_PRED, extract_triples
    from literature_to_facts_spark.streaming.incremental import write_observed

    combined = extract_triples(spark, docs_df, sides, run_id="t1")
    path = str(tmp_path / "t1")
    m = write_observed(combined, path)
    tasks = m["tasks"]
    assert len(tasks) >= 1
    assert sum(t["docs_in"] for t in tasks) == docs_df.where(
        ~F.col("url").startswith("https://example.org/")
    ).count()
    assert spark.read.parquet(path).count() == m["n_triples"]
    assert sum(t["triples_out"] for t in tasks) >= m["n_triples"]  # pre-dedup count
    lineage = combined.where(F.col("pred") == LINEAGE_PRED).select("subj").collect()
    assert {r["subj"] for r in lineage} == {"t1"}


def test_incremental_resume(spark, docs_df, sides, tmp_path):
    from literature_to_facts_spark.engine.pipeline import relevant_docs
    from literature_to_facts_spark.streaming.incremental import (
        read_all_triples,
        run_incremental,
    )

    out = str(tmp_path / "inc")
    r1 = run_incremental(spark, docs_df, out, sides, n_buckets=4, run_id="r1")
    assert r1["buckets_processed"] == 4 and r1["buckets_skipped"] == 0
    n1 = read_all_triples(spark, out, 4).count()
    # every relevant doc is counted once in the ledger: the per-task lineage
    # rows must survive the bucket's dedup (one row per task, not per bucket)
    ledger = spark.read.parquet(os.path.join(out, "ledger"))
    assert ledger.agg(F.sum("docs_in")).first()[0] == relevant_docs(docs_df).count()
    # the observed count is exactly what each bucket wrote
    for r in ledger.collect():
        bucket = os.path.join(out, "triples", f"bucket={r['bucket']}")
        assert spark.read.parquet(bucket).count() == r["n_triples"] > 0
    # resume: same run_id -> committed buckets are skipped
    r2 = run_incremental(spark, docs_df, out, sides, n_buckets=4, run_id="r1")
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 4
    assert read_all_triples(spark, out, 4).count() == n1
    # a NEW run_id (fresh snapshot / loop tick) reprocesses, idempotently
    r3 = run_incremental(spark, docs_df, out, sides, n_buckets=4, run_id="r3")
    assert r3["buckets_processed"] == 4 and r3["buckets_skipped"] == 0
    assert read_all_triples(spark, out, 4).count() == n1
    # and the union of buckets equals the one-shot pipeline
    from literature_to_facts_spark.engine.pipeline import extract_triples

    direct = extract_triples(spark, docs_df, sides).count()
    assert n1 == direct


def test_resume_under_another_bucket_count_raises(spark, docs_df, sides, tmp_path):
    """A bucket id means something only under the count it was hashed with:
    resuming a run id at another bucket count, or from ledger rows that did
    not record one, raises instead of skipping the old ids."""
    from literature_to_facts_spark.streaming.incremental import run_incremental

    out = str(tmp_path / "inc")
    run_incremental(spark, docs_df, out, sides, n_buckets=4, run_id="r")
    ledger = spark.read.parquet(os.path.join(out, "ledger")).collect()
    assert {x["n_buckets"] for x in ledger} == {4}
    with pytest.raises(ValueError, match="n_buckets 4.*not 2"):
        run_incremental(spark, docs_df, out, sides, n_buckets=2, run_id="r")
    assert len(spark.read.parquet(os.path.join(out, "ledger")).collect()) == 4

    legacy = str(tmp_path / "legacy")  # a ledger row from before n_buckets
    spark.createDataFrame(
        [(0, "r", 0.0, 0, 0, 0, "[]")],
        "bucket int, run_id string, committed_at double, n_triples long, "
        "docs_in long, identity_failures long, metrics_json string",
    ).write.parquet(os.path.join(legacy, "ledger"))
    with pytest.raises(ValueError, match="n_buckets unrecorded"):
        run_incremental(spark, docs_df, legacy, sides, n_buckets=2, run_id="r")


def test_incremental_runs_battery_once(spark, docs_df, sides, tmp_path):
    """The resumable driver shows each relevant doc to the battery exactly
    once: a plugin extractor counts the rows it sees in an accumulator."""
    from literature_to_facts_spark.engine.pipeline import relevant_docs
    from literature_to_facts_spark.extractors.registry import (
        register_extractor,
        unregister_extractor,
    )
    from literature_to_facts_spark.streaming.incremental import run_incremental

    seen = spark.sparkContext.accumulator(0)

    def x_count_rows(prep: pd.DataFrame, _sides) -> dict:
        seen.add(len(prep))
        return {}

    register_extractor("gcn", "count_rows", x_count_rows)
    try:
        run_incremental(
            spark, docs_df, str(tmp_path / "inc"), sides, n_buckets=4, run_id="once"
        )
    finally:
        assert unregister_extractor("gcn", "count_rows")
    n_gcn = relevant_docs(docs_df).where(F.col("kind") == "gcn").count()
    assert n_gcn > 0
    assert seen.value == n_gcn


def test_corrupt_ledger_fails_loudly(spark, docs_df, sides, tmp_path):
    """A ledger that exists but cannot be read must raise, never be taken
    for "nothing committed" (which would silently reprocess every bucket);
    a ledger dir holding no data files yet still means nothing committed."""
    from literature_to_facts_spark.streaming.incremental import (
        completed_buckets,
        run_incremental,
    )

    out = tmp_path / "inc"
    (out / "ledger" / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(out), "r1") == set()
    (out / "ledger" / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="FILE_FOOTER|not a Parquet file"):
        run_incremental(spark, docs_df, str(out), sides, n_buckets=2, run_id="r1")
    assert not (out / "triples").exists()


def test_bucket_without_relevant_docs_commits_empty(spark, docs_df, sides, tmp_path):
    """Filler-only input: every bucket still commits a ledger row, with
    n_triples == 0 read from an observation that must not block."""
    from literature_to_facts_spark.streaming.incremental import run_incremental

    filler = docs_df.where(F.col("url").startswith("https://example.org/"))
    assert filler.count() > 0
    out = str(tmp_path / "inc")
    r = run_incremental(spark, filler, out, sides, n_buckets=2, run_id="f")
    assert r["buckets_processed"] == 2
    ledger = spark.read.parquet(os.path.join(out, "ledger")).collect()
    assert sorted(x["bucket"] for x in ledger) == [0, 1]
    assert all(x["n_triples"] == 0 and x["docs_in"] == 0 for x in ledger)
    for b in (0, 1):
        assert spark.read.parquet(os.path.join(out, "triples", f"bucket={b}")).count() == 0


def _triple_set(df) -> set:
    return {tuple(r) for r in df.select("subj", "pred", "obj_n3").collect()}


@pytest.fixture(scope="module")
def mirrored_docs(spark, corpus):
    """The corpus plus re-crawls of literature pages under a tracking-
    parameter url (perfbench/inputs.mirror_url's even-``i`` variant): the
    mirror keeps the page text, so it re-derives the same facts, and its
    url hashes to its own incremental bucket."""
    docs = corpus.documents
    lit = docs[[classify_url(u) != KIND_OTHER for u in docs["url"]]].head(12).copy()
    lit["url"] = [
        u + ("&" if "?" in u else "?") + "utm_source=mirror" for u in lit["url"]
    ]
    return spark.createDataFrame(pd.concat([docs, lit], ignore_index=True)).cache()


class _Crash(Exception):
    pass


def _crash_once(monkeypatch, k: int, after_write: bool):
    """Make the incremental driver's ``k``-th bucket write (0-based) raise
    once: after the real write when ``after_write`` (bucket ``k``'s triples
    are on disk, its ledger row is not), else at the call's entry (bucket
    ``k-1``'s ledger row is appended, bucket ``k`` has not started)."""
    from literature_to_facts_spark.streaming import incremental

    real = incremental.write_observed
    calls = []

    def flaky(combined, path):
        calls.append(path)
        crash = len(calls) == k + 1
        if crash and not after_write:
            raise _Crash(path)
        m = real(combined, path)
        if crash:
            raise _Crash(path)
        return m

    monkeypatch.setattr(incremental, "write_observed", flaky)


@pytest.mark.parametrize(
    "k,after_write,skipped",
    [(1, True, 1), (2, False, 2)],
    ids=["after-write-before-ledger", "after-ledger-append"],
)
def test_incremental_crash_resume_converges(
    spark, mirrored_docs, sides, tmp_path, monkeypatch, k, after_write, skipped
):
    """A run killed (a) between bucket 1's triple write and its ledger
    append, or (b) at bucket 2's start, just after bucket 1's ledger
    append, then resumed under the same run_id and compacted, yields
    exactly the one-shot graph — over input whose crawl duplicates span
    buckets."""
    from literature_to_facts_spark.engine.graph import compact_graph, read_triples
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.streaming.incremental import (
        buckets_glob,
        completed_buckets,
        run_incremental,
    )

    out = str(tmp_path / "inc")
    _crash_once(monkeypatch, k, after_write)
    with pytest.raises(_Crash):
        run_incremental(spark, mirrored_docs, out, sides, n_buckets=3, run_id="c")
    assert completed_buckets(spark, out, "c") == set(range(skipped))
    r = run_incremental(spark, mirrored_docs, out, sides, n_buckets=3, run_id="c")
    assert r["buckets_skipped"] == skipped and r["buckets_processed"] == 3 - skipped
    graph = str(tmp_path / "graph")
    compact_graph(spark, buckets_glob(out, 3), graph)
    assert _triple_set(read_triples(spark, graph)) == _triple_set(
        extract_triples(spark, mirrored_docs, sides)
    )


def test_cross_bucket_duplicates_compact_to_one_shot(
    spark, mirrored_docs, sides, tmp_path
):
    """Set semantics are global: a fact re-derived in two buckets from a
    crawl duplicate is stored twice by the per-bucket dedup, once after
    compaction, and the compacted graph equals the one-shot set."""
    from literature_to_facts_spark.engine.graph import compact_graph, read_triples
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.streaming.incremental import (
        bucket_of,
        buckets_glob,
        read_all_triples,
        run_incremental,
    )

    pairs = mirrored_docs.where(F.col("url").contains("utm_source=mirror")).select(
        bucket_of(F.col("url"), 3).alias("b_mirror"),
        bucket_of(F.regexp_replace("url", "[?&]utm_source=mirror$", ""), 3).alias("b"),
    )
    assert pairs.where(F.col("b_mirror") != F.col("b")).count() > 0

    out = str(tmp_path / "inc")
    run_incremental(spark, mirrored_docs, out, sides, n_buckets=3, run_id="x")
    graph = str(tmp_path / "graph")
    n_graph = compact_graph(spark, buckets_glob(out, 3), graph)
    assert read_all_triples(spark, out, 3).count() > n_graph
    assert _triple_set(read_triples(spark, graph)) == _triple_set(
        extract_triples(spark, mirrored_docs, sides)
    )


def _jobs_launched(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kg_driver_job_budget(spark, docs_df, sides, triples_df, tmp_path):
    """Each committed table is one write: counts and lineage are observed on
    it, never re-read; graph reads pin their schema and list on the driver.
    With AQE a write behind one shuffle is two jobs (map stage + result):
    hashing the dedup on ``pred`` adds no job."""
    from literature_to_facts_spark.engine.graph import (
        compact_graph,
        read_triples,
        write_triples,
    )
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.streaming.incremental import (
        buckets_glob,
        run_incremental,
    )

    docs_df.count()  # materialize the cached fixture outside the budget
    one_shot = str(tmp_path / "one_shot")
    n_write = _jobs_launched(
        spark, "budget-write",
        lambda: write_triples(extract_triples(spark, docs_df, sides), one_shot),
    )
    assert n_write <= 2  # the dedup's pred-hashed map stage + write
    out = str(tmp_path / "inc")
    n_inc = _jobs_launched(
        spark, "budget-inc",
        lambda: run_incremental(spark, docs_df, out, sides, n_buckets=2, run_id="j"),
    )
    assert n_inc <= 6  # per bucket: dedup map stage + write, ledger append
    graph = str(tmp_path / "graph")
    n_compact = _jobs_launched(
        spark, "budget-compact",
        lambda: compact_graph(spark, buckets_glob(out, 2), graph),
    )
    assert n_compact <= 2

    wide = str(tmp_path / "wide")
    write_triples(triples_df, wide)
    assert len([d for d in os.listdir(wide) if d.startswith("pred=")]) > 32
    assert _jobs_launched(spark, "budget-read", lambda: read_triples(spark, wide)) == 0


@pytest.mark.parametrize("seed", [7, 1234])
def test_heldout_seed_parity(seed):
    """P = R = 1.0 on corpora seeded differently from the committed fixture
    (guards against fixture-overfitting in the gated/vectorized extractors;
    pure pandas path, covers the full battery without a Spark session)."""
    from literature_to_facts_spark.engine.pipeline import extract_batch, make_sides
    from literature_to_facts_spark.sources.corpus import build_corpus

    c = build_corpus(n_docs=150, seed=seed)
    sides_v = make_sides(c.balrog, c.amon_notices, c.ads_authors)
    sides_s = rs.SideTables(
        balrog={r["url_json"]: r for _, r in c.balrog.iterrows()},
        amon_notices={r["url"]: r["notice_text"] for _, r in c.amon_notices.iterrows()},
        ads_authors={r["subject"]: r["gcn_authors"] for _, r in c.ads_authors.iterrows()},
    )
    docs = c.documents[["url", "text"]].copy()
    docs["kind"] = docs["url"].map(classify_url)
    out = extract_batch(docs, sides_v)
    got = set(zip(out["subj"], out["pred"], out["obj_n3"]))
    golden = set()
    for _, row in c.documents.iterrows():
        kind = classify_url(row["url"])
        if kind == "other":
            continue
        try:
            doc = rs.decode_doc(kind, row["text"])
            _, triples = rs.extract_doc_facts(kind, doc, sides_s)
        except Exception:
            continue
        for s, p, o in triples:
            golden.add((s.strip("<>"), p.strip("<>").split("#")[-1], o))
    assert len(golden) > 500
    assert got == golden, (sorted(got - golden)[:5], sorted(golden - got)[:5])
