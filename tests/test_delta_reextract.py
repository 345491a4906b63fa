"""Tests for engine/delta — snapshot_diff and delta_reextract, incremental
KG maintenance."""

import pytest
from pyspark.sql import functions as F

MENTION_RE = "(spark|window|merge|batch)"


def _extract(d):
    return (
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(MENTION_RE), F.lit(1))
            ).alias("mention"),
        )
        .groupBy("doc_id", "mention")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_times"))
    )


@pytest.fixture(scope="module")
def snapshots(spark):
    old = spark.createDataFrame(
        [
            (1, "spark and window here"),
            (2, "merge merge batch"),
            (3, "window only doc to be removed"),
            (4, "spark doc that will change"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, "spark and window here"),  # unchanged
            (2, "merge merge batch"),  # unchanged
            (4, "batch doc after the change"),  # changed: spark -> batch
            (5, "window window spark added"),  # added
        ],
        ["doc_id", "text"],
    )
    return old, new


def test_snapshot_diff_semantics(spark):
    from literature_to_facts_spark.engine.delta import snapshot_diff

    old = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "will change"),
            (3, "will be removed"),
            (4, None),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "has changed"),
            (4, None),  # NULL -> NULL: unchanged
            (5, "null to text"),  # NULL -> text: changed
            (6, "brand new"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    # unchanged docs (1 and the NULL->NULL 4) are not emitted
    assert set(out) == {2, 3, 5, 6}
    assert out[2]["status"] == "changed"
    assert out[3]["status"] == "removed" and out[3]["new_hash"] is None
    assert out[5]["status"] == "changed" and out[5]["old_hash"] is None
    assert out[6]["status"] == "added" and out[6]["old_hash"] is None


def test_snapshot_diff_never_carries_text(spark):
    """Only id + hash cross the shuffle: md5 is computed map-side (below
    the Exchange) and the join condition/outputs reference ids and hashes
    only — at 100 TB the diff must not shuffle document text."""
    from literature_to_facts_spark.engine.delta import snapshot_diff

    old = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    new = spark.createDataFrame([(1, "b")], ["doc_id", "text"])
    plan = (
        snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    )
    join_line = next(l for l in plan.splitlines() if "FullOuter" in l)
    assert "text" not in join_line, plan
    # the shuffles partition on the id alias, never on/with text
    for l in plan.splitlines():
        if "Exchange hashpartitioning" in l:
            assert "_id#" in l and "text" not in l, l
    # md5 appears below the exchanges (map-side), i.e. the plan prints the
    # join/exchange nodes before the md5-computing projects
    assert plan.index("md5") > plan.index("Exchange hashpartitioning"), plan


def test_delta_equals_full_reextraction(spark, snapshots):
    from literature_to_facts_spark.engine.delta import delta_reextract, snapshot_diff

    old, new = snapshots
    for bcast in (True, False):
        got = delta_reextract(
            _extract(old), snapshot_diff(old, new), new, _extract,
            broadcast_diff=bcast,
        )
        want = _extract(new)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_delta_does_not_reextract_unchanged_docs(spark, snapshots):
    """Negative-space proof: poison the stored triples of an UNCHANGED doc —
    the poison must survive verbatim (the operator provably never re-derives
    outside the delta), while changed/removed docs' stale triples vanish."""
    from literature_to_facts_spark.engine.delta import delta_reextract, snapshot_diff

    old, new = snapshots
    poisoned = _extract(old).withColumn(
        "n_times",
        F.when(F.col("doc_id") == 1, F.lit(999).cast("bigint")).otherwise(
            F.col("n_times")
        ),
    )
    out = delta_reextract(poisoned, snapshot_diff(old, new), new, _extract)
    rows = {(r["doc_id"], r["mention"]): r["n_times"] for r in out.collect()}
    assert rows[(1, "spark")] == 999  # stored value kept: not re-extracted
    assert rows[(4, "batch")] == 1  # changed doc re-extracted fresh
    assert (3, "window") not in rows  # removed doc's triples dropped
    assert rows[(5, "window")] == 2  # added doc extracted


def test_delta_store_side_is_broadcast_filtered(spark, snapshots):
    """The OPERATOR's own plan (broadcast_diff=True, the daily-delta mode):
    both the store's anti join and the corpus's semi join are
    BroadcastHashJoins, and the shared (id, status) diff projection is
    built once — the second consumer reads a ReusedExchange, so an
    unpersisted snapshot_diff input runs its full-outer join once."""
    from literature_to_facts_spark.engine.delta import delta_reextract, snapshot_diff

    old, new = snapshots
    out = delta_reextract(
        _extract(old), snapshot_diff(old, new), new, _extract,
        broadcast_diff=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan, plan
    assert "LeftSemi, BuildRight" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the diff computes ONCE: Catalyst pushes each join's status predicate
    # into its own build subtree (no ReusedExchange possible), so the
    # operator persists the (id, status) projection — both build sides
    # must read the cache, not re-run the full-outer diff join
    # (persisted subtrees print their cached plan per reference, so the
    # FullOuter text may still appear under InMemoryRelation — the scan
    # count is the reliable pin)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_delta_reextract_real_extractor_battery(spark, corpus, sides):
    """Cross-module proof: delta_reextract composed with the REAL extraction
    engine (extract_triples over the GCN/ATel/arXiv battery) and a
    url-keyed snapshot_diff equals from-scratch extraction of the new
    snapshot — the kg_construct operational loop end to end."""
    from literature_to_facts_spark.engine.delta import delta_reextract, snapshot_diff
    from literature_to_facts_spark.engine.pipeline import extract_triples

    pdf = corpus.documents.reset_index(drop=True)
    old_pd = pdf[pdf.index % 9 != 0]  # every 9th doc is "added" later
    new_pd = pdf[pdf.index % 7 != 0].copy()  # every 7th doc removed
    # every 5th surviving doc changes: text AND html move together so the
    # corpus text==decode(html) invariant holds for the changed snapshot
    chg = new_pd.index % 5 == 0
    new_pd.loc[chg, "text"] = new_pd.loc[chg, "text"] + "\nGRB 210101A detected."
    new_pd.loc[chg, "html"] = new_pd.loc[chg, "html"].map(
        lambda b: b + b"\nGRB 210101A detected."
    )
    old = spark.createDataFrame(old_pd)
    new = spark.createDataFrame(new_pd)

    def extract(d):
        return extract_triples(spark, d, sides)

    diff = snapshot_diff(old, new, id_col="url", text_col="text")
    statuses = {r["status"] for r in diff.collect()}
    assert statuses == {"added", "removed", "changed"}  # all three exercised
    got = delta_reextract(extract(old), diff, new, extract, id_col="url")
    want = extract(new)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
