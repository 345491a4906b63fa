"""Store-side KG query operators (engine/kgquery.py).

Small hand-computable fixtures pin the semantics the DuckDB oracles then
re-verify at scale: exact per-predicate counts, statistics-driven join
planning that never changes a join's rows, and the bucketed layout.
"""

import pytest

from literature_to_facts_spark.engine.kgquery import (
    pattern_join_ordered,
    predicate_stats,
    star_join_ordered,
    write_bucketed,
)


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        (1, "lang", "en"),
        (1, "lang", "en"),  # duplicate triple: counted in n_triples, once in distincts
        (1, "source", "a.com"),
        (2, "lang", "fr"),
        (2, "source", "a.com"),
        (2, "mentions_x", "3"),
        (3, "lang", "en"),
    ]
    return spark.createDataFrame(rows, "subj bigint, pred string, obj string")


def test_predicate_stats(triples):
    got = {r["pred"]: r for r in predicate_stats(triples).collect()}
    assert got["lang"]["n_triples"] == 4
    assert got["lang"]["n_subj"] == 3
    assert got["lang"]["n_obj"] == 2  # en, fr
    assert got["source"]["n_subj"] == 2 and got["source"]["n_obj"] == 1
    assert got["mentions_x"]["n_triples"] == 1


@pytest.fixture(scope="module")
def star_triples(spark):
    rows = []
    for i in range(60):
        rows.append((i, "lang", ["en", "fr", "de"][i % 3]))
        rows.append((i, "source", f"host{i % 7}.com"))
        if i % 4 == 0:
            rows.append((i, "mentions_x", str(i % 5)))
        if i % 10 == 0:
            rows.append((i, "lang", ["en", "fr", "de"][i % 3]))  # dup triple
    return spark.createDataFrame(rows, "subj bigint, pred string, obj string")


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """The 100 TB layout contract: two tables bucketed+sorted on the join
    key with equal bucket counts join with ZERO Exchange — the shuffle is
    paid once at write time, never again per query.  Read both through the
    catalog: a bare parquet read of the same files drops the bucket spec."""
    docs = spark.range(400).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS STRING) AS lang", "id * 3 AS n_chars"
    )
    write_bucketed(
        docs.select("doc_id", "lang"), "t_docs_a", "doc_id", 4,
        sort_cols=["doc_id"], path=str(tmp_path / "a"),
    )
    write_bucketed(
        docs.select("doc_id", "n_chars"), "t_docs_b", "doc_id", 4,
        sort_cols=["doc_id"], path=str(tmp_path / "b"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_docs_a").join(spark.table("t_docs_b"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 400
        # control: the same join WITHOUT bucketing shuffles both sides
        raw = spark.read.parquet(str(tmp_path / "a")).join(
            spark.read.parquet(str(tmp_path / "b")), on="doc_id"
        )
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_docs_a")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")


# ---------------------------------------------------------------------------
# pattern_join_ordered (statistics-driven physical planning)
# ---------------------------------------------------------------------------


def test_pattern_join_ordered_results_plan_independent(spark, star_triples):
    stats = predicate_stats(star_triples)
    with_stats = pattern_join_ordered(star_triples, "mentions_x", "lang", stats)
    without = pattern_join_ordered(star_triples, "mentions_x", "lang", None)
    assert sorted(map(tuple, with_stats.collect())) == sorted(
        map(tuple, without.collect())
    )
    assert with_stats.columns == ["subj", "val_a", "val_b"]


def test_pattern_join_ordered_broadcasts_small_side(spark, star_triples):
    """With stats, the selective pattern side is broadcast (no shuffle of
    the big side); without stats the join shuffles both sides."""
    stats = predicate_stats(star_triples)
    planned = pattern_join_ordered(
        star_triples, "mentions_x", "lang", stats
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in planned
    naive = pattern_join_ordered(
        star_triples, "mentions_x", "lang", None,
    )._jdf.queryExecution().analyzed().toString()
    # the fallback must not secretly broadcast via the decision path; AQE
    # may still pick a broadcast at runtime from sizes, so the executed
    # plan cannot be pinned — the analyzed plan must carry no hint
    assert "ResolvedHint" not in naive, naive


def test_pattern_join_ordered_threshold_disables_broadcast(spark, star_triples):
    stats = predicate_stats(star_triples)
    # threshold 0: no stats-driven hint — plan is whatever Spark picks,
    # but the hint node must be absent from the analyzed plan
    analyzed = pattern_join_ordered(
        star_triples, "mentions_x", "lang", stats, broadcast_threshold=0
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def _hinted_sides(df):
    """The subtree under every ``ResolvedHint`` of ``df``'s analyzed plan,
    as strings — the join sides the statistics marked for broadcast."""
    out, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "ResolvedHint":
            out.append(node.child().toString())
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return out


def test_stale_stats_never_broadcast_the_unknown_side(spark, star_triples):
    """A predicate missing from a stale stats table is unknown, not empty:
    neither join may hint its (possibly huge) side for broadcast, while a
    known small side still is."""
    stale = predicate_stats(star_triples.where("pred != 'mentions_x'"))
    pattern = _hinted_sides(
        pattern_join_ordered(star_triples, "mentions_x", "lang", stale)
    )
    star = _hinted_sides(
        star_join_ordered(star_triples, ["mentions_x", "lang", "source"], stale)
    )
    assert pattern and star
    for hinted in (pattern, star):
        assert not any("mentions_x" in h for h in hinted), hinted
    assert any("lang" in h for h in pattern), pattern


# ---------------------------------------------------------------------------
# star_join_ordered (N-pattern statistics-driven star join)
# ---------------------------------------------------------------------------


def test_star_join_matches_naive_and_caller_column_order(spark, star_triples):
    preds = ["mentions_x", "lang", "source"]
    stats = predicate_stats(star_triples)
    with_stats = star_join_ordered(
        star_triples, preds, stats, aliases=["mx", "lg", "sc"]
    )
    naive = star_join_ordered(star_triples, preds, None,
                              aliases=["mx", "lg", "sc"])
    assert with_stats.columns == ["subj", "mx", "lg", "sc"]
    assert naive.columns == ["subj", "mx", "lg", "sc"]
    assert sorted(map(tuple, with_stats.collect())) == sorted(
        map(tuple, naive.collect())
    )
    # the dup 'lang' triple multiplies rows (raw pattern join, no dedup) —
    # subjects 0,20,40 carry mentions_x AND a duplicated lang row
    rows = with_stats.where("subj = 20").count()
    assert rows == 2


def test_star_join_broadcasts_all_small_sides(spark, star_triples):
    stats = predicate_stats(star_triples)
    plan = star_join_ordered(
        star_triples, ["mentions_x", "lang", "source"], stats
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    analyzed = star_join_ordered(
        star_triples, ["mentions_x", "lang", "source"], stats,
        broadcast_threshold=0,
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_star_join_validation(spark, star_triples):
    with pytest.raises(ValueError, match="at least two"):
        star_join_ordered(star_triples, ["lang"])
    with pytest.raises(ValueError, match="aliases"):
        star_join_ordered(star_triples, ["lang", "source"], aliases=["x"])
    with pytest.raises(ValueError, match="aliases"):
        star_join_ordered(
            star_triples, ["lang", "source"], aliases=["x", "x"]
        )
