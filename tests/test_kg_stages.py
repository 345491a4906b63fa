"""North-rule KG stages: entity linking, salted canonicalization, graph
materialization + N3 export, contemplate joins, publish chunking."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def gazetteer_df(spark, corpus):
    return spark.createDataFrame(corpus.gazetteer)


@pytest.fixture(scope="module")
def links_df(spark, triples_df, gazetteer_df):
    from literature_to_facts_spark.engine.linking import link_entities

    return link_entities(triples_df, gazetteer_df).cache()


def test_linking_alias_resolution(links_df):
    """IC211125A and IceCube-211125A both resolve to the same canonical URI."""
    rows = links_df.where(
        F.col("mention").isin("IC211125A", "IceCube-211125A")
    ).collect()
    uris = {r["canonical_uri"] for r in rows}
    assert uris == {"http://odahub.io/ontology/event#IceCube-211125A"}
    mentions = {r["mention"] for r in rows}
    assert mentions == {"IC211125A", "IceCube-211125A"}


def test_linking_is_broadcast(links_df):
    plan = links_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_link_triples_shape(links_df):
    from literature_to_facts_spark.engine.linking import link_triples

    lt = link_triples(links_df)
    r = lt.first()
    assert r["pred"] == "links_to_entity"
    assert r["obj_n3"].startswith("<http://odahub.io/ontology/event#")
    assert lt.count() == lt.select("subj", "obj").distinct().count()


def test_salted_canonicalization_matches_unsalted(links_df):
    from literature_to_facts_spark.engine.canonicalize import (
        canonical_entities,
        canonical_entities_unsalted,
    )

    salted = {
        r["canonical_uri"]: (r["n_mentions"], r["n_docs"], tuple(r["mention_forms"]))
        for r in canonical_entities(links_df, n_salts=16).collect()
    }
    plain = {
        r["canonical_uri"]: (r["n_mentions"], r["n_docs"], tuple(r["mention_forms"]))
        for r in canonical_entities_unsalted(links_df).collect()
    }
    assert salted == plain
    assert len(salted) > 5


def test_hot_entity_skew_present(links_df):
    """The corpus skew knob: the hot GRB dominates mention-bearing docs."""
    from literature_to_facts_spark.engine.canonicalize import canonical_entities

    ents = canonical_entities(links_df).collect()
    top = max(ents, key=lambda r: r["n_docs"])
    assert top["canonical_uri"].endswith("GRB220101A")
    total_docs = sum(r["n_docs"] for r in ents)
    assert top["n_docs"] / total_docs > 0.1


def test_counterpart_and_reaction_queries(spark, triples_df):
    from literature_to_facts_spark.engine.contemplate import (
        counterpart_matches,
        counterpart_summary,
        grb_reaction_summary,
    )

    m = counterpart_matches(triples_df)
    rows = m.collect()
    assert len(rows) >= 1
    # the golden LVC pair: 26221 reports S191109d, 26222 is the counterpart
    ev = [r for r in rows if r["event"] == "LIGO/Virgo S191109d"]
    assert ev, rows[:5]
    assert all(r["event_gcn_time"] != r["counterpart_gcn_time"] for r in rows)
    assert {r["instrument"] for r in ev} == {"acs", "ibis"}
    assert all(r["event_t0"] == "2019-11-09 01:07:17.22" for r in ev)

    s = {r["event"]: r for r in counterpart_summary(m).collect()}
    # SPARQL cross-product semantics: 2 predicate bindings (original_event,
    # lvc_event) x 2 instruments -> duplicates preserved, as in the
    # reference's non-DISTINCT query + per-row append (facts/learn.py:127-137)
    assert sorted(s["LIGO/Virgo S191109d"]["instrument"]) == [
        "acs", "acs", "ibis", "ibis",
    ]

    g = grb_reaction_summary(triples_df).collect()
    events = {r["event"] for r in g}
    assert {"GRB 190829A", "GRB 190829B", "GRB 190829C"} <= events
    assert all(r["event_t0"] != r["event_gcn_time"] for r in g)


def test_graph_write_partitioned_and_pruned(spark, triples_df, tmp_path):
    from literature_to_facts_spark.engine.graph import read_triples, write_triples

    path = str(tmp_path / "graph")
    write_triples(triples_df, path)
    back = read_triples(spark, path)
    assert back.count() == triples_df.count()
    # predicate filter must prune partitions at scan time
    q = back.where(F.col("pred") == "integral_ul")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert q.count() == triples_df.where(F.col("pred") == "integral_ul").count()
    assert "PartitionFilters" in plan and "pred" in plan.split("PartitionFilters")[1][:200]


def test_read_triples_keeps_numeric_looking_pred_a_string(spark, docs_df, sides, tmp_path):
    """A plugin predicate named like a number must not become an int column
    through partition type inference — a table holding only such
    predicates (here: the plugin's own facts) would otherwise read one."""
    import pandas as pd
    from pyspark.sql.types import StringType

    from literature_to_facts_spark.engine.graph import read_triples, write_triples
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.extractors.registry import (
        register_extractor,
        unregister_extractor,
    )

    def x_year(prep, _sides) -> dict:
        return {"1999": pd.Series("y", index=prep.index)}

    path = str(tmp_path / "graph")
    register_extractor("gcn", "year_pred", x_year)
    try:
        plugin_facts = extract_triples(spark, docs_df, sides).where(F.col("pred") == "1999")
        write_triples(plugin_facts, path)
    finally:
        assert unregister_extractor("gcn", "year_pred")
    back = read_triples(spark, path)
    assert back.schema["pred"].dataType == StringType()
    preds = back.groupBy("pred").count().collect()
    assert [r["pred"] for r in preds] == ["1999"] and preds[0]["count"] > 0


def test_driver_jvm_gets_c1_and_caller_java_options(spark, tmp_path):
    """The driver's C1-only option reaches the JVM together with a caller's
    own extraJavaOptions (a fresh JVM: the session fixture's is already up);
    the fixture's long-lived session, built with ``LONG_LIVED_DRIVER_CONF``,
    keeps C2.  The fresh JVM's class-data-sharing archive goes to the test's
    own cache directory, not the user's."""
    import json
    import os
    import subprocess
    import sys

    probe = (
        "import json\n"
        "from literature_to_facts_spark.config import get_spark\n"
        "s = get_spark(master='local[1]', extra_conf={"
        "'spark.driver.extraJavaOptions': '-Dl2f.probe=1'})\n"
        "mx = s.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))\n"
        "s.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "XDG_CACHE_HOME": str(tmp_path)}
    r = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    args = json.loads(r.stdout.strip().splitlines()[-1])
    assert "-XX:TieredStopAtLevel=1" in args and "-Dl2f.probe=1" in args
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert "-XX:TieredStopAtLevel=1" not in list(mx.getRuntimeMXBean().getInputArguments())


def test_compact_graph(spark, docs_df, sides, tmp_path):
    from literature_to_facts_spark.engine.graph import compact_graph
    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.streaming.incremental import (
        buckets_glob,
        run_incremental,
    )

    out = str(tmp_path / "inc2")
    run_incremental(spark, docs_df, out, sides, n_buckets=3, run_id="c1")
    n = compact_graph(spark, buckets_glob(out, 3), str(tmp_path / "compact"))
    direct = extract_triples(spark, docs_df, sides).count()
    assert n == direct
    # compacted table stays pred-partitioned (pruning works)
    back = spark.read.parquet(str(tmp_path / "compact"))
    assert back.where("pred = 'integral_ul'").count() > 0


def _only_exchange(df) -> str:
    """Partitioning of the one shuffle in ``df``'s plan (broadcasts aside).
    A materialized AQE plan (a cached frame's, say) prints its final plan
    and its initial plan; only the final one is read."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    (ex,) = re.findall(r"(?:^|- )Exchange ([^,\s]+)", plan, re.M)
    return ex


def test_only_exchange_reads_final_plan_of_cached_frame(spark):
    from literature_to_facts_spark.engine.pipeline import dedup_triples

    rows = [("s1", "p1", "o1"), ("s1", "p1", "o1"), ("s2", "p2", "o2")]
    deduped = dedup_triples(
        spark.createDataFrame(rows, "subj string, pred string, obj_n3 string")
    ).cache()
    try:
        assert deduped.count() == 2
        plan = deduped._jdf.queryExecution().executedPlan().toString()
        assert "== Initial Plan ==" in plan
        assert _only_exchange(deduped).startswith("hashpartitioning(pred#")
    finally:
        deduped.unpersist()


def _parquet_files_per_pred(path: str) -> dict[str, int]:
    import os

    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("pred=")
    }


def test_graph_dedup_hashes_pred_one_file_per_pred(
    spark, docs_df, sides, triples_raw_df, gazetteer_df, tmp_path, monkeypatch
):
    """Graph-table dedups shuffle once, hash-partitioned on ``pred``, so a
    pred-partitioned write commits one parquet file per predicate.
    Post-shuffle coalescing is off here: every shuffle partition is its own
    writer task, as on a cluster, where a dedup hashed on the whole triple
    key spreads each predicate over all of them."""
    from literature_to_facts_spark.engine import graph
    from literature_to_facts_spark.engine.linking import link_entities, link_triples
    from literature_to_facts_spark.engine.pipeline import TRIPLE_KEY, extract_triples
    from literature_to_facts_spark.streaming.incremental import (
        buckets_glob,
        run_incremental,
    )

    def key_set(df):
        return {tuple(r) for r in df.select(*TRIPLE_KEY).collect()}

    expected = key_set(triples_raw_df)
    written, real_write = [], graph.write_triples

    def spy(df, path, mode="overwrite"):
        written.append(df)
        real_write(df, path, mode)

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        triples = extract_triples(spark, docs_df, sides)
        assert _only_exchange(triples).startswith("hashpartitioning(pred#")
        one_shot = str(tmp_path / "graph")
        graph.write_triples(triples, one_shot)

        inc = str(tmp_path / "inc")
        run_incremental(spark, docs_df, inc, sides, n_buckets=2, run_id="p1")
        compacted = str(tmp_path / "compact")
        monkeypatch.setattr(graph, "write_triples", spy)
        graph.compact_graph(spark, buckets_glob(inc, 2), compacted)
    finally:
        spark.conf.set(coalesce, before)
    (deduped,) = written
    assert _only_exchange(deduped).startswith("hashpartitioning(pred#")
    # link triples carry one constant pred: Spark plans a hash on a
    # constant as one partition, still the dedup's only exchange
    links = link_entities(graph.read_triples(spark, one_shot), gazetteer_df)
    assert _only_exchange(link_triples(links)) == "SinglePartition"

    for path in (one_shot, compacted):
        files = _parquet_files_per_pred(path)
        assert len(files) > 32 and set(files.values()) == {1}, files
        back = graph.read_triples(spark, path)
        assert back.count() == len(expected) and key_set(back) == expected


def test_n3_export_round_trip(spark, triples_df):
    from literature_to_facts_spark.engine.graph import export_n3
    from literature_to_facts_spark.functions.literals import from_n3

    text = export_n3(triples_df.limit(50))
    lines = [l for l in text.splitlines() if l and not l.startswith("@prefix")]
    assert len(lines) == 50
    for line in lines[:10]:
        assert line.endswith(" .")
        subj_tok, pred_tok, rest = line.split(" ", 2)
        assert subj_tok.startswith("<http://odahub.io/ontology/paper#")
        assert pred_tok.startswith("<http://odahub.io/ontology/paper#")
        from_n3(rest[: -2].strip())  # object parses back


def test_publish_chunking(spark, triples_df):
    from literature_to_facts_spark.engine.graph import publish_batches

    # chunk sizes: every chunk <= 1000 and everything is delivered once
    n = triples_df.count()
    acc = spark.sparkContext.accumulator(0)
    maxed = spark.sparkContext.accumulator(0)

    def sink(lines):
        acc.add(len(lines))
        if len(lines) > 1000:
            maxed.add(1)

    publish_batches(triples_df, chunk_size=1000)(sink)
    assert acc.value == n
    assert maxed.value == 0


def test_turtle_shorthand_export(spark):
    """rdflib-style Turtle shorthand: `;` between predicates, `,` between
    repeated-predicate objects, paper: qnames, deterministic ordering."""
    from literature_to_facts_spark.engine.graph import export_turtle
    from literature_to_facts_spark.functions.literals import PAPER_NS

    rows = [
        (f"{PAPER_NS}#gcn1", "instrument", '"fermi-gbm"'),
        (f"{PAPER_NS}#gcn1", "instrument", '"integral"'),
        (f"{PAPER_NS}#gcn1", "mentions_grb", '"body"'),
        (f"{PAPER_NS}#gcn2", "NUMBER", '"2"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj_n3 string")
    got = export_turtle(t)
    expected = (
        f"@prefix paper: <{PAPER_NS}#> .\n"
        "\n"
        'paper:gcn1 paper:instrument "fermi-gbm",\n'
        '        "integral" ;\n'
        '    paper:mentions_grb "body" .\n'
        "\n"
        'paper:gcn2 paper:NUMBER "2"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    assert got == expected


def test_qname_rejects_turtle_illegal_locals():
    """Turtle PN_LOCAL must not start with '-'/'.' nor end with '.' —
    such locals fall back to <uri> instead of emitting unparseable
    'paper:foo.' tokens."""
    from literature_to_facts_spark.engine.graph import _qname
    from literature_to_facts_spark.functions.literals import PAPER_NS

    assert _qname(PAPER_NS + "#good_local-1.x") == "paper:good_local-1.x"
    assert _qname(PAPER_NS + "#foo.") == f"<{PAPER_NS}#foo.>"
    assert _qname(PAPER_NS + "#.foo") == f"<{PAPER_NS}#.foo>"
    assert _qname(PAPER_NS + "#-foo") == f"<{PAPER_NS}#-foo>"
    assert _qname(PAPER_NS + "#_ok") == "paper:_ok"
    assert _qname("https://other.example/x") == "<https://other.example/x>"
