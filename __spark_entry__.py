"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction query on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 (+ the training-data-pipeline extras), each Spark query paired
with an ANSI-SQL oracle that DuckDB runs on the same parquet views.

Engine-portability conventions used throughout (so value hashes match):
* floats rounded AFTER exact integer/decimal aggregation;
* arrays rendered as comma-joined sorted strings;
* timestamps compared as epoch microseconds.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Spread a local fixture scan across cores.

    The driver-generated test parquet files are single-row-group, so Spark
    reads each as ONE task no matter what maxPartitionBytes says — fine for
    cheap scans, serial death for compute-heavy operators (hashing, n-gram
    explosion, dot products).  Production tables have row-group-sized splits
    and parallelize at scan time; this repartition exists only to give the
    local fixtures the same property.  Semantics-neutral (row order never
    reaches results: every query aggregates, ranks, or sorts)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _us(col: str) -> F.Column:
    """Epoch microseconds from a (naive) parquet timestamp; the session TZ is
    pinned UTC so TIMESTAMP_NTZ -> TIMESTAMP preserves the wall-clock epoch,
    matching DuckDB's epoch_us."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# ---------------------------------------------------------------------------
# flagship: KG melt -> mention detection -> valuable filter -> dict view
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: treat `documents` as web
    pages, melt typed fields to (subj, pred, obj) triples, run keyword
    mention detection, keep only mention-bearing docs (valuable filter), and
    aggregate the dict view — the reference pipeline's shape end-to-end."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")

    mentions = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("(spark|window|merge|batch)"), F.lit(1))
        ).alias("kw"),
    )
    triples = (
        docs.selectExpr(
            "doc_id",
            "stack(3, 'source', source, 'lang', lang, 'n_chars', CAST(n_chars AS STRING)) AS (pred, obj)",
        )
        .unionByName(
            mentions.groupBy("doc_id", "kw")
            .count()
            .select(
                "doc_id",
                F.concat(F.lit("mentions_"), F.col("kw")).alias("pred"),
                F.col("count").cast("string").alias("obj"),
            )
        )
    )
    valuable = triples.join(
        triples.where(F.col("pred").startswith("mentions_")).select("doc_id").distinct(),
        on="doc_id",
        how="left_semi",
    )
    return (
        valuable.groupBy("doc_id", "pred")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("obj"))).alias("values"))
        .orderBy("doc_id", "pred")
    )


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def q_kg_triples_melt(spark, sf_dir):
    """Fact explode: wide row -> long (subj, pred, obj) — facts/core.py:96-112."""
    return _t(spark, sf_dir, "documents").selectExpr(
        "CAST(doc_id AS BIGINT) AS subj",
        "stack(3, 'source', source, 'lang', lang, 'n_chars', CAST(n_chars AS STRING)) AS (pred, obj)",
    )


def q_kg_dict_view(spark, sf_dir):
    """Dict-view aggregation: sorted-distinct value list per key
    (facts/core.py:128-133)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("event_types"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


def q_kg_valuable_filter(spark, sf_dir):
    """Valuable semi-join: keep docs whose text mentions a keyword
    (facts/core.py:121-123 shape)."""
    docs = _t(spark, sf_dir, "documents")
    triples = docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS subj",
        "stack(2, 'text', text, 'lang', lang) AS (pred, obj)",
    )
    flagged = triples.where(
        (F.col("pred") == "text") & F.col("obj").contains("spark")
    ).select("subj").distinct()
    return (
        triples.join(flagged, on="subj", how="left_semi")
        .groupBy("subj")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triples"))
    )


def q_kg_mention_detection(spark, sf_dir):
    """Batched mention detection: regexp findall + explode + count."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.explode(
                F.regexp_extract_all(
                    F.col("text"), F.lit("(spark|window|merge|batch)"), F.lit(1)
                )
            ).alias("mention"),
        )
        .groupBy("doc_id", "mention")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_times"))
    )


def q_kg_entity_link(spark, sf_dir):
    """Entity linking: mentions joined to a broadcast gazetteer."""
    docs = _t(spark, sf_dir, "documents")
    gaz = spark.createDataFrame(
        [
            ("spark", "entity:engine/spark", "engine"),
            ("window", "entity:op/window", "operator"),
            ("merge", "entity:op/merge", "operator"),
        ],
        "mention string, canonical_uri string, entity_type string",
    )
    mentions = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("(spark|window|merge)"), F.lit(1))
        ).alias("mention"),
    ).distinct()
    return mentions.join(F.broadcast(gaz), on="mention").select(
        "doc_id", "mention", "canonical_uri", "entity_type"
    )


def q_kg_canonicalize_salted(spark, sf_dir):
    """Two-phase salted canonicalization == plain GROUP BY (oracle)."""
    docs = _t(spark, sf_dir, "documents")
    mentions = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("(spark|window|merge|batch)"), F.lit(1))
        ).alias("mention"),
    )
    salted = mentions.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(16)))
    partial = salted.groupBy("mention", "salt").agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("docs_partial")
    )
    return partial.groupBy("mention").agg(
        F.sum("cnt").cast("bigint").alias("n_mentions"),
        F.sum("docs_partial").cast("bigint").alias("n_docs"),
    )


def q_kg_counterpart_join(spark, sf_dir):
    """Counterpart-match shape (facts/learn.py:105-125): event-reporting rows
    joined to counterpart rows on the shared key with a difference filter."""
    ev = _t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"), F.col("ts").alias("err_ts")
    )
    clk = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"), F.col("ts").alias("clk_ts")
    )
    return (
        err.join(clk, on="user_id")
        .where(F.col("err_ts") < F.col("clk_ts"))
        .groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def q_kg_reaction_pivot(spark, sf_dir):
    """GRB-reaction shape (facts/learn.py:142-156): same-subject multi-
    predicate pivot with a t0 != date filter."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("first_error"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
    )
    return agg.where(
        F.col("first_error").isNotNull()
        & F.col("first_click").isNotNull()
        & (F.col("first_error") != F.col("first_click"))
    ).select(
        "user_id",
        _us("first_error").alias("first_error_us"),
        _us("first_click").alias("first_click_us"),
    )


def q_json_extract(spark, sf_dir):
    """JSON side-payload navigation (facts/gcn.py:167-172 shape)."""
    return _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


def q_dedup_exact(spark, sf_dir):
    from literature_to_facts_spark.datapipe.dedup import exact_duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    clusters = (
        docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
    )
    _ = exact_duplicate_clusters  # same operator, >=2 filter variant in datapipe
    return clusters


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over the FULL table (the round-1 doc_id<60 fence
    is gone — the hot-shingle df_cap now bounds the shared-shingle join)."""
    from literature_to_facts_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(docs, n_gram=2, threshold=0.08, df_cap=100)
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs.  Full SQL oracle: the md5-derived hash
    family is computed identically by DuckDB, so candidate generation,
    banding, the oversize fallback and Jaccard verification are all checked
    end-to-end (rows+schema+hash), not just 'ran'."""
    from literature_to_facts_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _spread(_t(spark, sf_dir, "documents"))
    # 16 hashes x 4 bands (band width 4 == the classic 32x8 setup, so the
    # same candidate S-curve per band; half the hash/aggregate volume)
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4)
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


def q_dedup_minhash_incremental(spark, sf_dir):
    """Delta dedup (datapipe/dedup.minhash_lsh_pairs_incremental): the new
    batch (doc_id % 5 == 0, a ~20% daily delta) pairs against the persisted
    band index of the rest of the corpus — new×new + new×old only, never
    re-pairing old×old.  Full SQL oracle: DuckDB recomputes the FULL-corpus
    pair set with the identical md5 hash family and restricts it to pairs
    touching a new doc, which is exactly the incremental contract."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        minhash_lsh_pairs_incremental,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    # NOTE (round 7): a shared one-build band index (build over ALL docs,
    # persist, filter the halves — the q_dedup_simhash_incremental shape)
    # was tried here and REVERTED: for this operator the two half-pipelines
    # overlap under AQE and share JIT with the preceding dedup_minhash_lsh
    # plan, so the persist's serialization cost exceeded the saved compute
    # (one-shot +0.5 s, warm -0.1 s over interleaved probe runs).  The
    # operator still accepts new_index= for deployments with a persisted
    # catalog index.
    idx = build_lsh_band_index(old, n_gram=3, n_hashes=16, bands=4)
    reg = []
    pairs = minhash_lsh_pairs_incremental(
        new, old, idx, n_gram=3, n_hashes=16, bands=4, threshold=0.5,
        cache_registry=reg,
    )
    out = pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )
    out._l2f_cache_registry = reg
    return out


def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (md5 bit votes — full SQL oracle)."""
    from literature_to_facts_spark.datapipe.dedup import with_simhash

    return with_simhash(_spread(_t(spark, sf_dir, "documents"))).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("simhash").cast("bigint").alias("simhash"),
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """Banded SimHash near-dup pairs (full SQL oracle)."""
    from literature_to_facts_spark.datapipe.dedup import simhash_near_dups

    pairs = simhash_near_dups(_spread(_t(spark, sf_dir, "documents")), max_hamming=8)
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


def q_dedup_simhash_incremental(spark, sf_dir):
    """Delta SimHash dedup (datapipe/dedup.simhash_near_dups_incremental):
    the new batch (doc_id % 5 == 0) pairs against the persisted fingerprint
    index — hamming comes straight from indexed fingerprints, zero text
    access for the history.  Full SQL oracle: DuckDB recomputes the
    full-corpus banded pair set and restricts to pairs touching a new doc."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_simhash_band_index,
        simhash_near_dups_incremental,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    new = docs.where(F.col("doc_id") % 5 == 0)
    # ONE simhash-flag pipeline over the whole corpus, filtered into the
    # history and batch indexes (per-doc deterministic — same shared-build
    # shape as q_dedup_minhash_incremental; persist stands in for the
    # operational catalog table)
    full_idx = build_simhash_band_index(docs).persist()
    idx = full_idx.where(F.col("doc_id") % 5 != 0)
    nidx = full_idx.where(F.col("doc_id") % 5 == 0)
    reg = [full_idx]
    pairs = simhash_near_dups_incremental(
        new, old_index=idx, max_hamming=8, cache_registry=reg, new_index=nidx
    )
    out = pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )
    out._l2f_cache_registry = reg
    return out


def q_dedup_clusters_cc(spark, sf_dir):
    """Near-dup PAIRS merged into duplicate CLUSTERS via connected
    components (min-label propagation + pointer jumping, O(log diameter)
    iterations — datapipe/dedup.connected_components).  Pairs alone
    under-delete: {a,b},{b,c} must collapse to {a,b,c} with one canonical
    representative.  Full SQL oracle: DuckDB recomputes the identical
    MinHash-LSH pair set AND the reachability closure (recursive CTE), so
    the whole pairs->clusters chain is checked end-to-end.

    NOTE: unlike the other (lazy) contract queries, calling this executes
    the closure eagerly — iterative fixpoints need per-round actions (same
    contract as GraphFrames CC); the returned DataFrame selects over the
    final checkpointed labels."""
    from literature_to_facts_spark.datapipe.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4)
    cc = connected_components(pairs)
    return cc.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_rep").cast("bigint").alias("cluster_rep"),
    )


def q_dedup_clusters_cc_incremental(spark, sf_dir):
    """Delta closure (datapipe/dedup.connected_components_incremental): the
    pairs touching the new batch (doc_id % 5 == 0) fold into the persisted
    (doc_id, cluster_rep) map — only components touched by the batch are
    re-labeled; the ever-growing pair archive is never re-closed.  Full SQL
    oracle: DuckDB recomputes the recursive-CTE closure over ALL pairs and
    restricts it to components containing a new-pair endpoint — exactly the
    delta contract.  EAGER (two CC fixpoints: the seeded state + the delta)."""
    from literature_to_facts_spark.datapipe.dedup import (
        connected_components,
        connected_components_incremental,
        minhash_lsh_pairs,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4).persist()
    touching = (F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0)
    state = connected_components(pairs.where(~touching))
    out = connected_components_incremental(pairs.where(touching), state).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster_rep").cast("bigint").alias("cluster_rep"),
    )
    out._l2f_cache_registry = [pairs]
    return out


def q_dedup_exact_incremental(spark, sf_dir):
    """Delta exact dedup (datapipe/dedup.exact_duplicate_clusters_incremental):
    clusters of old+new restricted to clusters containing a new doc AND of
    size >= 2 (full-mode contract — fresh unique docs emit nothing), computed
    against the persisted (doc_id, text_hash) index — historical text never
    read.  The testdata has no byte-identical texts, so the corpus is the
    documents table plus a deterministic shifted-id copy of every 7th doc
    (the oracle injects the identical copies), making the output non-vacuous
    at every scale."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_exact_hash_index,
        exact_duplicate_clusters_incremental,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.where(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    reg = []
    out = exact_duplicate_clusters_incremental(
        new, build_exact_hash_index(old), cache_registry=reg
    ).select(
        F.col("text_hash"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("canonical_id").cast("bigint").alias("canonical_id"),
        F.array_join(F.col("members"), ",").alias("members"),
    )
    out._l2f_cache_registry = reg
    return out


def q_dedup_corpus_purge(spark, sf_dir):
    """The shipped artifact of the whole dedup chain: the corpus with
    near-duplicates PURGED (datapipe/dedup.deduplicate_corpus) — MinHash-LSH
    pairs closed into clusters (connected components), each cluster keeps
    its minimum-id representative, unclustered docs all survive.  Full SQL
    oracle: DuckDB recomputes pairs + recursive-CTE closure and anti-selects
    the non-representative members.  EAGER (embeds the CC fixpoint)."""
    from literature_to_facts_spark.datapipe.dedup import (
        deduplicate_corpus,
        minhash_lsh_pairs,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4)
    kept = deduplicate_corpus(docs, pairs)
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), F.col("lang").alias("lang")
    )


def q_dedup_corpus_keep_best(spark, sf_dir):
    """Quality-aware purge (datapipe/dedup.deduplicate_corpus_keep_best —
    the RefinedWeb-style policy): same MinHash-LSH pairs + CC closure as
    dedup_corpus_purge, but each cluster keeps its highest-quality member
    (exact (quality DESC, id ASC) argmax as a min-of-struct aggregate, no
    window).  Quality fixture: n_chars % 997 (integer-exact in both
    engines, with real ties exercising the id tie-break)."""
    from literature_to_facts_spark.datapipe.dedup import (
        deduplicate_corpus_keep_best,
        minhash_lsh_pairs,
    )

    docs = _spread(_t(spark, sf_dir, "documents")).withColumn(
        "quality", F.expr("cast(n_chars % 997 as double)")
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4)
    kept = deduplicate_corpus_keep_best(docs, pairs, quality_col="quality")
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lang").alias("lang"),
    )


def q_dedup_lsh_bucket_stats(spark, sf_dir):
    """The dedup-monitoring report that makes the LSH bucket cap a measured
    quantity instead of silent recall loss (datapipe/dedup.lsh_bucket_stats):
    bucket populations over the SAME banded union the pair job aggregates.
    Full SQL oracle — DuckDB recomputes the signatures, banding and counts.
    max_bucket is set low here so the oversize columns are exercised
    (non-zero) at test scale."""
    from literature_to_facts_spark.datapipe.dedup import lsh_bucket_stats

    docs = _spread(_t(spark, sf_dir, "documents"))
    out = lsh_bucket_stats(docs, n_hashes=16, bands=4, max_bucket=20)
    return out.select(
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        F.col("n_multi_buckets").cast("bigint").alias("n_multi_buckets"),
        F.col("n_oversize_buckets").cast("bigint").alias("n_oversize_buckets"),
        F.col("n_docs_in_oversize").cast("bigint").alias("n_docs_in_oversize"),
    )


# -- shared parameters for the round-5 text-cleaning queries: the
# -- generated oracles interpolate THESE SAME constants, so operator params
# -- and oracle SQL cannot drift (the CLAUDE.md sync invariant).
_LINE_DEDUP_MIN_DF = 2
_LINE_DEDUP_MIN_CHARS = 10

# Deterministic PII synthesis: the corpus text carries no real PII, so the
# query plants one email + phone + IPv4 on every third document (engine-
# portable string ops only).  {c1}..{c4} are the engine's string-cast exprs.
_PII_SUFFIX = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', {c1}, "
    "'@example.com or +12 345-678-', lpad({c2}, 4, '0'), "
    "' ip 10.0.', {c3}, '.', {c4}) ELSE '' END"
)
_PII_SUFFIX_SPARK = _PII_SUFFIX.format(
    c1="cast(doc_id as string)",
    c2="cast(doc_id % 10000 as string)",
    c3="cast(doc_id % 256 as string)",
    c4="cast(doc_id % 250 as string)",
)
_PII_SUFFIX_DUCK = _PII_SUFFIX.format(
    c1="CAST(doc_id AS VARCHAR)",
    c2="CAST(doc_id % 10000 AS VARCHAR)",
    c3="CAST(doc_id % 256 AS VARCHAR)",
    c4="CAST(doc_id % 250 AS VARCHAR)",
)


def q_text_line_dedup(spark, sf_dir):
    """CCNet-style cross-document line dedup (datapipe/textclean.line_dedup):
    every line occurring in >= 2 distinct documents is removed from ALL of
    them; short lines (< 10 trimmed chars) never participate.  The corpus
    text is single-line, so the query first splits sentences onto lines
    (replace '. ' -> '.\\n' — engine-portable), giving the operator a real
    multi-line corpus with genuinely shared boilerplate sentences.  Full SQL
    oracle recomputes the md5-keyed frequency table end-to-end."""
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id", "replace(text, '. ', concat('.', chr(10))) AS text"
    )
    out = line_dedup(
        docs, min_df=_LINE_DEDUP_MIN_DF, min_line_chars=_LINE_DEDUP_MIN_CHARS
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        "n_lines",
        "n_dropped",
    )


def q_text_line_dedup_grouped(spark, sf_dir):
    """Group-scoped (per-host) line dedup (datapipe/textclean.line_dedup
    with group_col): the site-template removal mode — a line frequent
    within ONE host's pages is boilerplate there, the same sentence on two
    unrelated hosts is content and survives.  Implemented by salting the
    md5 line key with the host (plan shape identical to global mode); the
    oracle recomputes the salted-key frequency table end-to-end."""
    from literature_to_facts_spark.datapipe.textclean import line_dedup

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        "concat('h', cast(doc_id % 4 as string)) AS host",
        "replace(text, '. ', concat('.', chr(10))) AS text",
    )
    out = line_dedup(
        docs,
        min_df=_LINE_DEDUP_MIN_DF,
        min_line_chars=_LINE_DEDUP_MIN_CHARS,
        group_col="host",
        carry_cols=("host",),
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "host",
        "clean_text",
        "n_lines",
        "n_dropped",
    )


def q_text_pii_redact(spark, sf_dir):
    """PII detection + masking (datapipe/textclean.pii_redact): emails, IPv4
    addresses and phone numbers counted on the original text and masked
    sequentially.  RE2-compatible ASCII regexes so Spark's java.util.regex
    and DuckDB's RE2 agree match-for-match; the PII itself is synthesized
    deterministically (every third doc).  Pure per-row expressions — zero
    shuffle."""
    from literature_to_facts_spark.datapipe.textclean import pii_redact

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"concat(text, {_PII_SUFFIX_SPARK}) AS text"
    )
    out = pii_redact(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_email",
        "n_ipv4",
        "n_phone",
        "has_pii",
        "clean_text",
    )


def q_text_line_dedup_incremental(spark, sf_dir):
    """Delta line dedup (datapipe/textclean.line_dedup_incremental — the
    fifth probe-shaped incremental family): the new batch (doc_id % 5 == 0)
    cleaned against COMBINED old+new line frequencies using only the
    persisted (line_key, df) index — history text never re-split.  Oracle =
    the full-corpus line dedup restricted to the new batch's ids."""
    from literature_to_facts_spark.datapipe.textclean import (
        build_line_frequency_index,
        line_dedup_incremental,
    )

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id", "replace(text, '. ', concat('.', chr(10))) AS text"
    )
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    idx = build_line_frequency_index(old, min_line_chars=_LINE_DEDUP_MIN_CHARS)
    reg = []
    out = line_dedup_incremental(
        new, idx, min_df=_LINE_DEDUP_MIN_DF, min_line_chars=_LINE_DEDUP_MIN_CHARS,
        cache_registry=reg,
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "clean_text",
        "n_lines",
        "n_dropped",
    )
    out._l2f_cache_registry = reg
    return out


# ---------------------------------------------------------------------------
# URL canonicalization lane (datapipe/urls.py) — the crawl-pipeline stage
# that precedes every text-level operator.  The fixture synthesizes URLs
# deterministically from (doc_id, source, lang) with ONE `||`-concatenation
# template both engines evaluate identically (NULL-propagating concat on
# both sides per the repo's oracle-NULL-parity rule); {id}/{blk} are the
# engine-specific string casts of doc_id and its 7-block start.  The seven
# branches cover: ccSLD host + default https port + tracking params +
# fragment (0); default http port with a block-keyed id param (1) that
# NORMALIZES EQUAL to its portless twin (3) — the url_dedup collision pair;
# userinfo + non-default port + empty-valued and uppercase-UTM params (2);
# empty path (4); an invalid non-URL (5); NULL (6).
# ---------------------------------------------------------------------------

_URL_FIXTURE_TMPL = (
    "CASE doc_id % 7"
    " WHEN 0 THEN 'HTTPS://WWW.' || upper(source)"
    "   || '.Example.CO.UK:443/News/' || lang"
    "   || '/item?utm_source=feed&b=2&a=1&fbclid=xyz#top'"
    " WHEN 1 THEN 'http://b' || {blk} || '.example.com:80/a/b/c?id=' || {blk}"
    " WHEN 2 THEN 'https://user:pw@' || source"
    "   || '.example.org:8443/dl%20x/?z=9&y=&UTM_CAMPAIGN=q'"
    " WHEN 3 THEN 'http://b' || {blk} || '.example.com/a/b/c?id=' || {blk}"
    " WHEN 4 THEN 'ftp://files.' || source || '.net'"
    " WHEN 5 THEN 'not-a-url-' || {id}"
    " ELSE NULL END"
)
_URL_FIXTURE_SPARK = _URL_FIXTURE_TMPL.format(
    id="cast(doc_id as string)", blk="cast(doc_id - doc_id % 7 as string)"
)
_URL_FIXTURE_DUCK = _URL_FIXTURE_TMPL.format(
    id="cast(doc_id as varchar)", blk="cast(doc_id - doc_id % 7 as varchar)"
)


def _url_docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_URL_FIXTURE_SPARK} AS url"
    )


def q_url_parts(spark, sf_dir):
    """URL decomposition (datapipe/urls.with_url_parts): scheme/host/port/
    path/query/registered_domain/path_depth over the synthesized crawl-URL
    fixture — pure per-row regex battery, zero shuffle.  The reference keys
    documents per url (facts/core.py:121); this is the typed-parts stage a
    web-scale corpus needs before host-level curation."""
    from literature_to_facts_spark.datapipe.urls import with_url_parts

    out = with_url_parts(_url_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "url",
        "scheme",
        "host",
        "port",
        "path",
        F.col("query").alias("url_query"),
        "registered_domain",
        "path_depth",
        "is_valid_url",
    )


def q_url_normalize(spark, sf_dir):
    """URL canonicalization (datapipe/urls.url_normalize): lowercase
    scheme+host, strip default ports and fragments, drop tracking params,
    sort the survivors — the page-identity key for crawl-level dedup."""
    from literature_to_facts_spark.datapipe.urls import url_normalize

    out = url_normalize(_url_docs(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "url", "url_norm"
    )


def q_url_dedup(spark, sf_dir):
    """Exact URL-level dedup (datapipe/urls.url_dedup): one row per
    normalized url with representative id + member count.  The fixture's
    branch-1/branch-3 pairs (same 7-block) differ only by an explicit
    default port, so every block contributes one n_docs=2 group — the
    tracking-variant collapse this stage exists for.  One partial-agg'd
    groupBy Exchange."""
    from literature_to_facts_spark.datapipe.urls import url_dedup

    return url_dedup(_url_docs(spark, sf_dir)).select(
        "url_norm",
        F.col("rep_id").cast("bigint").alias("rep_id"),
        "n_docs",
    )


# the html fixture wraps each document's text in a page skeleton exercising
# every strip stage: script + style blocks, a comment, tags, the six
# entities, and messy whitespace — ONE template both engines evaluate
# (||-concat, NULL-propagating)
_HTML_FIXTURE = (
    "'<html><head><STYLE type=\"x\">p{color:red}</STYLE>"
    "<script>var a=1&&2;</script></head>' || "
    "'<body><!-- c --><h1>T&amp;amp;A</h1><p class=\"z\">' || text || "
    "'</p>&lt;tag&gt;&nbsp;&quot;q&#39;</body></html>'"
)


def q_html_extract_text(spark, sf_dir):
    """HTML -> text extraction (datapipe/html.html_extract_text — the strip
    stage between the input table's html and text columns): script/style/
    comment removal, tag strip, entity decode, whitespace collapse, as a
    pure scan-fused regexp chain.  Patterns interpolate from the module
    into the DuckDB oracle (the PII_PATTERNS contract)."""
    from literature_to_facts_spark.datapipe.html import html_extract_text

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_HTML_FIXTURE} AS html"
    )
    out = html_extract_text(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "extracted_text",
    )


def _html_extract_oracle() -> str:
    from literature_to_facts_spark.datapipe.html import (
        HTML_ENTITIES,
        HTML_STRIP_PATTERNS,
        _WS_CLASS,
    )

    col = "html"
    for pat, repl in HTML_STRIP_PATTERNS:
        col = f"regexp_replace({col}, '{pat}', '{repl}', 'g')"
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        col = f"replace({col}, '{ent}', '{ch_sql}')"
    col = f"trim(regexp_replace({col}, '{_WS_CLASS}', ' ', 'g'))"
    return f"""
        WITH h AS (
          SELECT doc_id, {_HTML_FIXTURE} AS html FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, {col} AS extracted_text
        FROM h
    """


# link fixture: one page skeleton exercising every href shape — absolute
# (double-quoted, with fragment), root-relative (single-quoted), dir-relative
# (unquoted), protocol-relative, and two dropped forms (mailto:, fragment-only)
# — over the SAME crawl-URL fixture as the url_* queries, so invalid /
# non-http / NULL page urls exercise the resolution guards.
_LINKS_HTML_TMPL = (
    "'<html><body>"
    '<A HREF="https://cdn' + "' || {mod} || '" + '.example.com/lib.html#top">x</a>'
    "<a id=''n'' href=''/r/' || {id} || '.html''>y</a>"
    "<a href=rel' || {mod} || '.html>z</a>"
    '<a href="//m' + "' || {mod} || '" + '.example.net/mm">w</a>'
    '<a href="mailto:a@b.c">m</a><a href="#s">s</a>'
    "</body></html>'"
)
_LINKS_HTML_SPARK = _LINKS_HTML_TMPL.format(
    id="cast(doc_id as string)", mod="cast(doc_id % 5 as string)"
)
_LINKS_HTML_DUCK = _LINKS_HTML_TMPL.format(
    id="cast(doc_id as varchar)", mod="cast(doc_id % 5 as varchar)"
)


def q_html_extract_links(spark, sf_dir):
    """Anchor extraction + URL resolution (datapipe/html.
    html_extract_links — the crawl-table -> link-graph edge-list stage):
    three-quote-style href battery, fragment strip, scheme filter,
    protocol/root/dir-relative resolution against the page URL — all
    scan-fused per-row expressions, zero shuffle."""
    from literature_to_facts_spark.datapipe.html import html_extract_links

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"{_LINKS_HTML_SPARK} AS html",
    )
    out = html_extract_links(docs)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "link_url",
        "link_host",
    )


def _duck_links_ctes(html_expr: str | None = None, pairs: bool = False) -> str:
    """The html_extract_links replay as a CTE chain ending at
    ``links(doc_id, src_host, link_url, link_host)`` — shared by the
    html_extract_links and web_anchor_text oracles.  Href patterns, scheme
    regexes and the URL group regex interpolate from datapipe.html /
    datapipe.urls (operator edits propagate); concat uses ||
    (NULL-propagating) per the DuckDB-concat-skips-NULLs invariant.

    ``pairs=True`` replays html_extract_anchors instead: the
    ANCHOR_PAIR_PATTERNS battery's group-1/group-2 arrays are zipped
    before the unnest and ``links`` carries ``anchor_raw`` — SAME
    resolution CASE, one definition for both operators' oracles.
    ``html_expr`` overrides the html fixture expression."""
    from literature_to_facts_spark.datapipe.html import (
        ANCHOR_PAIR_PATTERNS,
        HREF_PATTERNS,
        HTTP_LINK_PATTERN,
        LINK_SCHEME_PATTERN,
    )

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    g = _duck_url_group
    # DuckDB list_concat is binary — fold the extract arrays pairwise
    if pairs:
        arrays = [
            f"list_zip(regexp_extract_all(html, '{q(p)}', 1), "
            f"regexp_extract_all(html, '{q(p)}', 2))"
            for p in ANCHOR_PAIR_PATTERNS
        ]
    else:
        arrays = [
            f"regexp_extract_all(html, '{q(p)}', 1)" for p in HREF_PATTERNS
        ]
    extracts = arrays[0]
    for a in arrays[1:]:
        extracts = f"list_concat({extracts}, {a})"
    html_expr = html_expr or _LINKS_HTML_DUCK
    if pairs:
        hr_cols = f"unnest({extracts}) AS z"
        h2_href = "split_part(trim(z[1]), '#', 1) AS h, z[2] AS anchor_raw"
        carry = ", anchor_raw"
    else:
        hr_cols = f"unnest({extracts}) AS href_raw"
        h2_href = "split_part(trim(href_raw), '#', 1) AS h"
        carry = ""
    return f"""
        d AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url,
                 {html_expr} AS html
          FROM documents
        ),
        pg AS (
          SELECT doc_id, html,
                 (url IS NOT NULL AND {g(2)} <> '') AS ok,
                 lower({g(1)}) AS sch, lower({g(2)}) AS hostl,
                 {g(3)} AS prt, {g(4)} AS pth
          FROM d
        ),
        pg2 AS (
          SELECT doc_id, html, ok, hostl,
                 CASE WHEN ok THEN sch END AS pg_scheme,
                 CASE WHEN ok THEN sch || '://' || hostl ||
                      CASE WHEN prt = '' THEN '' ELSE ':' || prt END
                 END AS pg_base,
                 CASE WHEN ok THEN
                      CASE WHEN pth = '' THEN '/'
                           ELSE regexp_extract(pth, '(?s)^(.*/)', 1) END
                 END AS pg_dir
          FROM pg
        ),
        hr AS (
          SELECT doc_id, ok, hostl, pg_scheme, pg_base, pg_dir,
                 {hr_cols}
          FROM pg2
        ),
        h2 AS (
          SELECT doc_id, ok, hostl, pg_scheme, pg_base, pg_dir,
                 {h2_href}
          FROM hr
        ),
        r AS (
          SELECT doc_id, hostl{carry},
                 CASE WHEN h = '' THEN NULL
                      WHEN regexp_matches(h, '{LINK_SCHEME_PATTERN}')
                           AND regexp_matches(h, '{HTTP_LINK_PATTERN}')
                        THEN h
                      WHEN regexp_matches(h, '{LINK_SCHEME_PATTERN}')
                        THEN NULL
                      WHEN NOT ok THEN NULL
                      WHEN h LIKE '//%' THEN pg_scheme || ':' || h
                      WHEN h LIKE '/%' THEN pg_base || h
                      ELSE pg_base || pg_dir || h END AS link_url
          FROM h2
        ),
        links AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, hostl AS src_host,
                 link_url, lower({g(2, "link_url")}) AS link_host{carry}
          FROM r
          WHERE link_url IS NOT NULL
            AND regexp_matches(link_url, '{HTTP_LINK_PATTERN}')
        )
    """


def _html_links_oracle() -> str:
    return f"""
        WITH {_duck_links_ctes()}
        SELECT doc_id, link_url, link_host FROM links
    """


def _duck_url_group(i: int, src: str = "url") -> str:
    from literature_to_facts_spark.datapipe.urls import URL_PATTERN

    return f"regexp_extract({src}, '{URL_PATTERN}', {i})"


def _url_parts_oracle() -> str:
    """DuckDB recomputation of with_url_parts over the same fixture —
    regex and second-level-TLD set interpolated from datapipe.urls, so
    operator edits propagate."""
    from literature_to_facts_spark.datapipe.urls import SECOND_LEVEL_TLDS

    slds = ", ".join(f"'{s}'" for s in SECOND_LEVEL_TLDS)
    g = _duck_url_group
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url FROM documents
        ),
        p AS (
          SELECT doc_id, url,
                 (url IS NOT NULL AND {g(2)} <> '') AS ok,
                 {g(1)} AS g1, {g(2)} AS g2, {g(3)} AS g3,
                 {g(4)} AS g4, {g(5)} AS g5
          FROM u
        ),
        h AS (
          SELECT *, CASE WHEN ok THEN lower(g2) END AS host,
                 CASE WHEN ok THEN string_split(lower(g2), '.') END AS labs
          FROM p
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, url,
               CASE WHEN ok THEN lower(g1) END AS scheme,
               host,
               CASE WHEN ok AND g3 <> '' THEN TRY_CAST(g3 AS BIGINT) END AS port,
               CASE WHEN ok THEN g4 END AS path,
               CASE WHEN ok THEN g5 END AS url_query,
               CASE WHEN NOT ok THEN NULL
                    WHEN len(labs) <= 2 THEN host
                    WHEN (labs[-2] || '.' || labs[-1]) IN ({slds})
                      THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
                    ELSE labs[-2] || '.' || labs[-1] END AS registered_domain,
               CASE WHEN ok THEN CAST(len(list_filter(
                    string_split(g4, '/'), s -> s <> '')) AS BIGINT)
                    END AS path_depth,
               CASE WHEN url IS NULL THEN NULL ELSE ok END AS is_valid_url
        FROM h
    """


def _duck_url_norm(src: str = "url") -> str:
    """DuckDB expression block computing url_norm from ``src`` — shared by
    the normalize and dedup oracles; tracking-param set interpolated from
    datapipe.urls."""
    from literature_to_facts_spark.datapipe.urls import (
        TRACKING_PARAM_PREFIX,
        TRACKING_PARAMS,
    )

    g = lambda i: _duck_url_group(i, src)  # noqa: E731
    names = ", ".join(f"'{t}'" for t in TRACKING_PARAMS)
    pref = TRACKING_PARAM_PREFIX
    params = (
        f"list_sort(list_filter(string_split({g(5)}, '&'), p -> p <> '' "
        f"AND NOT (substr(lower(split_part(p, '=', 1)), 1, {len(pref)}) = '{pref}' "
        f"OR lower(split_part(p, '=', 1)) IN ({names}))))"
    )
    return f"""
        CASE WHEN {src} IS NULL OR {g(2)} = '' THEN NULL ELSE
          lower({g(1)}) || '://' || lower({g(2)})
          || CASE WHEN {g(3)} = ''
                    OR (lower({g(1)}) = 'http' AND {g(3)} = '80')
                    OR (lower({g(1)}) = 'https' AND {g(3)} = '443')
               THEN '' ELSE ':' || {g(3)} END
          || CASE WHEN {g(4)} = '' THEN '/' ELSE {g(4)} END
          || CASE WHEN len({params}) > 0
               THEN '?' || array_to_string({params}, '&') ELSE '' END
        END
    """


def _url_normalize_oracle() -> str:
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, url,
               {_duck_url_norm()} AS url_norm
        FROM u
    """


_BLOCKED_DOMAINS = ["example.com", "news.net"]


def q_url_blocklist(spark, sf_dir):
    """Registered-domain blocklist gate (datapipe/urls.
    url_domain_blocklist — the UT1-list stage): docs whose registered
    domain is blocked are dropped via ONE broadcast left-anti join; the
    domain extraction (incl. second-level-TLD handling) fuses into the
    scan.  Fixture blocks example.com (cases 1/3) so subdomain variants
    b<k>.example.com prove the registered-domain matching."""
    from literature_to_facts_spark.datapipe.urls import url_domain_blocklist

    docs = _url_docs(spark, sf_dir)
    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    out = url_domain_blocklist(docs, blocked)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "url")


def _url_blocklist_oracle() -> str:
    from literature_to_facts_spark.datapipe.urls import SECOND_LEVEL_TLDS

    slds = ", ".join(f"'{s}'" for s in SECOND_LEVEL_TLDS)
    blocked = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)
    g = _duck_url_group
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url FROM documents
        ),
        p AS (
          SELECT doc_id, url,
                 (url IS NOT NULL AND {g(2)} <> '') AS ok,
                 lower({g(2)}) AS host
          FROM u
        ),
        h AS (
          SELECT doc_id, url, ok, host, string_split(host, '.') AS labs
          FROM p
        ),
        rd AS (
          SELECT doc_id, url, ok,
                 CASE WHEN NOT ok THEN NULL
                      WHEN len(labs) <= 2 THEN host
                      WHEN (labs[-2] || '.' || labs[-1]) IN ({slds})
                        THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
                      ELSE labs[-2] || '.' || labs[-1] END AS dom
          FROM h
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, url
        FROM rd WHERE ok AND dom NOT IN ({blocked})
    """


_SNAP_TS_BASE_US = 1_500_000_000_000_000  # 2017-07-14 UTC, arbitrary fixed


def q_url_latest_snapshot(spark, sf_dir):
    """Crawl-snapshot dedup (datapipe/urls.url_latest_snapshot): one row
    per normalized URL keeping the latest warc_ts (ties -> min id) — the
    re-crawl-collapse stage over the input table's (url, warc_ts) columns.
    warc_ts fixture: timestamp_micros of a deterministic doc_id expression
    with deliberate collisions (mod 11) so the id tie-break is exercised;
    emitted as epoch micros (the timestamp-parity convention).  Exact
    argmax as max(struct(micros, -id)) — a plain partial-agg'd aggregate,
    no window."""
    from literature_to_facts_spark.datapipe.urls import url_latest_snapshot

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"timestamp_micros(cast(doc_id % 11 as bigint) * 3600000000"
        f" + {_SNAP_TS_BASE_US}) AS warc_ts",
    )
    out = url_latest_snapshot(docs)
    return out.select(
        "url_norm",
        "rep_id",
        F.unix_micros(F.col("latest_ts")).alias("latest_ts_us"),
        "n_crawls",
    )


def _url_latest_snapshot_oracle() -> str:
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url,
                 CAST(doc_id % 11 AS BIGINT) * 3600000000
                   + {_SNAP_TS_BASE_US} AS ts_us
          FROM documents
        ),
        n AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, ts_us,
                 {_duck_url_norm()} AS url_norm
          FROM u
        ),
        r AS (
          SELECT url_norm, doc_id, ts_us,
                 row_number() OVER (PARTITION BY url_norm
                   ORDER BY ts_us DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY url_norm) AS n_crawls
          FROM n WHERE url_norm IS NOT NULL
        )
        SELECT url_norm, doc_id AS rep_id, ts_us AS latest_ts_us,
               CAST(n_crawls AS BIGINT) AS n_crawls
        FROM r WHERE rn = 1
    """


def _url_dedup_oracle() -> str:
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url FROM documents
        ),
        n AS (
          SELECT doc_id, {_duck_url_norm()} AS url_norm FROM u
        )
        SELECT url_norm, CAST(min(doc_id) AS BIGINT) AS rep_id,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM n WHERE url_norm IS NOT NULL
        GROUP BY url_norm
    """


# ---------------------------------------------------------------------------
# KG store-side query lane (engine/kgquery.py): statistics + pattern joins
# over the materialized triple table
# ---------------------------------------------------------------------------

_KG_MENTION_RE = "(spark|window|merge|batch)"


def _kg_rich_triples(spark, sf_dir):
    """Melted doc triples + per-doc mention-count triples — the entry()
    flagship's triple table, reused by the store-side query lane so
    subjects carry different predicate sets.  `_spread` because
    the mention leg regex-scans every document's text (compute-heavy over
    the single-row-group local fixtures)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    base = docs.selectExpr(
        "CAST(doc_id AS BIGINT) AS subj",
        "stack(3, 'source', source, 'lang', lang, 'n_chars', CAST(n_chars AS STRING)) AS (pred, obj)",
    )
    # Per-keyword mention counts computed IN-ROW over the fixed 4-word
    # vocabulary (round 7): size(filter(matches, = kw)) per keyword replaces
    # the explode -> groupBy(subj, kw) -> count leg, removing that Exchange
    # from every _kg_rich_triples consumer (the whole triple fixture is now
    # map-side; the union persist materializes with zero shuffle).  Row set
    # identical: a (subj, mentions_kw, count) row iff count >= 1, count
    # rendered via the same int->string text; NULL-text docs drop out of
    # both shapes (NULL array -> NULL n -> filter false).
    kws = ", ".join(f"'{k}'" for k in ("spark", "window", "merge", "batch"))
    mentions = (
        docs.selectExpr(
            "CAST(doc_id AS BIGINT) AS subj",
            f"regexp_extract_all(text, '{_KG_MENTION_RE}', 1) AS _kws",
        )
        .selectExpr(
            "subj",
            f"explode(filter(transform(array({kws}), "
            "kw -> named_struct('kw', kw, 'n', size(filter(_kws, x -> x = kw)))), "
            "c -> c.n > 0)) AS c",
        )
        .selectExpr(
            "subj",
            "concat('mentions_', c.kw) AS pred",
            "CAST(c.n AS STRING) AS obj",
        )
    )
    return base.unionByName(mentions)


_KG_RICH_TRIPLES_DUCK = f"""
          SELECT CAST(doc_id AS BIGINT) AS subj, 'source' AS pred, source AS obj FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT), 'lang', lang FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT), 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
          UNION ALL
          SELECT subj, 'mentions_' || kw, CAST(COUNT(*) AS VARCHAR)
          FROM (
            SELECT CAST(doc_id AS BIGINT) AS subj,
                   unnest(regexp_extract_all(text, '{_KG_MENTION_RE}', 1)) AS kw
            FROM documents
          ) GROUP BY subj, kw
"""


def q_kg_predicate_stats(spark, sf_dir):
    """RDF-store predicate cardinality statistics (engine/kgquery.py) over
    the flagship triple table — the stats a store keeps for join ordering
    (reference analog: rdflib graph introspection, facts/learn.py:95)."""
    from literature_to_facts_spark.engine.kgquery import predicate_stats

    return predicate_stats(_kg_rich_triples(spark, sf_dir))


# robots/canonical fixture: each page carries one of four robots-meta shapes
# (name-first double-quoted / content-first single-quoted uppercase / none
# directive / absent) and one of three canonical shapes (rel-first with
# fragment / href-first relative / absent) — ONE template both engines build
_META_HTML_TMPL = (
    "'<html><head>' || "
    "CASE CAST({id} % 4 AS INT) "
    "WHEN 0 THEN '<meta name=\"robots\" content=\"noindex, follow\">' "
    "WHEN 1 THEN '<META CONTENT=''nofollow'' NAME=''robots''>' "
    "WHEN 2 THEN '<meta name=\"robots\" content=\"NONE\">' "
    "ELSE '<p>open</p>' END || "
    "CASE CAST({id} % 3 AS INT) "
    "WHEN 0 THEN '<link rel=\"canonical\" href=\"https://ex.com/c/' || {ids} || '#f\">' "
    "WHEN 1 THEN '<link href=''/c/' || {ids} || '.html'' rel=''canonical''>' "
    "ELSE '' END || "
    "'</head><body>' || text || '</body></html>'"
)
_META_HTML_SPARK = _META_HTML_TMPL.format(
    id="doc_id", ids="cast(doc_id as string)"
)
_META_HTML_DUCK = _META_HTML_TMPL.format(
    id="doc_id", ids="cast(doc_id as varchar)"
)


def q_html_meta_robots(spark, sf_dir):
    """Robots-meta + rel=canonical gate (datapipe/html.
    html_meta_directives): the pre-index/pre-training page directive check
    every crawl pipeline runs — noindex/nofollow token matching over all
    four attribute-ordering/quote-style tag shapes, first-canonical
    extraction with fragment strip.  Scan-fused regexes, zero shuffle;
    patterns interpolate into the DuckDB oracle verbatim."""
    from literature_to_facts_spark.datapipe.html import html_meta_directives

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_META_HTML_SPARK} AS html"
    )
    out = html_meta_directives(docs)
    # NULL-free contract output (the oracle-NULL-parity convention):
    # absent canonical -> '' on both engines
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "robots_noindex",
        "robots_nofollow",
        F.coalesce("canonical_href", F.lit("")).alias("canonical_href"),
    )


def _html_meta_oracle() -> str:
    from literature_to_facts_spark.datapipe.html import (
        _A_WS,
        CANONICAL_PATTERNS,
        META_ROBOTS_PATTERNS,
    )

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    def fold(pats):
        arrays = [f"regexp_extract_all(html, '{q(p)}', 1)" for p in pats]
        out = arrays[0]
        for a in arrays[1:]:
            out = f"list_concat({out}, {a})"
        return out

    return f"""
        WITH h AS (
          SELECT doc_id, {_META_HTML_DUCK} AS html FROM documents
        ),
        x AS (
          SELECT doc_id,
                 ',' || regexp_replace(
                     lower(coalesce(
                         array_to_string({fold(META_ROBOTS_PATTERNS)}, ','),
                         '')),
                     '{_A_WS}+', '', 'g') || ',' AS rn,
                 {fold(CANONICAL_PATTERNS)} AS ca
          FROM h
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               (contains(rn, ',noindex,') OR contains(rn, ',none,'))
                 AS robots_noindex,
               (contains(rn, ',nofollow,') OR contains(rn, ',none,'))
                 AS robots_nofollow,
               coalesce(CASE WHEN len(ca) > 0
                    THEN split_part(trim(ca[1]), '#', 1) END, '')
                 AS canonical_href
        FROM x
    """


# canonical-collision variant of the meta fixture: absolute canonicals key on
# doc_id % 7, so crawl variants genuinely MERGE under their declared target
_META_HTML_CANON_SPARK = _META_HTML_TMPL.format(
    id="doc_id", ids="cast(doc_id % 7 as string)"
)
_META_HTML_CANON_DUCK = _META_HTML_TMPL.format(
    id="doc_id", ids="cast(doc_id % 7 as varchar)"
)


def q_url_canonical_dedup(spark, sf_dir):
    """Canonical-aware crawl-snapshot dedup (datapipe/urls.
    url_canonical_dedup): the snapshot argmax keyed on the EFFECTIVE url —
    the page's declared rel=canonical when absolute http(s), else the page
    url — so mirror fetch-urls declaring one canonical collapse into one
    group (doc_id%7 canonical targets force real merges; relative
    canonicals fall back).  Same single-Exchange argmax as
    url_latest_snapshot; canonical extraction fuses into the scan."""
    from literature_to_facts_spark.datapipe.urls import url_canonical_dedup

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"timestamp_micros(cast(doc_id % 11 as bigint) * 3600000000"
        f" + {_SNAP_TS_BASE_US}) AS warc_ts",
        f"{_META_HTML_CANON_SPARK} AS html",
    )
    out = url_canonical_dedup(docs)
    return out.select(
        "url_norm",
        "rep_id",
        F.unix_micros(F.col("latest_ts")).alias("latest_ts_us"),
        "n_crawls",
        "n_canonicalized",
    )


def _url_canonical_dedup_oracle() -> str:
    from literature_to_facts_spark.datapipe.html import (
        CANONICAL_PATTERNS,
        HTTP_LINK_PATTERN,
    )

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    arrays = [f"regexp_extract_all(html, '{q(p)}', 1)" for p in CANONICAL_PATTERNS]
    fold = arrays[0]
    for a in arrays[1:]:
        fold = f"list_concat({fold}, {a})"
    http = q(HTTP_LINK_PATTERN)
    return f"""
        WITH h AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url,
                 CAST(doc_id % 11 AS BIGINT) * 3600000000
                   + {_SNAP_TS_BASE_US} AS ts_us,
                 {_META_HTML_CANON_DUCK} AS html
          FROM documents
        ),
        cx AS (
          SELECT doc_id, url, ts_us, {fold} AS ca FROM h
        ),
        cz AS (
          SELECT doc_id, url, ts_us,
                 CASE WHEN len(ca) > 0
                      THEN split_part(trim(ca[1]), '#', 1) END AS canon
          FROM cx
        ),
        e AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, ts_us,
                 CASE WHEN canon IS NOT NULL AND canon <> ''
                           AND regexp_matches(canon, '{http}')
                      THEN canon ELSE url END AS url,
                 CASE WHEN canon IS NOT NULL AND canon <> ''
                           AND regexp_matches(canon, '{http}')
                      THEN 1 ELSE 0 END AS is_cz
          FROM cz
        ),
        n AS (
          SELECT doc_id, ts_us, is_cz, {_duck_url_norm()} AS url_norm FROM e
        ),
        r AS (
          SELECT url_norm, doc_id, ts_us, is_cz,
                 row_number() OVER (PARTITION BY url_norm
                   ORDER BY ts_us DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY url_norm) AS n_crawls,
                 sum(is_cz) OVER (PARTITION BY url_norm) AS n_canonicalized
          FROM n WHERE url_norm IS NOT NULL
        )
        SELECT url_norm, doc_id AS rep_id, ts_us AS latest_ts_us,
               CAST(n_crawls AS BIGINT) AS n_crawls,
               CAST(n_canonicalized AS BIGINT) AS n_canonicalized
        FROM r WHERE rn = 1
    """


def q_kg_pattern_join(spark, sf_dir):
    """Statistics-driven two-pattern join (engine/kgquery.
    pattern_join_ordered): the maintained predicate-stats table picks the
    selective pattern (mentions_spark) as the BROADCAST side against the
    dense one (lang) — the join-ordering decision an RDF store keeps its
    statistics for; both patterns are filters over ONE triple table, so
    Spark's own size estimates cannot make this call.  Output is
    plan-independent (oracle = the naive self-join)."""
    from literature_to_facts_spark.engine.kgquery import (
        pattern_join_ordered,
        predicate_stats,
    )

    triples = _kg_rich_triples(spark, sf_dir).persist()
    stats = predicate_stats(triples)
    out = pattern_join_ordered(triples, "mentions_spark", "lang", stats)
    out._l2f_cache_registry = [triples]
    return out


def q_crawl_ingest_gate(spark, sf_dir):
    """The composed web-ingest gate end-to-end (the pre-pipeline every
    crawl corpus runs before any text-level stage): raw pages ->
    canonical-aware snapshot dedup (urls.url_canonical_dedup — mirror
    fetch-urls merge under their declared rel=canonical, latest crawl
    wins) -> robots-meta gate on the surviving representative
    (html.html_meta_directives — noindex reps drop) -> registered-domain
    blocklist on the canonical group key (urls.url_domain_blocklist, one
    broadcast anti join).  One operator's output feeds the next with no
    materialization; the whole chain is oracled bit-exactly through the
    canonical battery, the argmax window, the robots tokens and the
    second-level-TLD domain extraction."""
    from literature_to_facts_spark.datapipe.html import html_meta_directives
    from literature_to_facts_spark.datapipe.urls import (
        url_canonical_dedup,
        url_domain_blocklist,
    )

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"timestamp_micros(cast(doc_id % 11 as bigint) * 3600000000"
        f" + {_SNAP_TS_BASE_US}) AS warc_ts",
        f"{_META_HTML_CANON_SPARK} AS html",
    )
    groups = url_canonical_dedup(docs)
    flags = html_meta_directives(docs.select("doc_id", "html")).select(
        F.col("doc_id").alias("rep_id"), "robots_noindex"
    )
    reps = groups.join(flags, on="rep_id").where(~F.col("robots_noindex"))
    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    kept = url_domain_blocklist(
        reps.drop("robots_noindex"), blocked, url_col="url_norm"
    )
    return kept.select(
        "url_norm",
        F.col("rep_id").cast("bigint").alias("rep_id"),
        F.unix_micros(F.col("latest_ts")).alias("latest_ts_us"),
        "n_crawls",
        "n_canonicalized",
    )


def _crawl_ingest_gate_oracle() -> str:
    from literature_to_facts_spark.datapipe.html import (
        _A_WS,
        CANONICAL_PATTERNS,
        HTTP_LINK_PATTERN,
        META_ROBOTS_PATTERNS,
    )
    from literature_to_facts_spark.datapipe.urls import SECOND_LEVEL_TLDS

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    def fold(pats):
        arrays = [
            f"regexp_extract_all(html, '{q(p)}', 1)" for p in pats
        ]
        out = arrays[0]
        for a in arrays[1:]:
            out = f"list_concat({out}, {a})"
        return out

    http = q(HTTP_LINK_PATTERN)
    slds = ", ".join(f"'{s}'" for s in SECOND_LEVEL_TLDS)
    blocked = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)
    return f"""
        WITH h AS (
          SELECT doc_id, {_URL_FIXTURE_DUCK} AS url,
                 CAST(doc_id % 11 AS BIGINT) * 3600000000
                   + {_SNAP_TS_BASE_US} AS ts_us,
                 {_META_HTML_CANON_DUCK} AS html
          FROM documents
        ),
        cz AS (
          SELECT doc_id, url, ts_us, html,
                 CASE WHEN len({fold(CANONICAL_PATTERNS)}) > 0
                      THEN split_part(trim(({fold(CANONICAL_PATTERNS)})[1]),
                                      '#', 1) END AS canon,
                 ',' || regexp_replace(
                     lower(coalesce(array_to_string(
                         {fold(META_ROBOTS_PATTERNS)}, ','), '')),
                     '{_A_WS}+', '', 'g') || ',' AS rn_toks
          FROM h
        ),
        e AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, ts_us,
                 (contains(rn_toks, ',noindex,')
                  OR contains(rn_toks, ',none,')) AS noindex,
                 CASE WHEN canon IS NOT NULL AND canon <> ''
                           AND regexp_matches(canon, '{http}')
                      THEN canon ELSE url END AS url,
                 CASE WHEN canon IS NOT NULL AND canon <> ''
                           AND regexp_matches(canon, '{http}')
                      THEN 1 ELSE 0 END AS is_cz
          FROM cz
        ),
        n AS (
          SELECT doc_id, ts_us, is_cz, noindex,
                 {_duck_url_norm()} AS url_norm
          FROM e
        ),
        r AS (
          SELECT url_norm, doc_id, ts_us, noindex,
                 row_number() OVER (PARTITION BY url_norm
                   ORDER BY ts_us DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY url_norm) AS n_crawls,
                 sum(is_cz) OVER (PARTITION BY url_norm) AS n_canonicalized
          FROM n WHERE url_norm IS NOT NULL
        ),
        reps AS (
          SELECT url_norm, doc_id AS rep_id, ts_us AS latest_ts_us,
                 CAST(n_crawls AS BIGINT) AS n_crawls,
                 CAST(n_canonicalized AS BIGINT) AS n_canonicalized
          FROM r WHERE rn = 1 AND NOT noindex
        ),
        dom AS (
          SELECT reps.*,
                 string_split(lower(regexp_extract(url_norm,
                     '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1)), '.')
                   AS labs
          FROM reps
        )
        SELECT url_norm, rep_id, latest_ts_us, n_crawls, n_canonicalized
        FROM dom
        WHERE (CASE WHEN len(labs) <= 2 THEN array_to_string(labs, '.')
                    WHEN (labs[-2] || '.' || labs[-1]) IN ({slds})
                      THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
                    ELSE labs[-2] || '.' || labs[-1] END)
              NOT IN ({blocked})
    """


# anchor-text fixture: every page names target t{m5}.example.com/p twice
# ("Read <b>More</b>" and "story {m3}" — a real frequency ranking), links a
# per-doc root-relative page with messy whitespace, an unquoted dir-relative
# href, an EMPTY anchor (profile-excluded) and a mailto (scheme-dropped).
# ONE template, both engines.
_ANCHOR_HTML_TMPL = (
    "'<html><body>"
    '<a href="https://t' + "' || {m5} || '" + '.example.com/p">Read <b>More</b></a>'
    "<a id=''x'' href=''/r/' || {id} || '.html''>  deep   page </a>"
    '<a href="https://t' + "' || {m5} || '" + '.example.com/p">story ' + "' || {m3} || '" + '</a>'
    "<a href=rel' || {m3} || '.html>rel  anchor</a>"
    '<a href="https://t' + "' || {m5} || '" + '.example.com/q"></a>'
    '<a href="mailto:a@b.c">mail me</a>'
    "</body></html>'"
)
_ANCHOR_HTML_SPARK = _ANCHOR_HTML_TMPL.format(
    id="cast(doc_id as string)",
    m3="cast(doc_id % 3 as string)",
    m5="cast(doc_id % 5 as string)",
)
_ANCHOR_HTML_DUCK = _ANCHOR_HTML_TMPL.format(
    id="cast(doc_id as varchar)",
    m3="cast(doc_id % 3 as varchar)",
    m5="cast(doc_id % 5 as varchar)",
)


def q_web_anchor_text(spark, sf_dir):
    """Inlink anchor-text profile (datapipe/html.html_extract_anchors ->
    anchor_text_profile): the web-KG entity-naming table — per link
    target, its top-3 casefolded anchor texts by (count desc, anchor asc)
    plus anchored-inlink / distinct-anchor / distinct-source-host evidence
    counts.  Extraction and resolution share one definition with
    html_extract_links (pair battery zips group-1/group-2 arrays of the
    SAME pattern); the profile's window runs only over the aggregated
    (target, anchor) rows."""
    from literature_to_facts_spark.datapipe.html import (
        anchor_text_profile,
        html_extract_anchors,
    )
    from literature_to_facts_spark.datapipe.urls import URL_PATTERN

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"{_ANCHOR_HTML_SPARK} AS html",
    )
    anchors = html_extract_anchors(docs).withColumns(
        {
            "src_host": F.nullif(
                F.lower(F.regexp_extract(F.col("url"), URL_PATTERN, 2)),
                F.lit(""),
            )
        }
    )
    return anchor_text_profile(anchors, src_host_col="src_host")


def _web_anchor_text_oracle(restrict: str = "") -> str:
    """Full anchor-profile replay; ``restrict`` is an optional SQL
    predicate over ``nz`` (which carries ``doc_id``) whose matching rows'
    targets select WHICH profiles are emitted — the incremental oracle is
    the full profile restricted to batch-touched targets."""
    from literature_to_facts_spark.datapipe.html import _WS_CLASS

    g = _duck_url_group
    keep = (
        f", keep AS (SELECT DISTINCT link_url FROM nz WHERE {restrict})"
        if restrict
        else ""
    )
    keep_join = " JOIN keep USING (link_url)" if restrict else ""
    return f"""
        WITH {_duck_links_ctes(html_expr=_ANCHOR_HTML_DUCK, pairs=True)},
        base AS (
          SELECT doc_id, link_url,
                 lower(trim(regexp_replace(regexp_replace(anchor_raw,
                       '<[^>]+>', ' ', 'g'), '{_WS_CLASS}', ' ', 'g'))) AS a,
                 NULLIF(src_host, '') AS src_host
          FROM links
        ),
        nz AS (SELECT * FROM base WHERE a <> ''){keep},
        pa AS (
          SELECT link_url, a, COUNT(*) AS n FROM nz GROUP BY link_url, a
        ),
        tk AS (
          SELECT link_url, string_agg(a, ',' ORDER BY n DESC, a ASC) AS top_anchors
          FROM (
            SELECT link_url, a, n,
                   ROW_NUMBER() OVER (PARTITION BY link_url
                                      ORDER BY n DESC, a ASC) AS rn
            FROM pa
          ) WHERE rn <= 3 GROUP BY link_url
        ),
        st AS (
          SELECT link_url,
                 CAST(COUNT(*) AS BIGINT) AS n_anchored_inlinks,
                 CAST(COUNT(DISTINCT a) AS BIGINT) AS n_anchors,
                 CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts
          FROM nz GROUP BY link_url
        )
        SELECT st.link_url, n_anchored_inlinks, n_anchors, n_src_hosts,
               top_anchors
        FROM st JOIN tk USING (link_url){keep_join}
    """


def q_web_anchor_text_incremental(spark, sf_dir):
    """Delta maintenance of the anchor-text naming profile (datapipe/html.
    build_anchor_index -> anchor_text_profile_incremental, the ELEVENTH
    probe-shaped family): history = pages with doc_id % 10 != 0, batch =
    the rest; the batch's targets broadcast and semi-filter the persisted
    (tav_key, target, kind, val, n) evidence index at its scan, per-anchor
    counts merge by SUM and the distinct-anchor/-host evidence by counting
    merged rows (existence).  Oracle = the FULL profile over all pages
    restricted to batch-touched targets — stale-count and missed-merge
    failures are both oracle-visible."""
    from literature_to_facts_spark.datapipe.html import (
        anchor_text_profile_incremental,
        build_anchor_index,
        html_extract_anchors,
    )
    from literature_to_facts_spark.datapipe.urls import URL_PATTERN

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        f"{_URL_FIXTURE_SPARK} AS url",
        f"{_ANCHOR_HTML_SPARK} AS html",
    )
    reg = []
    # the anchor-extraction battery feeds both the history and the batch
    # index builds (disjoint doc_id filters of the same frame) — persist
    # runs it once instead of once per half; results-neutral
    anchors = html_extract_anchors(docs).withColumns(
        {
            "src_host": F.nullif(
                F.lower(F.regexp_extract(F.col("url"), URL_PATTERN, 2)),
                F.lit(""),
            )
        }
    ).persist()
    reg.append(anchors)
    hist = anchors.where(F.col("doc_id") % 10 != 0)
    batch = anchors.where(F.col("doc_id") % 10 == 0)
    old_index = build_anchor_index(hist, src_host_col="src_host")
    out = anchor_text_profile_incremental(
        batch, old_index, src_host_col="src_host", cache_registry=reg
    )
    out._l2f_cache_registry = reg
    return out


def q_kg_star_join(spark, sf_dir):
    """Statistics-driven N-pattern star join (engine/kgquery.
    star_join_ordered): three same-subject patterns over ONE triple table
    — the maintained predicate stats anchor the densest pattern (lang /
    source tie) and BROADCAST the selective ones, most-selective pruning
    first; Spark's own estimates see the whole table on every side and
    cannot order this.  Output is plan-independent (oracle = the naive
    chained self-join)."""
    from literature_to_facts_spark.engine.kgquery import (
        predicate_stats,
        star_join_ordered,
    )

    triples = _kg_rich_triples(spark, sf_dir).persist()
    stats = predicate_stats(triples)
    out = star_join_ordered(
        triples,
        ["mentions_spark", "source", "mentions_merge"],
        stats,
        aliases=["n_spark", "src", "n_merge"],
    )
    out._l2f_cache_registry = [triples]
    return out


# main-content fixture: nav (link-saturated), short heading, two long
# article paragraphs (one with an inline link and entities — kept), a
# sub-threshold block and a link-only footer.  ONE template, both engines.
_MAIN_HTML_TMPL = (
    "'<html><body>"
    '<div><a href="/">Home</a> <a href="/n">News</a> '
    '<a href="/t' + "' || {m5} || '" + '">Tab</a></div>'
    "<h2>Story ' || {m3} || '</h2>"
    "<p>Article ' || {id} || ' body text with plenty of prose about topic "
    "' || {m7} || ' and an "
    '<a href="/rel' + "' || {m3} || '" + '.html">inline link</a>'
    " plus more words to clear the bar.</p>"
    "<p>Numbers &amp; facts: the quick brown fox ' || {m5} || ' jumped over "
    "' || {m7} || ' lazy dogs repeatedly.</p>"
    "<p>short</p>"
    '<div><a href="/tos">Terms</a><a href="/p">Privacy</a></div>'
    "</body></html>'"
)
_MAIN_HTML_SPARK = _MAIN_HTML_TMPL.format(
    id="cast(doc_id as string)",
    m3="cast(doc_id % 3 as string)",
    m5="cast(doc_id % 5 as string)",
    m7="cast(doc_id % 7 as string)",
)
_MAIN_HTML_DUCK = _MAIN_HTML_TMPL.format(
    id="cast(doc_id as varchar)",
    m3="cast(doc_id % 3 as varchar)",
    m5="cast(doc_id % 5 as varchar)",
    m7="cast(doc_id % 7 as varchar)",
)
_MAIN_MIN_CHARS, _MAIN_MAX_LINK_PCT = 30, 33


def q_html_main_content(spark, sf_dir):
    """Boilerpipe-style main-content extraction (datapipe/html.
    html_main_content): block splitting at block-tag boundaries + per-block
    link-density scoring, entirely per-row (zero shuffle) — nav/footer
    blocks drop, article prose survives.  The oracle replays the whole
    chain in DuckDB (block pattern, anchor-inner battery, entity decode
    and the integer density rule interpolate from the module)."""
    from literature_to_facts_spark.datapipe.html import html_main_content

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id", f"{_MAIN_HTML_SPARK} AS html"
    )
    out = html_main_content(
        docs,
        min_block_chars=_MAIN_MIN_CHARS,
        max_link_density_pct=_MAIN_MAX_LINK_PCT,
    )
    return out.select(
        "doc_id",
        "n_blocks",
        "n_kept",
        F.coalesce("main_text", F.lit("")).alias("main_text"),
    )


def _main_content_ctes() -> str:
    """The html_main_content replay as a CTE chain ending at
    ``mc(doc_id, n_blocks, n_kept, main_text)``.  Block / anchor-inner /
    inline patterns, the entity table and both thresholds interpolate from
    datapipe.html (operator edits propagate)."""
    from literature_to_facts_spark.datapipe.html import (
        ANCHOR_INNER_PATTERN,
        BLOCK_TAG_PATTERN,
        HTML_ENTITIES,
        HTML_STRIP_PATTERNS,
        INLINE_TAG_PATTERN,
        _WS_CLASS,
    )

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    h = _MAIN_HTML_DUCK
    for pat, repl in HTML_STRIP_PATTERNS[:3]:
        h = f"regexp_replace({h}, '{q(pat)}', '{repl}', 'g')"
    inline = (
        f"trim(regexp_replace(regexp_replace({{x}}, '{q(INLINE_TAG_PATTERN)}',"
        f" ' ', 'g'), '{q(_WS_CLASS)}', ' ', 'g'))"
    )
    dec = f"regexp_replace({{x}}, '{q(INLINE_TAG_PATTERN)}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        dec = f"replace({dec}, '{q(ent)}', '{q(ch)}')"
    dec = f"trim(regexp_replace({dec}, '{q(_WS_CLASS)}', ' ', 'g'))"
    return f"""
        b AS (
          SELECT doc_id,
                 string_split(regexp_replace({h}, '{q(BLOCK_TAG_PATTERN)}',
                              chr(30), 'g'), chr(30)) AS blocks
          FROM documents
        ),
        st AS (
          SELECT doc_id, list_transform(blocks, x -> struct_pack(
                   txt := {dec.format(x="x")},
                   n_raw := length({inline.format(x="x")}),
                   link_chars := coalesce(list_sum(list_transform(
                     regexp_extract_all(x, '{q(ANCHOR_INNER_PATTERN)}', 1),
                     y -> length({inline.format(x="y")}))), 0)
                 )) AS stats
          FROM b
        ),
        k AS (
          SELECT doc_id, stats,
                 list_filter(stats, s -> s.n_raw >= {_MAIN_MIN_CHARS}
                   AND s.link_chars * 100 <= {_MAIN_MAX_LINK_PCT} * s.n_raw
                   AND s.txt <> '') AS kept
          FROM st
        ),
        mc AS (
          SELECT doc_id,
                 CAST(len(list_filter(stats, s -> s.n_raw > 0)) AS INTEGER)
                   AS n_blocks,
                 CAST(len(kept) AS INTEGER) AS n_kept,
                 coalesce(array_to_string(list_transform(kept, s -> s.txt),
                          chr(10)), '') AS main_text
          FROM k
        )"""


def _html_main_content_oracle() -> str:
    return f"""
        WITH {_main_content_ctes()}
        SELECT doc_id, n_blocks, n_kept, main_text FROM mc
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is the driver correctness gate's sampling order (it
    # checks the first 50 entries, which is all 42 of them): newest lanes
    # first (the round-6 web/kg-query/url waves lead), the long-green
    # original kg/dedup/text queries follow.  Oracles and the bench address
    # queries by NAME — the registry order carries no semantics.
    return {
        "text_line_dedup_grouped": q_text_line_dedup_grouped,
        "web_anchor_text_incremental": q_web_anchor_text_incremental,
        "html_main_content": q_html_main_content,
        "kg_star_join": q_kg_star_join,
        "web_anchor_text": q_web_anchor_text,
        "kg_pattern_join": q_kg_pattern_join,
        "crawl_ingest_gate": q_crawl_ingest_gate,
        "url_canonical_dedup": q_url_canonical_dedup,
        "html_meta_robots": q_html_meta_robots,
        "kg_predicate_stats": q_kg_predicate_stats,
        "url_blocklist": q_url_blocklist,
        "url_latest_snapshot": q_url_latest_snapshot,
        "url_dedup": q_url_dedup,
        "url_normalize": q_url_normalize,
        "url_parts": q_url_parts,
        "text_pii_redact": q_text_pii_redact,
        "html_extract_links": q_html_extract_links,
        "html_extract_text": q_html_extract_text,
        "text_line_dedup_incremental": q_text_line_dedup_incremental,
        "text_line_dedup": q_text_line_dedup,
        "kg_triples_melt": q_kg_triples_melt,
        "kg_dict_view": q_kg_dict_view,
        "kg_valuable_filter": q_kg_valuable_filter,
        "kg_mention_detection": q_kg_mention_detection,
        "kg_entity_link": q_kg_entity_link,
        "kg_canonicalize_salted": q_kg_canonicalize_salted,
        "kg_counterpart_join": q_kg_counterpart_join,
        "kg_reaction_pivot": q_kg_reaction_pivot,
        "json_extract": q_json_extract,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_incremental": q_dedup_exact_incremental,
        "dedup_corpus_purge": q_dedup_corpus_purge,
        "dedup_corpus_keep_best": q_dedup_corpus_keep_best,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_incremental": q_dedup_minhash_incremental,
        "dedup_lsh_bucket_stats": q_dedup_lsh_bucket_stats,
        "dedup_clusters_cc": q_dedup_clusters_cc,
        "dedup_clusters_cc_incremental": q_dedup_clusters_cc_incremental,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_simhash_incremental": q_dedup_simhash_incremental,
    }


# ---------------------------------------------------------------------------
# generated oracles for the hash/LSH family (portable md5-derived hashes:
# DuckDB computes the identical fingerprints, so candidate generation is
# checked end-to-end, not just the verified tail)
# ---------------------------------------------------------------------------

_H1 = "CAST('0x' || substr(md5({x}), 1, 13) AS BIGINT)"
_H2 = "CAST('0x' || substr(md5({x}), 14, 7) AS BIGINT)"
_H52B = "CAST('0x' || substr(md5({x}), 14, 13) AS BIGINT)"


def _duck_shingles(n: int) -> str:
    """DuckDB expression for the distinct word n-gram shingle list (mirrors
    datapipe.dedup._shingles: split on single space, lowercase, whole text
    as the only shingle when shorter than n tokens)."""
    toks = "string_split(lower(text), ' ')"
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) "
        f"ELSE [lower(text)] END)"
    )


def _minhash_oracle(
    n_gram: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    rpb = n_hashes // bands
    mins = ",\n                   ".join(
        f"MIN(h1 + {s} * h2) AS m{s}" for s in range(n_hashes)
    )
    banded = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * rpb + i}" for i in range(rpb))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    h1 = _H1.format(x="sh")
    h2 = _H2.format(x="sh")
    return f"""
            WITH sh AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest({_duck_shingles(n_gram)}) AS sh
              FROM documents WHERE text IS NOT NULL
            ),
            h AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM sh),
            sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
            banded AS ({banded}),
            bsize AS (SELECT band, key, COUNT(DISTINCT doc_id) AS n
                      FROM banded GROUP BY band, key),
            cand_small AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM banded l
              JOIN banded r ON l.band = r.band AND l.key = r.key
                           AND l.doc_id < r.doc_id
              JOIN bsize s ON s.band = l.band AND s.key = l.key
              WHERE s.n BETWEEN 2 AND {max_bucket}
            ),
            cand_exact AS (
              SELECT mn AS id_a, doc_id AS id_b FROM (
                SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                       MIN(CAST(d.doc_id AS BIGINT)) OVER (PARTITION BY md5(d.text)) AS mn
                FROM documents d WHERE d.text IS NOT NULL
              ) WHERE doc_id > mn
            ),
            cands AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM cand_small
                UNION ALL SELECT id_a, id_b FROM cand_exact)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
              FROM cands c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
              GROUP BY c.id_a, c.id_b
            )
            SELECT i.id_a, i.id_b,
                   ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
        """


def _cc_oracle(pairs_sql: str) -> str:
    """Connected components over a pair query: undirected reachability
    closure via a recursive CTE, MIN(reachable id) per node — exactly the
    fixpoint connected_components() converges to."""
    return f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
            edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b AS a, id_a AS b FROM pairs),
            nodes AS (SELECT DISTINCT a AS node FROM edges),
            closure(node, reach) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT c.node, e.b FROM closure c JOIN edges e ON e.a = c.reach
            )
            SELECT node AS doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_rep
            FROM closure GROUP BY node
        """


def _cc_incremental_oracle(
    pairs_sql: str, touch_pred: str = "id_a % 5 = 0 OR id_b % 5 = 0"
) -> str:
    """Delta-closure contract: the full recursive closure over ALL pairs,
    restricted to components containing at least one endpoint of a pair
    matching ``touch_pred`` (the new batch)."""
    return f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
            edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b AS a, id_a AS b FROM pairs),
            nodes AS (SELECT DISTINCT a AS node FROM edges),
            closure(node, reach) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT c.node, e.b FROM closure c JOIN edges e ON e.a = c.reach
            ),
            labels AS (
              SELECT node AS doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_rep
              FROM closure GROUP BY node
            ),
            newnodes AS (
              SELECT DISTINCT n FROM (
                SELECT id_a AS n FROM pairs WHERE {touch_pred}
                UNION ALL SELECT id_b FROM pairs WHERE {touch_pred})
            ),
            touched AS (
              SELECT DISTINCT l.cluster_rep AS r
              FROM labels l JOIN newnodes nn ON l.doc_id = nn.n
            )
            SELECT doc_id, cluster_rep FROM labels
            WHERE cluster_rep IN (SELECT r FROM touched)
        """


def _lsh_bucket_stats_oracle(
    n_gram: int = 3, n_hashes: int = 16, bands: int = 4, max_bucket: int = 20
) -> str:
    """Mirrors lsh_bucket_stats: the same signature/banding CTEs as the pair
    oracle (incl. the NULL-text exclusion on the exact band), reduced to the
    one-row bucket-population report."""
    rpb = n_hashes // bands
    mins = ",\n                   ".join(
        f"MIN(h1 + {s} * h2) AS m{s}" for s in range(n_hashes)
    )
    banded = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * rpb + i}" for i in range(rpb))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    h1 = _H1.format(x="sh")
    h2 = _H2.format(x="sh")
    return f"""
            WITH sh AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest({_duck_shingles(n_gram)}) AS sh
              FROM documents WHERE text IS NOT NULL
            ),
            h AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM sh),
            sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
            banded AS ({banded}
              UNION ALL SELECT CAST(doc_id AS BIGINT), {bands} AS band,
                               md5(text) AS key
                        FROM documents WHERE text IS NOT NULL),
            bsize AS (SELECT band, key, COUNT(DISTINCT doc_id) AS n
                      FROM banded GROUP BY band, key)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_multi_buckets,
                   CAST(SUM(CASE WHEN band < {bands} AND n > {max_bucket}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize_buckets,
                   CAST(SUM(CASE WHEN band < {bands} AND n > {max_bucket}
                            THEN n ELSE 0 END) AS BIGINT) AS n_docs_in_oversize
            FROM bsize
        """


def _simhash_core_sql() -> str:
    """WITH-clause body computing agg(doc_id, n, c0..c63) bit-vote counts."""
    hlo = _H1.format(x="tk")
    hhi = _H52B.format(x="tk")
    sums = []
    for b in range(64):
        src, off = ("hlo", b) if b < 52 else ("hhi", b - 52)
        sums.append(f"SUM(({src} >> {off}) & 1) AS c{b}")
    sums_sql = ",\n                     ".join(sums)
    return f"""
            t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                         unnest(string_split(lower(text), ' ')) AS tk
                  FROM documents),
            h AS (SELECT doc_id, {hlo} AS hlo, {hhi} AS hhi FROM t),
            agg AS (SELECT doc_id, COUNT(*) AS n,
                     {sums_sql}
                    FROM h GROUP BY doc_id)
    """


def _simhash_fp_terms(flag: str) -> str:
    """Fingerprint as pure arithmetic over 0/1 flag expressions: bit 63 is
    the (negative) long min so the sum never overflows a signed 64-bit int.
    ``flag`` is a format string producing the flag expression for bit {b}."""
    terms = [f"({flag.format(b=b)} * {1 << b})" for b in range(63)]
    terms.append(f"({flag.format(b=63)} * (-9223372036854775807 - 1))")
    return " + ".join(terms)


def _simhash_oracle() -> str:
    flag = "(CASE WHEN 2 * c{b} > n THEN 1 ELSE 0 END)"
    return f"""
            WITH {_simhash_core_sql()}
            SELECT doc_id, CAST({_simhash_fp_terms(flag)} AS BIGINT) AS simhash
            FROM agg
        """


def _simhash_pairs_oracle(max_hamming: int = 8, max_bucket: int = 1000) -> str:
    flags = ", ".join(
        f"CASE WHEN 2 * c{b} > n THEN 1 ELSE 0 END AS f{b}" for b in range(64)
    )
    keys = ", ".join(
        " + ".join(f"(f{16 * j + i} * {1 << i})" for i in range(16)) + f" AS k{j}"
        for j in range(4)
    )
    banded = "\n              UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band, k{j} AS key FROM sims" for j in range(4)
    )
    return f"""
            WITH {_simhash_core_sql()},
            flags AS (SELECT doc_id, n, {flags} FROM agg),
            sims AS (SELECT doc_id,
                            CAST({_simhash_fp_terms("f{b}")} AS BIGINT) AS simhash,
                            {keys}
                     FROM flags),
            banded AS ({banded}),
            bsize AS (SELECT band, key, COUNT(DISTINCT doc_id) AS n
                      FROM banded GROUP BY band, key)
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                   CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
            FROM banded l
            JOIN banded r ON l.band = r.band AND l.key = r.key
                         AND l.doc_id < r.doc_id
            JOIN bsize s ON s.band = l.band AND s.key = l.key
            WHERE s.n BETWEEN 2 AND {max_bucket}
              AND bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
        """


def _line_dedup_oracle(restrict: str | None = None) -> str:
    """Full-corpus CCNet line dedup over the sentence-per-line synthesized
    corpus; ``restrict`` filters the OUTPUT rows only (frequencies always
    come from the whole corpus) — the incremental query's contract."""
    where = f"HAVING {restrict}" if restrict else ""
    return f"""
        WITH m AS (
          SELECT doc_id, replace(text, '. ', '.' || chr(10)) AS text
          FROM documents
        ),
        lines AS (
          SELECT doc_id, u.pos AS pos, u.line AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
                FROM m WHERE text IS NOT NULL),
               UNNEST(list_transform(range(1, len(parts) + 1),
                      i -> {{'pos': i, 'line': parts[i]}})) AS t(u)
        ),
        keyed AS (
          SELECT doc_id, pos, line,
                 CASE WHEN length(trim(line)) >= {_LINE_DEDUP_MIN_CHARS}
                      THEN {_H1.format(x="line")} END AS key_e
          FROM lines
        ),
        freq AS (
          SELECT key_e AS fkey FROM keyed WHERE key_e IS NOT NULL
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= {_LINE_DEDUP_MIN_DF}
        )
        SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
               coalesce(string_agg(CASE WHEN f.fkey IS NULL THEN k.line END,
                                   chr(10) ORDER BY k.pos), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(f.fkey) AS BIGINT) AS n_dropped
        FROM keyed k LEFT JOIN freq f ON k.key_e = f.fkey
        GROUP BY k.doc_id
        {where}
    """


def _pii_oracle() -> str:
    """DuckDB recomputation of pii_redact over the synthesized corpus: the
    regexes come straight from textclean.PII_PATTERNS (RE2-compatible by
    contract), so pattern edits propagate to the oracle automatically."""
    from literature_to_facts_spark.datapipe.textclean import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    clean = "text"
    for _, pat, mask in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{mask}', 'g')"
    # NULL parity: '||' propagates NULL like Spark's concat (DuckDB's
    # concat() SKIPS NULL args and would turn a NULL-text doc into a
    # suffix-only doc with planted PII); has_pii derives from the
    # coalesced counts so NULL text reads false, matching pii_redact.
    return f"""
        WITH p AS (
          SELECT doc_id, text || ({_PII_SUFFIX_DUCK}) AS text FROM documents
        ),
        c AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(coalesce(len(regexp_extract_all(text, '{pats["email"]}')), 0)
                      AS BIGINT) AS n_email,
                 CAST(coalesce(len(regexp_extract_all(text, '{pats["ipv4"]}')), 0)
                      AS BIGINT) AS n_ipv4,
                 CAST(coalesce(len(regexp_extract_all(text, '{pats["phone"]}')), 0)
                      AS BIGINT) AS n_phone,
                 {clean} AS clean_text
          FROM p
        )
        SELECT doc_id, n_email, n_ipv4, n_phone,
               (n_email > 0 OR n_ipv4 > 0 OR n_phone > 0) AS has_pii,
               clean_text
        FROM c
    """


def oracle_sql() -> dict[str, str]:
    toks = "string_split(lower(text), ' ')"
    return {
        "kg_triples_melt": """
            SELECT CAST(doc_id AS BIGINT) AS subj, 'source' AS pred, source AS obj FROM documents
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), 'lang', lang FROM documents
            UNION ALL
            SELECT CAST(doc_id AS BIGINT), 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        """,
        "kg_dict_view": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """,
        "kg_valuable_filter": """
            WITH triples AS (
              SELECT CAST(doc_id AS BIGINT) AS subj, 'text' AS pred, text AS obj FROM documents
              UNION ALL
              SELECT CAST(doc_id AS BIGINT), 'lang', lang FROM documents
            )
            SELECT subj, CAST(COUNT(*) AS BIGINT) AS n_triples
            FROM triples t
            WHERE EXISTS (
              SELECT 1 FROM triples f
              WHERE f.subj = t.subj AND f.pred = 'text' AND f.obj LIKE '%spark%'
            )
            GROUP BY subj
        """,
        "kg_mention_detection": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, mention,
                   CAST(COUNT(*) AS BIGINT) AS n_times
            FROM (
              SELECT doc_id, unnest(regexp_extract_all(text, '(spark|window|merge|batch)', 1)) AS mention
              FROM documents
            ) GROUP BY doc_id, mention
        """,
        "kg_entity_link": """
            WITH gaz(mention, canonical_uri, entity_type) AS (VALUES
              ('spark', 'entity:engine/spark', 'engine'),
              ('window', 'entity:op/window', 'operator'),
              ('merge', 'entity:op/merge', 'operator')),
            m AS (
              SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest(regexp_extract_all(text, '(spark|window|merge)', 1)) AS mention
              FROM documents
            )
            SELECT m.doc_id, m.mention, g.canonical_uri, g.entity_type
            FROM m JOIN gaz g USING (mention)
        """,
        "kg_canonicalize_salted": """
            SELECT mention, CAST(COUNT(*) AS BIGINT) AS n_mentions,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest(regexp_extract_all(text, '(spark|window|merge|batch)', 1)) AS mention
              FROM documents
            ) GROUP BY mention
        """,
        "kg_counterpart_join": """
            SELECT CAST(e.user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND e.event_type = 'error' AND c.event_type = 'click'
             AND e.ts < c.ts
            GROUP BY e.user_id
        """,
        "kg_reaction_pivot": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   epoch_us(first_error) AS first_error_us,
                   epoch_us(first_click) AS first_click_us
            FROM (
              SELECT user_id,
                     MIN(CASE WHEN event_type = 'error' THEN ts END) AS first_error,
                     MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click
              FROM events GROUP BY user_id
            )
            WHERE first_error IS NOT NULL AND first_click IS NOT NULL
              AND first_error != first_click
        """,
        "json_extract": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   CAST(MIN(doc_id) AS BIGINT) AS canonical_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh0 AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest(list_distinct(
                       CASE WHEN len({toks}) >= 2 THEN
                         list_transform(range(1, len({toks})),
                                        i -> array_to_string({toks}[i:i+1], ' '))
                       ELSE [lower(text)] END)) AS sh
              FROM documents
            ),
            hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) > 100),
            sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
              GROUP BY l.doc_id, r.doc_id
            )
            SELECT id_a, id_b,
                   ROUND(CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes a ON a.doc_id = id_a
            JOIN sizes b ON b.doc_id = id_b
            WHERE CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter) >= 0.08
        """,
        # generated oracles: the md5-derived hash family makes the full LSH
        # pipelines engine-portable (round 1 recorded these as no_oracle)
        "dedup_minhash_lsh": _minhash_oracle(
            n_gram=3, threshold=0.5, n_hashes=16, bands=4
        ),
        # incremental contract: full-corpus pairs restricted to pairs
        # touching the new batch (doc_id % 5 == 0) — the oracle recomputes
        # the full pair set and restricts, which the delta job must equal
        "dedup_minhash_incremental": f"""
            SELECT id_a, id_b, jaccard FROM (
              {_minhash_oracle(n_gram=3, threshold=0.5, n_hashes=16, bands=4)}
            ) WHERE id_a % 5 = 0 OR id_b % 5 = 0
        """,
        "dedup_lsh_bucket_stats": _lsh_bucket_stats_oracle(
            n_gram=3, n_hashes=16, bands=4, max_bucket=20
        ),
        "dedup_clusters_cc": _cc_oracle(
            _minhash_oracle(n_gram=3, threshold=0.5, n_hashes=16, bands=4)
        ),
        "dedup_clusters_cc_incremental": _cc_incremental_oracle(
            _minhash_oracle(n_gram=3, threshold=0.5, n_hashes=16, bands=4)
        ),
        "dedup_exact_incremental": """
            WITH corpus AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              WHERE text IS NOT NULL
              UNION ALL
              SELECT CAST(doc_id AS BIGINT) + 1000000, text FROM documents
              WHERE doc_id % 7 = 0 AND text IS NOT NULL
            )
            SELECT md5(text) AS text_hash,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
                   array_to_string(list_sort(list(doc_id)), ',') AS members
            FROM corpus GROUP BY md5(text)
            HAVING SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) >= 1
               AND COUNT(*) >= 2
        """,
        # purge = corpus minus non-representative cluster members, where the
        # clusters are the recursive closure of the SAME recomputed pair set
        "dedup_corpus_purge": f"""
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
            FROM documents d
            WHERE CAST(d.doc_id AS BIGINT) NOT IN (
              SELECT doc_id FROM (
                {_cc_oracle(_minhash_oracle(n_gram=3, threshold=0.5, n_hashes=16, bands=4))}
              ) WHERE doc_id != cluster_rep)
        """,
        # quality-aware purge: same closure, rep = (quality DESC, id ASC)
        # argmax per cluster; quality fixture n_chars % 997 (exact, with
        # ties so the id tie-break is exercised)
        "dedup_corpus_keep_best": f"""
            WITH labels AS (
              SELECT * FROM (
                {_cc_oracle(_minhash_oracle(n_gram=3, threshold=0.5, n_hashes=16, bands=4))}
              )
            ),
            q AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     coalesce(CAST(n_chars % 997 AS DOUBLE),
                              CAST('-infinity' AS DOUBLE)) AS q
              FROM documents
            ),
            m AS (
              SELECT l.doc_id, l.cluster_rep, q.q
              FROM labels l JOIN q ON l.doc_id = q.doc_id
            ),
            best AS (
              SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                  PARTITION BY cluster_rep
                  ORDER BY q DESC, doc_id ASC) AS rn
                FROM m) WHERE rn = 1
            )
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
            FROM documents d
            WHERE CAST(d.doc_id AS BIGINT) NOT IN (
              SELECT doc_id FROM m
              WHERE doc_id NOT IN (SELECT doc_id FROM best))
        """,
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_pairs": _simhash_pairs_oracle(max_hamming=8),
        "dedup_simhash_incremental": f"""
            SELECT id_a, id_b, hamming FROM (
              {_simhash_pairs_oracle(max_hamming=8)}
            ) WHERE id_a % 5 = 0 OR id_b % 5 = 0
        """,
        "text_line_dedup": _line_dedup_oracle(),
        "text_line_dedup_incremental": _line_dedup_oracle(restrict="k.doc_id % 5 = 0"),
        "html_extract_text": _html_extract_oracle(),
        "html_extract_links": _html_links_oracle(),
        "text_pii_redact": _pii_oracle(),
        "url_parts": _url_parts_oracle(),
        "url_normalize": _url_normalize_oracle(),
        "url_dedup": _url_dedup_oracle(),
        "url_latest_snapshot": _url_latest_snapshot_oracle(),
        "url_blocklist": _url_blocklist_oracle(),
        "kg_predicate_stats": f"""
            WITH triples AS ({_KG_RICH_TRIPLES_DUCK})
            SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
                   CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
                   CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj
            FROM triples GROUP BY pred
        """,
        "html_meta_robots": _html_meta_oracle(),
        "url_canonical_dedup": _url_canonical_dedup_oracle(),
        "crawl_ingest_gate": _crawl_ingest_gate_oracle(),
        "web_anchor_text": _web_anchor_text_oracle(),
        "kg_star_join": f"""
            WITH triples AS ({_KG_RICH_TRIPLES_DUCK})
            SELECT a.subj AS subj, a.obj AS n_spark, b.obj AS src,
                   c.obj AS n_merge
            FROM triples a JOIN triples b ON a.subj = b.subj
                           JOIN triples c ON a.subj = c.subj
            WHERE a.pred = 'mentions_spark' AND b.pred = 'source'
              AND c.pred = 'mentions_merge'
        """,
        "kg_pattern_join": f"""
            WITH triples AS ({_KG_RICH_TRIPLES_DUCK})
            SELECT a.subj AS subj, a.obj AS val_a, b.obj AS val_b
            FROM triples a JOIN triples b ON a.subj = b.subj
            WHERE a.pred = 'mentions_spark' AND b.pred = 'lang'
        """,
        "html_main_content": _html_main_content_oracle(),
        "web_anchor_text_incremental": _web_anchor_text_oracle(
            restrict="doc_id % 10 = 0"
        ),
        "text_line_dedup_grouped": f"""
        WITH m AS (
          SELECT doc_id, 'h' || CAST(doc_id % 4 AS VARCHAR) AS host,
                 replace(text, '. ', '.' || chr(10)) AS text
          FROM documents
        ),
        lines AS (
          SELECT doc_id, host, u.pos AS pos, u.line AS line
          FROM (SELECT doc_id, host, string_split(text, chr(10)) AS parts
                FROM m WHERE text IS NOT NULL),
               UNNEST(list_transform(range(1, len(parts) + 1),
                      i -> {{'pos': i, 'line': parts[i]}})) AS t(u)
        ),
        keyed AS (
          SELECT doc_id, host, pos, line,
                 CASE WHEN length(trim(line)) >= {_LINE_DEDUP_MIN_CHARS}
                      THEN {_H1.format(x="host || chr(31) || line")} END AS key_e
          FROM lines
        ),
        freq AS (
          SELECT key_e AS fkey FROM keyed WHERE key_e IS NOT NULL
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= {_LINE_DEDUP_MIN_DF}
        )
        SELECT CAST(k.doc_id AS BIGINT) AS doc_id, k.host AS host,
               coalesce(string_agg(CASE WHEN f.fkey IS NULL THEN k.line END,
                                   chr(10) ORDER BY k.pos), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(f.fkey) AS BIGINT) AS n_dropped
        FROM keyed k LEFT JOIN freq f ON k.key_e = f.fkey
        GROUP BY k.doc_id, k.host
        """,
    }
