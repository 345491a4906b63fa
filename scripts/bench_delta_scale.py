#!/usr/bin/env python
"""Scale-tier probe-vs-union A/B for the incremental (delta) families
(MinHash-LSH, SimHash, embedding near-dup) — the measurement behind the
zero-Exchange history design (VERDICT r5 "Next round" #1).

At the committed bench scale (sf0.1 = 5,000 docs / ~1.5 MB) the per-batch
wall time is task-scheduling + JIT bound, so probe-vs-union design choices
could only be justified by plan shape.  This harness runs the SAME batch
against the SAME persisted index at >=100x that corpus size (default
500,000 history docs / vectors, Spark-side generated via
sources.corpus.build_scale_documents/_embeddings) in BOTH shapes:

  probe  — the shipped incremental operators: broadcast batch keys ->
           left_semi filter the bucketed catalog index AT ITS SCAN ->
           touched-bucket groupBy (zero Exchange over the history)
  union  — the round-4 form: union the new batch's index rows with the FULL
           persisted index and re-group everything (the whole history flows
           through an Exchange every batch)

Both shapes must produce the IDENTICAL pair set (asserted); the A/B is
pure physical-plan measurement.  Trials are interleaved (probe, union,
probe, union, ...) after one untimed warmup each, so host drift hits both
sides equally.

Writes BENCH/delta_scale_ab.json; bench.write_baseline_md embeds it into
BENCH/BASELINE.md.

Usage:
  python scripts/bench_delta_scale.py                   # full (~500k rows)
  python scripts/bench_delta_scale.py --n-docs 20000 --trials 2   # smoke
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from literature_to_facts_spark.datapipe.dedup import (  # noqa: E402
    _verify_jaccard,
    build_exact_hash_index,
    build_lsh_band_index,
    build_simhash_band_index,
    exact_duplicate_clusters_incremental,
    minhash_lsh_pairs_incremental,
    simhash_near_dups_incremental,
)
from literature_to_facts_spark.datapipe.similarity import (  # noqa: E402
    _dot,
    _norm,
    _ivf_assign,
    build_embedding_bucket_index,
    build_ivf_index,
    embedding_near_dup_pairs_incremental,
    semantic_dedup_incremental,
)
from literature_to_facts_spark.datapipe.storage import write_bucketed  # noqa: E402
from literature_to_facts_spark.datapipe.textclean import (  # noqa: E402
    _lines,
    _reassemble,
    _span_aggregate,
    _span_instances,
    build_line_frequency_index,
    build_window_frequency_index,
    line_dedup_incremental,
    span_dedup_incremental,
)
from literature_to_facts_spark.sources.corpus import (  # noqa: E402
    build_scale_documents,
    build_scale_embeddings,
)

OFFSET = 10_000_000  # default batch-id offset; run() raises it to stay
# disjoint from history ids whenever n_history approaches it (a 20M-row run
# with the old fixed offset silently overlapped batch and history id ranges
# and flooded the union shape with spurious old-x-old "new" pairs)

MINHASH = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5, max_bucket=1000)
SIMHASH = dict(max_hamming=8, max_bucket=1000)
EMBED = dict(n_planes=16, threshold=0.9, dim=64, max_bucket=1000)
# semantic family: own small-dim corpus (the per-pair cosine is interpreted
# HOF work, dim is its constant factor); n_clusters is the semantic scale
# knob the way n_planes is the embedding one (avg cluster = n / n_clusters)
SEMANTIC = dict(n_clusters=128, refine_iters=1, threshold=0.95,
                max_cluster=200_000, dim=16)
SPAN = dict(window=8, min_df=2)
LINE = dict(min_df=2, min_line_chars=10)
# anchors family: ~20 inlinks per target, ~100 links per source host, 7
# anchor phrasings; batch rows land on EXISTING targets (mult/offset vary
# the phrasing + host mix so the batch merges counts AND adds fresh rows)
ANCHORS = dict(k=3, inlinks_per_target=20, links_per_host=100)
# line-family docs: the scale corpus is single-line; fold every 6th token
# boundary into a newline so documents have CCNet-shaped line structure
_LINEIFY = r"regexp_replace(text, '((\\S+ ){5}\\S+) ', '$1\n') AS text"
# n_planes is the embedding family's SCALE KNOB: avg bucket population is
# n_history / 2^n_planes, and the candidate-verify cost in EITHER shape is
# O(batch x avg bucket).  An operational deployment grows n_planes with the
# corpus (keeping buckets O(1)); the harness takes it as a CLI arg so the
# A/B at 2M+ rows runs the configuration a 2M-vector deployment would use.


# ---------------------------------------------------------------------------
# Round-4-shaped UNION baselines (full-index Exchange per batch).  Each must
# emit exactly the probe operator's result — the harness asserts it.
# ---------------------------------------------------------------------------


def union_minhash(all_index, docs_all, *, bands, n_gram, threshold, max_bucket):
    members = (
        all_index.withColumn(
            "is_new", (F.col("doc_id") >= OFFSET).cast("int")
        )
        .groupBy("band", "key")
        .agg(
            F.expr(
                "sort_array(collect_set(named_struct("
                "'doc_id', doc_id, 'is_new', is_new))) AS members"
            )
        )
        .where(
            (F.size("members") >= 2)
            & F.expr("exists(members, m -> m.is_new = 1)")
            & ((F.col("band") == bands) | (F.size("members") <= max_bucket))
        )
    )
    pair_expr = f"""
        CASE WHEN band < {bands} THEN
          flatten(transform(members, a ->
            transform(filter(members, b -> b.doc_id > a.doc_id
                                       AND (a.is_new = 1 OR b.is_new = 1)),
                      b -> named_struct('id_a', a.doc_id, 'id_b', b.doc_id))))
        ELSE
          transform(
            filter(members, m -> m.doc_id != members[0].doc_id
                             AND (members[0].is_new = 1 OR m.is_new = 1)),
            m -> named_struct('id_a', members[0].doc_id, 'id_b', m.doc_id))
        END
    """
    candidates = (
        members.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    needed = docs_all.join(cand_ids, on="doc_id", how="left_semi")
    return _verify_jaccard(candidates, needed, "doc_id", "text", n_gram, threshold)


def union_simhash(all_index, *, max_hamming, max_bucket):
    members = (
        all_index.withColumn("is_new", (F.col("doc_id") >= OFFSET).cast("int"))
        .groupBy("band", "key")
        .agg(
            F.expr(
                "sort_array(collect_set(named_struct("
                "'doc_id', doc_id, 'simhash', simhash, 'is_new', is_new)))"
                " AS members"
            )
        )
        .where(
            (F.size("members") >= 2)
            & F.expr("exists(members, m -> m.is_new = 1)")
            & (F.size("members") <= max_bucket)
        )
    )
    pair_expr = """
        flatten(transform(members, a ->
          transform(filter(members, b -> b.doc_id > a.doc_id
                                     AND (a.is_new = 1 OR b.is_new = 1)),
                    b -> named_struct('id_a', a.doc_id, 'id_b', b.doc_id,
                                      'hamming',
                                      bit_count(a.simhash ^ b.simhash)))))
    """
    return (
        members.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def union_exact(all_idx):
    """Round-4 shape for the exact family: the FULL (old + new) hash index
    re-grouped per batch, clusters restricted to those containing a new
    member."""
    return (
        all_idx.withColumn("is_new", (F.col("doc_id") >= OFFSET).cast("int"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("canonical_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.max("is_new").alias("_any_new"),
        )
        .where((F.col("cluster_size") >= 2) & (F.col("_any_new") == 1))
        .select("text_hash", "cluster_size", "canonical_id", "members")
    )


def union_line(all_idx, batch_docs, *, min_df, min_line_chars):
    """Round-4 shape for the line family: the FULL (old + new) line index
    re-grouped per batch, the corpus-sized frequent set shuffle-joined
    against the batch lines."""
    freq = (
        all_idx.groupBy("line_key")
        .agg(F.sum("df").alias("c"))
        .where(F.col("c") >= min_df)
        .select(F.col("line_key").alias("_fkey"))
    )
    lines = _lines(batch_docs, "doc_id", "text", min_line_chars, ())
    flagged = lines.join(freq, lines["_key"] == F.col("_fkey"), "left")
    return _reassemble(flagged, "doc_id", ())


def union_span(all_idx, batch_docs, *, window, min_df):
    """Round-4 shape for the span family: the FULL (old + new) window index
    re-grouped per batch (the whole history flows through an Exchange), the
    corpus-sized frequent set shuffle-joined against the batch instances."""
    freq = (
        all_idx.groupBy("win_key")
        .agg(F.sum("cnt").alias("c"))
        .where(F.col("c") >= min_df)
        .select(F.col("win_key").alias("_fkey"))
    )
    inst = _span_instances(batch_docs, "doc_id", "text", window)
    flagged = inst.join(freq, inst["_wkey"] == F.col("_fkey"), "left")
    return _span_aggregate(flagged, "doc_id", window)


def union_embedding(all_index, vecs_all, *, threshold, max_bucket):
    members = (
        all_index.withColumn("is_new", (F.col("vec_id") >= OFFSET).cast("int"))
        .groupBy("bucket")
        .agg(
            F.expr(
                "sort_array(collect_set(named_struct("
                "'vec_id', vec_id, 'is_new', is_new))) AS members"
            )
        )
        .where(
            (F.size("members") >= 2)
            & F.expr("exists(members, m -> m.is_new = 1)")
            & (F.size("members") <= max_bucket)
        )
    )
    pair_expr = """
        flatten(transform(members, a ->
          transform(filter(members, b -> b.vec_id > a.vec_id
                                     AND (a.is_new = 1 OR b.is_new = 1)),
                    b -> named_struct('id_a', a.vec_id, 'id_b', b.vec_id))))
    """
    cand = (
        members.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("vec_id")).distinct()
    emb = vecs_all.join(cand_ids, on="vec_id", how="left_semi")
    return (
        cand.join(
            emb.selectExpr("vec_id AS id_a", "embedding AS e_a"), on="id_a"
        )
        .join(emb.selectExpr("vec_id AS id_b", "embedding AS e_b"), on="id_b")
        .withColumn(
            "cosine", F.round(_dot("e_a", "e_b") / (_norm("e_a") * _norm("e_b")), 6)
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def union_semantic(assign_all, *, threshold, max_cluster):
    """Round-4 shape for the semantic family: ALL assignments (history +
    batch) re-grouped for cluster sizes and re-joined for the spine — the
    full-index Exchange per batch — then restricted to the batch rows."""
    sizes = assign_all.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cluster")
    )
    spine = assign_all.join(F.broadcast(sizes), on="centroid_id").withColumn(
        "capped", F.col("n_cluster") > F.lit(int(max_cluster))
    )
    small = spine.where(~F.col("capped"))
    a = small.select(
        "centroid_id", F.col("vec_id").alias("_id_a"),
        F.col("embedding").alias("_emb_a"),
    )
    b = small.where(F.col("vec_id") >= OFFSET).select(
        "centroid_id", F.col("vec_id").alias("_id_b"),
        F.col("embedding").alias("_emb_b"),
    )
    dups = (
        a.join(b, on="centroid_id")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(
            F.round(
                _dot("_emb_a", "_emb_b") / (_norm("_emb_a") * _norm("_emb_b")),
                6,
            )
            >= F.lit(float(threshold))
        )
        .groupBy(F.col("_id_b").alias("vec_id"))
        .agg(F.min("_id_a").alias("dup_of"))
    )
    return (
        spine.where(F.col("vec_id") >= OFFSET)
        .join(dups, on="vec_id", how="left")
        .withColumn("is_dup", F.col("dup_of").isNotNull())
        .select(
            "vec_id", "centroid_id", "n_cluster", "capped", "dup_of", "is_dup"
        )
    )


def build_scale_triples(spark, n: int, offset: int = 0):
    """Deterministic melted KG triples for the predstats family: per subject
    a `lang` (3 values), a `host` (n/50 values — mid cardinality), a
    `n_chars` (high cardinality), and for every 4th subject a `mentions`
    (5 values).  ~3.25 triples/subject, seedless md5-derived values."""
    base = spark.range(n).selectExpr(f"id + {offset} AS subj")
    return base.selectExpr(
        "subj",
        "stack(3, "
        " 'lang',   element_at(array('en','fr','de'), CAST(subj % 3 AS INT) + 1), "
        " 'host',   concat('h', CAST(subj % greatest(CAST(1 AS BIGINT), "
        f"   CAST({n} / 50 AS BIGINT)) AS STRING), '.com'), "
        " 'n_chars', CAST(length(md5(CAST(subj AS STRING))) + subj % 997 AS STRING)"
        ") AS (pred, obj)",
    ).unionByName(
        base.where("subj % 4 = 0").selectExpr(
            "subj",
            "'mentions' AS pred",
            "concat('e', CAST(subj % 5 AS STRING)) AS obj",
        )
    )


def build_scale_anchor_links(spark, n_rows, n_targets, n_hosts, mult=1, offset=0):
    """Deterministic (link_url, anchor_text, src_host) edge list for the
    anchors family.  ``n_targets``/``n_hosts`` fix the TARGET and HOST
    keyspaces (batches built with the history's keyspaces land on existing
    targets — the daily-crawl shape); ``mult``/``offset`` rotate the anchor
    phrasing and host assignment so a batch both merges existing
    (target, anchor) counts and contributes fresh anchors/hosts."""
    return spark.range(n_rows).selectExpr(
        f"concat('https://t', CAST((id + {offset}) % {n_targets} AS STRING),"
        " '.example.com/p') AS link_url",
        "element_at(array('home','news','read more','story','about',"
        f"'contact','blog'), CAST((id * {mult} + {offset}) % 7 AS INT) + 1)"
        " AS anchor_text",
        # md5-derived host (portable hash family): decorrelated from the
        # target id — a linear map would lock each target to one host
        f"concat('h', CAST(conv(substr(md5(CAST(id * {mult} + {offset}"
        f" AS STRING)), 1, 8), 16, 10) % {n_hosts} AS STRING)) AS src_host",
    )


def union_anchors(all_idx, batch_targets, k):
    """Round-4 shape for the anchors family: the FULL (old + new) evidence
    index re-grouped every batch — the whole history flows through the
    merge Exchange — then the profile computed for batch targets."""
    # INNER join (batch_targets is distinct) rather than left_semi: Catalyst
    # pushes semi joins below aggregates when the keys are grouping keys
    # (PushDownLeftSemiAntiJoin), which would silently turn this baseline
    # into the probe shape; inner joins are not pushed through aggregates.
    merged = (
        all_idx.groupBy("tav_key", "target", "kind", "val")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .join(batch_targets, on="target", how="inner")
    )
    from pyspark.sql import Window

    anchors = merged.where(F.col("kind") == "a")
    stats = merged.groupBy("target").agg(
        F.sum(F.when(F.col("kind") == "a", F.col("n")).otherwise(0))
        .cast("bigint").alias("n_anchored_inlinks"),
        F.sum(F.when(F.col("kind") == "a", 1).otherwise(0))
        .cast("bigint").alias("n_anchors"),
        F.sum(F.when(F.col("kind") == "h", 1).otherwise(0))
        .cast("bigint").alias("n_src_hosts"),
    )
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
        {"target": "link_url"}
    )


def union_predstats(all_idx):
    """Round-4 shape for the predstats family: predicate statistics
    recomputed from the FULL (old + new) pair index every batch — the whole
    history flows through the distinct-count Exchange."""
    return all_idx.groupBy("pred").agg(
        F.sum(F.when(F.col("kind") == "s", F.col("n"))).cast("bigint")
        .alias("n_triples"),
        F.countDistinct(F.when(F.col("kind") == "s", F.col("pair_key")))
        .cast("bigint").alias("n_subj"),
        F.countDistinct(F.when(F.col("kind") == "o", F.col("pair_key")))
        .cast("bigint").alias("n_obj"),
    )


def _stats_key(df):
    return sorted(map(tuple, df.collect()))


def union_charsets(all_sp):
    """Round-4 shape for the charsets family: the characteristic-set
    histogram recomputed from the FULL (old + new) (subj, pred) index every
    batch — every subject's set re-collected through an Exchange."""
    per_subj = (
        all_sp.distinct()
        .groupBy("subj")
        .agg(F.sort_array(F.collect_set("pred")).alias("_p"))
        .select(
            F.concat_ws(",", F.col("_p")).alias("pred_set"),
            F.size("_p").alias("_n"),
        )
    )
    return per_subj.groupBy("pred_set").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subj"),
        F.first("_n").cast("bigint").alias("n_preds"),
    )


# ---------------------------------------------------------------------------


_UI_PORT = 4054
_UI_BASE = None  # set by run() from the LIVE SparkContext (bound port + app id)


def _shuffle_write_bytes() -> int:
    """Total shuffle-write bytes across all completed stages of THIS app,
    read from the public Spark UI REST API.  Snapshot-diff this around a
    run to get the run's exchanged bytes — at 100 TB, shuffle bytes ARE the
    network cost a single-node wall clock understates.  The URL comes from
    the live SparkContext (uiWebUrl + applicationId), never a hardcoded
    port: if another app already holds the port, ours binds port+1 and a
    hardcoded probe would silently sum the FOREIGN app's stages."""
    import urllib.request

    if _UI_BASE is None:
        return -1
    try:
        stages = json.load(
            urllib.request.urlopen(f"{_UI_BASE}/stages?status=complete", timeout=10)
        )
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def _timed(fn, trials):
    """One untimed warmup + `trials` timed runs; returns (secs, shuffle_mb)
    lists — shuffle_mb is the per-run shuffle-write byte delta."""
    fn()
    out, smb = [], []
    for _ in range(trials):
        b0 = _shuffle_write_bytes()
        t0 = time.monotonic()
        fn()
        out.append(round(time.monotonic() - t0, 3))
        b1 = _shuffle_write_bytes()
        smb.append(round((b1 - b0) / 1e6, 1) if b0 >= 0 and b1 >= 0 else -1)
    return out, smb


def _pairs_key(df):
    return sorted((r[0], r[1]) for r in df.select("id_a", "id_b").collect())


def _exact_key(df):
    return sorted(
        (r["text_hash"], r["cluster_size"], r["canonical_id"], tuple(r["members"]))
        for r in df.collect()
    )


def _line_key(df):
    return sorted(
        (r["doc_id"], r["n_lines"], r["n_dropped"], r["clean_text"])
        for r in df.collect()
    )


def _sem_key(df):
    return sorted(
        (r["vec_id"], r["centroid_id"], r["n_cluster"], r["capped"],
         r["dup_of"], r["is_dup"])
        for r in df.collect()
    )


def _span_key(df):
    return sorted(
        map(tuple, df.select("doc_id", "n_tokens", "n_dup_windows", "dup_tokens").collect())
    )


def run(args):
    from literature_to_facts_spark.config import LONG_LIVED_DRIVER_CONF, get_spark

    wd = args.workdir
    if os.path.isdir(wd):
        shutil.rmtree(wd)
    os.makedirs(wd)
    spark = get_spark(
        app_name="delta-scale-ab",
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            **LONG_LIVED_DRIVER_CONF,  # interleaved trials in one JVM: keep C2
            "spark.ui.enabled": "true",
            "spark.ui.port": str(_UI_PORT),
            # keep every stage resident so b1 - b0 snapshot diffs never
            # lose evicted stages on long multi-family runs
            "spark.ui.retainedStages": "100000",
        },
    )
    global _UI_BASE
    _UI_BASE = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    n, nb = args.n_docs, args.n_batch
    global OFFSET
    if n + nb >= OFFSET:
        OFFSET = 10 ** (len(str(n + nb)))  # next power of ten above history
    if args.emb_planes is not None:
        EMBED["n_planes"] = int(args.emb_planes)
    fam_filter = set(args.families.split(","))
    known = {"minhash", "simhash", "embedding", "span", "line", "exact",
             "semantic", "semantic_concentrated", "semantic_partitioned",
             "predstats", "charsets", "anchors"}
    if not fam_filter <= known:
        raise SystemExit(f"unknown families {sorted(fam_filter - known)}; "
                         f"choose from {sorted(known)}")
    result = {
        "n_history": n,
        "n_batch": nb,
        "trials": args.trials,
        "cpus": os.cpu_count(),
        "emb_planes": EMBED["n_planes"],
        "families": {},
    }

    need_docs = bool(fam_filter & {"minhash", "simhash", "span", "line", "exact"})
    need_vecs = "embedding" in fam_filter
    need_sem = bool(fam_filter & {"semantic", "semantic_concentrated",
                                  "semantic_partitioned"})
    need_sem_part = "semantic_partitioned" in fam_filter

    # ---- corpora (deterministic, Spark-side; written to parquet so every
    # run scans real splittable files, like a production table).  Only the
    # corpora the selected families touch are generated — a 20M-vector
    # embedding-only run must not pay a 14 GB document gen.
    t0 = time.monotonic()
    if need_docs:
        build_scale_documents(spark, n, seed=42, vocab=args.vocab).write.mode(
            "overwrite"
        ).parquet(f"{wd}/docs")
        batch_docs = build_scale_documents(
            spark, nb // 2, seed=42, vocab=args.vocab
        ).withColumn("doc_id", F.col("doc_id") + OFFSET)
        batch_docs = batch_docs.unionByName(
            build_scale_documents(spark, nb - nb // 2, seed=99, vocab=args.vocab)
            .withColumn("doc_id", F.col("doc_id") + 2 * OFFSET)
        )
        batch_docs.write.mode("overwrite").parquet(f"{wd}/batch_docs")
    if need_vecs:
        build_scale_embeddings(spark, n, dim=EMBED["dim"], seed=7).write.mode(
            "overwrite"
        ).parquet(f"{wd}/vecs")
        batch_vecs = build_scale_embeddings(
            spark, nb // 2, dim=EMBED["dim"], seed=7
        ).withColumn("vec_id", F.col("vec_id") + OFFSET)
        batch_vecs = batch_vecs.unionByName(
            build_scale_embeddings(spark, nb - nb // 2, dim=EMBED["dim"], seed=123)
            .withColumn("vec_id", F.col("vec_id") + 2 * OFFSET)
        )
        batch_vecs.write.mode("overwrite").parquet(f"{wd}/batch_vecs")
    if need_sem:
        build_scale_embeddings(
            spark, n, dim=SEMANTIC["dim"], seed=31
        ).write.mode("overwrite").parquet(f"{wd}/sm_vecs")
        sm_batch = build_scale_embeddings(
            spark, nb // 2, dim=SEMANTIC["dim"], seed=31
        ).withColumn("vec_id", F.col("vec_id") + OFFSET)
        sm_batch = sm_batch.unionByName(
            build_scale_embeddings(
                spark, nb - nb // 2, dim=SEMANTIC["dim"], seed=77
            ).withColumn("vec_id", F.col("vec_id") + 2 * OFFSET)
        )
        sm_batch.write.mode("overwrite").parquet(f"{wd}/sm_batch")
        # concentrated variant: |x| + 1 folds every vector into the
        # all-positive orthant — the batch lands in the few clusters
        # nearest that direction (the topically-clustered daily-crawl
        # case), while history stays spread over all clusters
        sm_batch.selectExpr(
            "vec_id",
            "transform(embedding, x -> abs(x) + cast(1.0 as float))"
            " AS embedding",
        ).write.mode("overwrite").parquet(f"{wd}/sm_batch_c")
    result["corpus_gen_sec"] = round(time.monotonic() - t0, 1)

    docs = batch = docs_all = None
    vecs = vbatch = vecs_all = None
    smv = smb = sm_ctr = None
    if need_docs:
        docs = spark.read.parquet(f"{wd}/docs")
        batch = spark.read.parquet(f"{wd}/batch_docs")
        docs_all = docs.select("doc_id", "text").unionByName(
            batch.select("doc_id", "text")
        )
    if need_vecs:
        vecs = spark.read.parquet(f"{wd}/vecs")
        vbatch = spark.read.parquet(f"{wd}/batch_vecs")
        vecs_all = vecs.select("vec_id", "embedding").unionByName(
            vbatch.select("vec_id", "embedding")
        )
    if need_sem:
        smv = spark.read.parquet(f"{wd}/sm_vecs")
        smb = spark.read.parquet(f"{wd}/sm_batch")
        smb_c = spark.read.parquet(f"{wd}/sm_batch_c")
        sm_part = None  # read lazily after the index build writes it

    # ---- persisted history indexes (bucketed catalog tables — the probe
    # shape's zero-Exchange property needs the bucket metadata)
    t0 = time.monotonic()
    for tbl in ("ab_mh_idx", "ab_sh_idx", "ab_em_idx", "ab_sp_idx",
                "ab_ln_idx", "ab_ex_idx", "ab_sm_idx", "ab_ps_idx",
                "ab_cs_idx", "ab_an_idx"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if need_sem:
        # frozen quantizer trained on HISTORY only (the FAISS contract);
        # assignments bucketed by centroid_id = the probe's zero-Exchange
        # history state
        reg = []
        ctr, assigns = build_ivf_index(
            smv, n_centroids=SEMANTIC["n_clusters"],
            refine_iters=SEMANTIC["refine_iters"], cache_registry=reg,
        )
        ctr.write.mode("overwrite").parquet(f"{wd}/sm_ctr")
        write_bucketed(assigns, "ab_sm_idx", "centroid_id", 32,
                       path=f"{wd}/sm_idx")
        if need_sem_part:
            spark.table("ab_sm_idx").write.mode("overwrite").partitionBy(
                "centroid_id"
            ).parquet(f"{wd}/sm_idx_part")
        for df in reg:
            df.unpersist()
        sm_ctr = spark.read.parquet(f"{wd}/sm_ctr")
    if "exact" in fam_filter:
        write_bucketed(
            build_exact_hash_index(docs), "ab_ex_idx", "text_hash", 32,
            path=f"{wd}/ex_idx",
        )
    docs_ln = batch_ln = None
    if "line" in fam_filter:
        docs_ln = docs.selectExpr("doc_id", _LINEIFY)
        batch_ln = batch.selectExpr("doc_id", _LINEIFY)
        write_bucketed(
            build_line_frequency_index(
                docs_ln, min_line_chars=LINE["min_line_chars"]
            ),
            "ab_ln_idx", "line_key", 32, path=f"{wd}/ln_idx",
        )
    if "span" in fam_filter:
        write_bucketed(
            build_window_frequency_index(docs, window=SPAN["window"]),
            "ab_sp_idx", "win_key", 32, path=f"{wd}/sp_idx",
        )
    if "minhash" in fam_filter:
        write_bucketed(
            build_lsh_band_index(
                docs, n_gram=MINHASH["n_gram"], n_hashes=MINHASH["n_hashes"],
                bands=MINHASH["bands"],
            ),
            "ab_mh_idx", "key", 32, path=f"{wd}/mh_idx",
        )
    if "simhash" in fam_filter:
        write_bucketed(
            build_simhash_band_index(docs), "ab_sh_idx", "key", 32,
            path=f"{wd}/sh_idx",
        )
    if "embedding" in fam_filter:
        write_bucketed(
            build_embedding_bucket_index(
                vecs, n_planes=EMBED["n_planes"], dim=EMBED["dim"]
            ),
            "ab_em_idx", "bucket", 32, path=f"{wd}/em_idx",
        )
    trip_batch = ps_stats = cs_hist = None
    if fam_filter & {"predstats", "charsets"}:
        from literature_to_facts_spark.engine.kgquery import (  # noqa: E402
            build_predicate_pair_index,
            predicate_stats,
            predicate_stats_incremental,
        )

        hist_triples = build_scale_triples(spark, n)
        hist_triples.write.mode("overwrite").parquet(f"{wd}/trip_hist")
        build_scale_triples(spark, nb, offset=OFFSET).write.mode(
            "overwrite"
        ).parquet(f"{wd}/trip_batch")
        trip_hist = spark.read.parquet(f"{wd}/trip_hist")
        trip_batch = spark.read.parquet(f"{wd}/trip_batch")
        if "predstats" in fam_filter:
            write_bucketed(
                build_predicate_pair_index(trip_hist), "ab_ps_idx",
                "pair_key", 32, path=f"{wd}/ps_idx",
            )
        # pred-sized rolling stats table (the operational mode rewrites it
        # per batch); built once from history, untimed
        predicate_stats(trip_hist).write.mode("overwrite").parquet(
            f"{wd}/ps_stats"
        )
        ps_stats = spark.read.parquet(f"{wd}/ps_stats")
        if "charsets" in fam_filter:
            from literature_to_facts_spark.engine.kgquery import (
                build_subject_pred_index,
                characteristic_sets,
            )

            write_bucketed(
                build_subject_pred_index(trip_hist), "ab_cs_idx", "subj",
                32, path=f"{wd}/cs_idx",
            )
            characteristic_sets(trip_hist).write.mode("overwrite").parquet(
                f"{wd}/cs_hist"
            )
            cs_hist = spark.read.parquet(f"{wd}/cs_hist")
    an_batch = None
    if "anchors" in fam_filter:
        from literature_to_facts_spark.datapipe.html import (  # noqa: E402
            build_anchor_index,
        )

        n_targets = max(1, n // ANCHORS["inlinks_per_target"])
        n_hosts = max(1, n // ANCHORS["links_per_host"])
        build_scale_anchor_links(
            spark, n, n_targets, n_hosts
        ).write.mode("overwrite").parquet(f"{wd}/an_hist")
        build_scale_anchor_links(
            spark, nb, n_targets, n_hosts, mult=3, offset=1
        ).write.mode("overwrite").parquet(f"{wd}/an_batch")
        an_batch = spark.read.parquet(f"{wd}/an_batch")
        write_bucketed(
            build_anchor_index(
                spark.read.parquet(f"{wd}/an_hist"), src_host_col="src_host"
            ),
            "ab_an_idx", "tav_key", 32, path=f"{wd}/an_idx",
        )
    result["index_build_sec"] = round(time.monotonic() - t0, 1)

    def probe_mh():
        reg = []
        out = minhash_lsh_pairs_incremental(
            batch, docs, old_index=spark.table("ab_mh_idx"),
            n_gram=MINHASH["n_gram"], n_hashes=MINHASH["n_hashes"],
            bands=MINHASH["bands"], threshold=MINHASH["threshold"],
            max_bucket=MINHASH["max_bucket"], cache_registry=reg,
        )
        c = out.count()
        for df in reg:
            df.unpersist()
        return c

    def union_mh():
        all_idx = spark.table("ab_mh_idx").unionByName(
            build_lsh_band_index(
                batch, n_gram=MINHASH["n_gram"], n_hashes=MINHASH["n_hashes"],
                bands=MINHASH["bands"],
            )
        )
        return union_minhash(
            all_idx, docs_all, bands=MINHASH["bands"], n_gram=MINHASH["n_gram"],
            threshold=MINHASH["threshold"], max_bucket=MINHASH["max_bucket"],
        ).count()

    def probe_sh():
        reg = []
        out = simhash_near_dups_incremental(
            batch, old_index=spark.table("ab_sh_idx"),
            max_hamming=SIMHASH["max_hamming"], max_bucket=SIMHASH["max_bucket"],
            cache_registry=reg,
        )
        c = out.count()
        for df in reg:
            df.unpersist()
        return c

    def union_sh():
        all_idx = spark.table("ab_sh_idx").unionByName(
            build_simhash_band_index(batch)
        )
        return union_simhash(
            all_idx, max_hamming=SIMHASH["max_hamming"],
            max_bucket=SIMHASH["max_bucket"],
        ).count()

    def probe_em():
        reg = []
        out = embedding_near_dup_pairs_incremental(
            vbatch, vecs, old_index=spark.table("ab_em_idx"),
            threshold=EMBED["threshold"], n_planes=EMBED["n_planes"],
            dim=EMBED["dim"], max_bucket=EMBED["max_bucket"],
            cache_registry=reg,
        )
        c = out.count()
        for df in reg:
            df.unpersist()
        return c

    def union_em():
        all_idx = spark.table("ab_em_idx").unionByName(
            build_embedding_bucket_index(
                vbatch, n_planes=EMBED["n_planes"], dim=EMBED["dim"]
            )
        )
        return union_embedding(
            all_idx, vecs_all, threshold=EMBED["threshold"],
            max_bucket=EMBED["max_bucket"],
        ).count()

    # span consumers must aggregate the COVERAGE columns, not count(): the
    # frequent-set join is a LEFT join with a unique right key, so under a
    # bare count() Catalyst's join elimination deletes the entire history
    # subtree and both shapes measure nothing (r6 fix; the other families
    # count inner-join pair frames, which cannot be eliminated)
    def _force_span(out):
        return out.agg(
            F.sum("n_dup_windows").alias("a"), F.sum("dup_tokens").alias("b")
        ).collect()[0]

    def probe_sp():
        reg = []
        out = span_dedup_incremental(
            batch, spark.table("ab_sp_idx"), window=SPAN["window"],
            min_df=SPAN["min_df"], cache_registry=reg,
        )
        c = _force_span(out)
        for df in reg:
            df.unpersist()
        return c

    def union_sp():
        all_idx = spark.table("ab_sp_idx").unionByName(
            build_window_frequency_index(batch, window=SPAN["window"])
        )
        return _force_span(
            union_span(
                all_idx, batch, window=SPAN["window"], min_df=SPAN["min_df"]
            )
        )

    # line consumers aggregate the computed columns (same LEFT-join
    # elimination hazard as span: a bare count() would delete the frequent
    # set join)
    def _force_line(out):
        return out.agg(
            F.sum("n_dropped").alias("a"), F.sum("n_lines").alias("b")
        ).collect()[0]

    def probe_ln():
        reg = []
        out = line_dedup_incremental(
            batch_ln, spark.table("ab_ln_idx"), min_df=LINE["min_df"],
            min_line_chars=LINE["min_line_chars"], cache_registry=reg,
        )
        c = _force_line(out)
        for df in reg:
            df.unpersist()
        return c

    def union_ln():
        all_idx = spark.table("ab_ln_idx").unionByName(
            build_line_frequency_index(
                batch_ln, min_line_chars=LINE["min_line_chars"]
            )
        )
        return _force_line(
            union_line(
                all_idx, batch_ln, min_df=LINE["min_df"],
                min_line_chars=LINE["min_line_chars"],
            )
        )

    def probe_ex():
        reg = []
        out = exact_duplicate_clusters_incremental(
            batch, spark.table("ab_ex_idx"), cache_registry=reg
        )
        c = out.count()
        for df in reg:
            df.unpersist()
        return c

    def union_ex():
        all_idx = spark.table("ab_ex_idx").unionByName(
            build_exact_hash_index(batch)
        )
        return union_exact(all_idx).count()

    def _sem_runners(batch_df):
        def probe_sm():
            reg = []
            out = semantic_dedup_incremental(
                batch_df, spark.table("ab_sm_idx"), sm_ctr,
                threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"], cache_registry=reg,
            )
            c = out.count()
            for df in reg:
                df.unpersist()
            return c

        def union_sm():
            assign_all = spark.table("ab_sm_idx").unionByName(
                _ivf_assign(batch_df.select("vec_id", "embedding"), sm_ctr)
            )
            return union_semantic(
                assign_all, threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"],
            ).count()

        return probe_sm, union_sm

# predstats consumers aggregate ALL three stat columns: a bare count()
    # would let Catalyst PRUNE the distinct-count aggregates (only the group
    # keys survive a count) and both shapes would measure a distinct(pred)
    # instead of the distinct-value maintenance (the span-family trap)
    def _force_ps(out):
        return out.agg(
            F.sum("n_triples").alias("a"), F.sum("n_subj").alias("b"),
            F.sum("n_obj").alias("c"),
        ).collect()[0]

    def probe_ps():
        from literature_to_facts_spark.engine.kgquery import (
            predicate_stats_incremental,
        )

        reg = []
        out = predicate_stats_incremental(
            trip_batch, spark.table("ab_ps_idx"), ps_stats, cache_registry=reg
        )
        c = _force_ps(out)
        for df in reg:
            df.unpersist()
        return c

    def union_ps():
        from literature_to_facts_spark.engine.kgquery import (
            build_predicate_pair_index,
        )

        all_idx = spark.table("ab_ps_idx").unionByName(
            build_predicate_pair_index(trip_batch)
        )
        return _force_ps(union_predstats(all_idx))

    def _force_cs(out):
        return out.agg(
            F.sum("n_subj").alias("a"), F.sum("n_preds").alias("b"),
            F.count(F.lit(1)).alias("c"),
        ).collect()[0]

    def probe_cs():
        from literature_to_facts_spark.engine.kgquery import (
            characteristic_sets_incremental,
        )

        reg = []
        out = characteristic_sets_incremental(
            trip_batch, spark.table("ab_cs_idx"), cs_hist, cache_registry=reg
        )
        c = _force_cs(out)
        for df in reg:
            df.unpersist()
        return c

    def union_cs():
        from literature_to_facts_spark.engine.kgquery import (
            build_subject_pred_index,
        )

        all_sp = spark.table("ab_cs_idx").unionByName(
            build_subject_pred_index(trip_batch)
        )
        return _force_cs(union_charsets(all_sp))

    # anchors consumers aggregate ALL profile columns (the span/predstats
    # coverage-forcing rule: a bare count() would let Catalyst prune the
    # evidence aggregates and the top-k window)
    def _force_an(out):
        return out.agg(
            F.sum("n_anchored_inlinks").alias("a"),
            F.sum("n_anchors").alias("b"),
            F.sum("n_src_hosts").alias("c"),
            F.sum(F.length("top_anchors")).alias("d"),
        ).collect()[0]

    def probe_an():
        from literature_to_facts_spark.datapipe.html import (
            anchor_text_profile_incremental,
        )

        reg = []
        out = anchor_text_profile_incremental(
            an_batch, spark.table("ab_an_idx"), src_host_col="src_host",
            k=ANCHORS["k"], cache_registry=reg,
        )
        c = _force_an(out)
        for df in reg:
            df.unpersist()
        return c

    def union_an():
        from literature_to_facts_spark.datapipe.html import build_anchor_index

        all_idx = spark.table("ab_an_idx").unionByName(
            build_anchor_index(an_batch, src_host_col="src_host")
        )
        return _force_an(
            union_anchors(
                all_idx,
                an_batch.where(
                    F.col("anchor_text").isNotNull()
                    & (F.col("anchor_text") != "")
                ).select(F.col("link_url").alias("target")).distinct(),
                k=ANCHORS["k"],
            )
        )

    fams = {
        "minhash": (probe_mh, union_mh),
        "simhash": (probe_sh, union_sh),
        "embedding": (probe_em, union_em),
        "span": (probe_sp, union_sp),
        "line": (probe_ln, union_ln),
        "exact": (probe_ex, union_ex),
        "predstats": (probe_ps, union_ps),
        "charsets": (probe_cs, union_cs),
        "anchors": (probe_an, union_an),
    }
    if need_sem:
        fams["semantic"] = _sem_runners(smb)
        fams["semantic_concentrated"] = _sem_runners(smb_c)
    if need_sem_part:
        sm_part = spark.read.parquet(f"{wd}/sm_idx_part")

        def probe_smp():
            reg = []
            out = semantic_dedup_incremental(
                smb_c, sm_part, sm_ctr, threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"], cache_registry=reg,
                prune_partitions=True,
            )
            c = out.count()
            for df in reg:
                df.unpersist()
            return c

        def union_smp():
            assign_all = sm_part.select(
                "vec_id", "embedding", "centroid_id"
            ).unionByName(
                _ivf_assign(smb_c.select("vec_id", "embedding"), sm_ctr)
            )
            return union_semantic(
                assign_all, threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"],
            ).count()

        fams["semantic_partitioned"] = (probe_smp, union_smp)
    fams = {k: v for k, v in fams.items() if k in fam_filter}
    for fam, (probe_fn, union_fn) in fams.items():
        # parity first (also the probe warmup): identical pair sets
        reg = []
        if fam == "minhash":
            probe_df = minhash_lsh_pairs_incremental(
                batch, docs, old_index=spark.table("ab_mh_idx"),
                n_gram=MINHASH["n_gram"], n_hashes=MINHASH["n_hashes"],
                bands=MINHASH["bands"], threshold=MINHASH["threshold"],
                max_bucket=MINHASH["max_bucket"], cache_registry=reg,
            )
            union_df = union_minhash(
                spark.table("ab_mh_idx").unionByName(
                    build_lsh_band_index(
                        batch, n_gram=MINHASH["n_gram"],
                        n_hashes=MINHASH["n_hashes"], bands=MINHASH["bands"],
                    )
                ),
                docs_all, bands=MINHASH["bands"], n_gram=MINHASH["n_gram"],
                threshold=MINHASH["threshold"], max_bucket=MINHASH["max_bucket"],
            )
        elif fam == "simhash":
            probe_df = simhash_near_dups_incremental(
                batch, old_index=spark.table("ab_sh_idx"),
                max_hamming=SIMHASH["max_hamming"],
                max_bucket=SIMHASH["max_bucket"], cache_registry=reg,
            )
            union_df = union_simhash(
                spark.table("ab_sh_idx").unionByName(
                    build_simhash_band_index(batch)
                ),
                max_hamming=SIMHASH["max_hamming"],
                max_bucket=SIMHASH["max_bucket"],
            )
        elif fam == "exact":
            probe_df = exact_duplicate_clusters_incremental(
                batch, spark.table("ab_ex_idx"), cache_registry=reg
            )
            union_df = union_exact(
                spark.table("ab_ex_idx").unionByName(
                    build_exact_hash_index(batch)
                )
            )
        elif fam == "line":
            probe_df = line_dedup_incremental(
                batch_ln, spark.table("ab_ln_idx"), min_df=LINE["min_df"],
                min_line_chars=LINE["min_line_chars"], cache_registry=reg,
            )
            union_df = union_line(
                spark.table("ab_ln_idx").unionByName(
                    build_line_frequency_index(
                        batch_ln, min_line_chars=LINE["min_line_chars"]
                    )
                ),
                batch_ln, min_df=LINE["min_df"],
                min_line_chars=LINE["min_line_chars"],
            )
        elif fam == "span":
            probe_df = span_dedup_incremental(
                batch, spark.table("ab_sp_idx"), window=SPAN["window"],
                min_df=SPAN["min_df"], cache_registry=reg,
            )
            union_df = union_span(
                spark.table("ab_sp_idx").unionByName(
                    build_window_frequency_index(batch, window=SPAN["window"])
                ),
                batch, window=SPAN["window"], min_df=SPAN["min_df"],
            )
        elif fam.startswith("semantic"):
            _sb = smb if fam == "semantic" else smb_c
            _st = sm_part if fam == "semantic_partitioned" else spark.table("ab_sm_idx")
            probe_df = semantic_dedup_incremental(
                _sb, _st, sm_ctr,
                threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"], cache_registry=reg,
                prune_partitions=(fam == "semantic_partitioned"),
            )
            union_df = union_semantic(
                _st.select("vec_id", "embedding", "centroid_id").unionByName(
                    _ivf_assign(_sb.select("vec_id", "embedding"), sm_ctr)
                ),
                threshold=SEMANTIC["threshold"],
                max_cluster=SEMANTIC["max_cluster"],
            )
        elif fam == "predstats":
            from literature_to_facts_spark.engine.kgquery import (
                build_predicate_pair_index,
                predicate_stats_incremental,
            )

            probe_df = predicate_stats_incremental(
                trip_batch, spark.table("ab_ps_idx"), ps_stats,
                cache_registry=reg,
            )
            union_df = union_predstats(
                spark.table("ab_ps_idx").unionByName(
                    build_predicate_pair_index(trip_batch)
                )
            )
        elif fam == "charsets":
            from literature_to_facts_spark.engine.kgquery import (
                build_subject_pred_index,
                characteristic_sets_incremental,
            )

            probe_df = characteristic_sets_incremental(
                trip_batch, spark.table("ab_cs_idx"), cs_hist,
                cache_registry=reg,
            )
            union_df = union_charsets(
                spark.table("ab_cs_idx").unionByName(
                    build_subject_pred_index(trip_batch)
                )
            )
        elif fam == "anchors":
            from literature_to_facts_spark.datapipe.html import (
                anchor_text_profile_incremental,
                build_anchor_index,
            )

            probe_df = anchor_text_profile_incremental(
                an_batch, spark.table("ab_an_idx"), src_host_col="src_host",
                k=ANCHORS["k"], cache_registry=reg,
            )
            union_df = union_anchors(
                spark.table("ab_an_idx").unionByName(
                    build_anchor_index(an_batch, src_host_col="src_host")
                ),
                an_batch.where(
                    F.col("anchor_text").isNotNull()
                    & (F.col("anchor_text") != "")
                ).select(F.col("link_url").alias("target")).distinct(),
                k=ANCHORS["k"],
            )
        else:
            probe_df = embedding_near_dup_pairs_incremental(
                vbatch, vecs, old_index=spark.table("ab_em_idx"),
                threshold=EMBED["threshold"], n_planes=EMBED["n_planes"],
                dim=EMBED["dim"], max_bucket=EMBED["max_bucket"],
                cache_registry=reg,
            )
            union_df = union_embedding(
                spark.table("ab_em_idx").unionByName(
                    build_embedding_bucket_index(
                        vbatch, n_planes=EMBED["n_planes"], dim=EMBED["dim"]
                    )
                ),
                vecs_all, threshold=EMBED["threshold"],
                max_bucket=EMBED["max_bucket"],
            )
        key_fn = {"span": _span_key, "line": _line_key, "exact": _exact_key,
                  "semantic": _sem_key,
                  "semantic_concentrated": _sem_key,
                  "semantic_partitioned": _sem_key,
                  "predstats": _stats_key,
                  "charsets": _stats_key,
                  "anchors": _stats_key}.get(fam, _pairs_key)
        pk, uk = key_fn(probe_df), key_fn(union_df)
        for df in reg:
            df.unpersist()
        parity = pk == uk
        if not parity:
            print(
                f"PARITY FAIL {fam}: probe {len(pk)} union {len(uk)} "
                f"probe-only {sorted(set(pk) - set(uk))[:5]} "
                f"union-only {sorted(set(uk) - set(pk))[:5]}"
            )
        probe_secs, probe_smb = _timed(probe_fn, args.trials)
        union_secs, union_smb = _timed(union_fn, args.trials)
        # second interleave round to absorb drift
        s2, m2 = _timed(probe_fn, args.trials)
        probe_secs += s2
        probe_smb += m2
        s2, m2 = _timed(union_fn, args.trials)
        union_secs += s2
        union_smb += m2
        result["families"][fam] = {
            "pairs": len(pk),
            "parity_ok": parity,
            "probe_secs": probe_secs,
            "union_secs": union_secs,
            "probe_median": round(statistics.median(probe_secs), 3),
            "union_median": round(statistics.median(union_secs), 3),
            "probe_shuffle_mb": round(statistics.median(probe_smb), 1),
            "union_shuffle_mb": round(statistics.median(union_smb), 1),
            "speedup": round(
                statistics.median(union_secs) / statistics.median(probe_secs), 2
            ),
        }
        print(fam, json.dumps(result["families"][fam]))

    out_path = os.path.join(REPO, "BENCH", "delta_scale_ab.json")
    if args.write_json:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print("wrote", out_path)
    print(json.dumps(result))
    for tbl in ("ab_mh_idx", "ab_sh_idx", "ab_em_idx", "ab_sp_idx",
                "ab_ln_idx", "ab_ex_idx", "ab_sm_idx", "ab_ps_idx",
                "ab_cs_idx", "ab_an_idx"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return 0 if all(f["parity_ok"] for f in result["families"].values()) else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=500_000)
    ap.add_argument("--n-batch", type=int, default=5_000)
    ap.add_argument("--vocab", type=int, default=5_000)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--workdir", default="/tmp/l2f_delta_scale")
    ap.add_argument("--write-json", action="store_true")
    ap.add_argument("--emb-planes", type=int, default=None,
                    help="override EMBED n_planes (operational sizing: "
                    "~log2(n_history) + 1 keeps buckets O(1))")
    ap.add_argument("--families",
                    default="minhash,simhash,embedding,span,line,exact,"
                    "semantic,semantic_concentrated,semantic_partitioned")
    sys.exit(run(ap.parse_args()))
