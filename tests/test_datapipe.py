"""Training-data pipeline operators on the driver testdata (sf0.001)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_exact_duplicate_clusters(spark, documents):
    from literature_to_facts_spark.datapipe.dedup import exact_duplicate_clusters

    # inject known duplicates
    dup = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000)
    docs = documents.unionByName(dup)
    clusters = exact_duplicate_clusters(docs).collect()
    assert len(clusters) >= 5
    for c in clusters:
        assert c["cluster_size"] >= 2
        assert c["canonical_id"] == min(c["members"])


def test_minhash_lsh_finds_near_dups(spark, documents):
    from literature_to_facts_spark.datapipe.dedup import minhash_lsh_pairs

    # exact copies must be found with jaccard 1.0
    dup = documents.limit(8).withColumn("doc_id", F.col("doc_id") + 1000000)
    docs = documents.unionByName(dup)
    pairs = minhash_lsh_pairs(docs, threshold=0.9).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    for i in range(8):
        assert (i, i + 1000000) in found
    assert all(p["jaccard"] >= 0.9 for p in pairs)


def test_ngram_jaccard_matches_python_oracle(spark, documents):
    from literature_to_facts_spark.datapipe.dedup import ngram_jaccard_pairs

    sample = documents.limit(40)
    got = {
        (p["id_a"], p["id_b"]): p["jaccard"]
        for p in ngram_jaccard_pairs(sample, n_gram=3, threshold=0.2).collect()
    }

    rows = sample.select("doc_id", "text").collect()
    def sh(t):
        toks = t.lower().split(" ")
        if len(toks) < 3:
            return {t.lower()}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    exp = {}
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            sa, sb = sh(a["text"]), sh(b["text"])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.2:
                key = (min(a["doc_id"], b["doc_id"]), max(a["doc_id"], b["doc_id"]))
                exp[key] = round(j, 6)
    assert got == exp


def test_simhash_deterministic_and_near_dup(spark, documents):
    from literature_to_facts_spark.datapipe.dedup import simhash_near_dups, with_simhash

    s1 = {r["doc_id"]: r["simhash"] for r in with_simhash(documents).collect()}
    s2 = {r["doc_id"]: r["simhash"] for r in with_simhash(documents).collect()}
    assert s1 == s2
    dup = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000)
    pairs = simhash_near_dups(documents.unionByName(dup), max_hamming=0).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    assert {(i, i + 1000000) for i in range(5)} <= found


def test_lsh_bucket_stats_and_signature_view(spark, documents):
    from literature_to_facts_spark.datapipe.dedup import (
        lsh_bucket_stats,
        minhash_signatures,
        with_minhash_signature,
    )

    stats = lsh_bucket_stats(documents, max_bucket=1000).collect()[0]
    assert stats["n_buckets"] > 0
    assert stats["n_oversize_buckets"] == 0  # 50-doc fixture: no spam cluster
    # tiny cap: every multi-member bucket counts as oversize
    tight = lsh_bucket_stats(documents, max_bucket=1).collect()[0]
    assert tight["n_oversize_buckets"] == tight["n_multi_buckets"]
    assert tight["n_docs_in_oversize"] >= 2 * tight["n_oversize_buckets"]

    # array view agrees with the columnar signatures
    sig_cols = minhash_signatures(documents.limit(5)).collect()
    sig_arr = {r["doc_id"]: r["sig"] for r in with_minhash_signature(documents.limit(5)).collect()}
    for r in sig_cols:
        assert sig_arr[r["doc_id"]] == [r[f"m{s}"] for s in range(32)]


def test_minhash_plan_single_signature_consumer(spark, documents):
    """Scale-shape regression guard: the signature pipeline (per-shingle md5
    double hash) must appear exactly ONCE in the optimized plan.  A second
    consumer of the bucket aggregate (the round-1-style oversize branch)
    doubles it — Spark does not exchange-reuse the subtree across a union,
    so the whole explode+hash+groupBy would execute twice (measured 2x)."""
    from literature_to_facts_spark.datapipe.dedup import minhash_lsh_pairs

    plan = (
        minhash_lsh_pairs(documents, threshold=0.5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one signature projection computes h1 and h2 -> exactly two conv(md5)
    assert plan.count("conv(substr(md5") == 2


def test_minhash_null_text_docs_emit_nothing(spark):
    """NULL-text documents must produce NO signature rows, NO band keys and
    NO pairs — without the isNotNull filter they all collapsed into shared
    empty-string band buckets and paired each other at jaccard=1.0, and the
    DuckDB oracles (whose list_distinct strips NULLs) diverged."""
    import pandas as pd

    from literature_to_facts_spark.datapipe.dedup import (
        lsh_bucket_stats,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["alpha beta gamma delta", "alpha beta gamma delta", None, None, None],
        }
    )
    docs = spark.createDataFrame(pdf)
    sigs = minhash_signatures(docs, n_hashes=16)
    assert {r["doc_id"] for r in sigs.collect()} == {1, 2}
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    stats = lsh_bucket_stats(docs, n_hashes=16, bands=4, max_bucket=1000).collect()[0]
    # 4 signature bands x 1 shared key + 1 exact band key = 5 buckets; all multi
    assert stats["n_buckets"] == 5
    assert stats["n_multi_buckets"] == 5


def test_connected_components_merges_pair_chains(spark):
    """Pairs {1-2,2-3,3-4} must collapse into one cluster with rep=min id;
    disjoint components keep separate reps; long chains converge within the
    O(log diameter) pointer-jumping budget."""
    from literature_to_facts_spark.datapipe.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_rep"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # a 64-node chain: diameter 63, must converge via pointer jumping
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 163)], "id_a long, id_b long"
    )
    out = connected_components(chain, max_iters=10).collect()
    assert {r["cluster_rep"] for r in out} == {100}
    assert len(out) == 64


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from literature_to_facts_spark.datapipe.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 164)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)


def test_exact_dedup_null_text_excluded(spark):
    """NULL-text docs join no exact-dup cluster, in BOTH modes: grouping
    NULLs would fabricate a 'duplicate' cluster of contentless docs, and in
    the probe-shaped delta a NULL join key silently drops historical
    members (NULL never matches a semi/inner join) while new NULL rows
    survive the anti branch — wrong size, wrong canonical id (round-5
    review repro)."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_exact_hash_index,
        exact_duplicate_clusters,
        exact_duplicate_clusters_incremental,
    )

    docs = spark.createDataFrame(
        [(1, None), (5, None), (10, None), (2, "same"), (7, "same")],
        "doc_id long, text string",
    )
    full = exact_duplicate_clusters(docs).collect()
    assert [(r["cluster_size"], r["canonical_id"], list(r["members"])) for r in full] == [
        (2, 2, [2, 7])
    ]
    inc = exact_duplicate_clusters_incremental(
        docs.where(F.col("doc_id") >= 5),
        build_exact_hash_index(docs.where(F.col("doc_id") < 5)),
    ).collect()
    assert [(r["cluster_size"], r["canonical_id"], list(r["members"])) for r in inc] == [
        (2, 2, [2, 7])
    ]


def test_cc_incremental_equals_restricted_full(spark):
    """Delta closure contract: labels over (new pairs, persisted cluster
    state) == full closure over ALL pairs restricted to components touching
    a new-pair endpoint; merging the delta into the state reproduces the
    full closure exactly; untouched components are not returned."""
    from literature_to_facts_spark.datapipe.dedup import (
        connected_components,
        connected_components_incremental,
        merged_cluster_state,
    )

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    # merges {1,2,3}+{7,8} via 3-7, extends {4,5} with 9, adds fresh {20,21}
    new_pairs = spark.createDataFrame(
        [(3, 7), (7, 8), (5, 9), (20, 21)], "id_a long, id_b long"
    )
    state = connected_components(old_pairs)
    delta = connected_components_incremental(new_pairs, state)
    got = {(r["doc_id"], r["cluster_rep"]) for r in delta.collect()}
    full = {
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(old_pairs.unionByName(new_pairs)).collect()
    }
    new_nodes = {3, 7, 8, 5, 9, 20, 21}
    touched = {rep for n, rep in full if n in new_nodes}
    assert got == {(n, rep) for n, rep in full if rep in touched}
    assert not any(n in (10, 11) for n, _ in got)  # untouched comp excluded
    merged = {
        (r["doc_id"], r["cluster_rep"])
        for r in merged_cluster_state(state, delta).collect()
    }
    assert merged == full


def test_cc_incremental_empty_batch_is_noop(spark):
    from literature_to_facts_spark.datapipe.dedup import (
        connected_components,
        connected_components_incremental,
        merged_cluster_state,
    )

    state = connected_components(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    )
    empty = spark.createDataFrame([], "id_a long, id_b long")
    delta = connected_components_incremental(empty, state)
    assert delta.count() == 0
    assert {
        (r["doc_id"], r["cluster_rep"])
        for r in merged_cluster_state(state, delta).collect()
    } == {(1, 1), (2, 1)}


def test_cc_incremental_daily_loop(spark, documents, tmp_path):
    """The full operational delta chain, state round-tripping through
    parquet: each day the new batch pairs via the incremental MinHash probe,
    the pairs fold into the persisted cluster map via the incremental
    closure, and after three days the map equals the full-corpus
    connected_components over the full-corpus pair set."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        connected_components,
        connected_components_incremental,
        merged_cluster_state,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    dup = documents.limit(9).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup).select("doc_id", "text")
    batches = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    params = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5)
    idx_params = {k: v for k, v in params.items() if k != "threshold"}
    idx_path = str(tmp_path / "idx")
    st_path = str(tmp_path / "cluster_state")

    day0 = minhash_lsh_pairs(batches[0], **params)
    connected_components(day0).write.parquet(st_path + "0")
    build_lsh_band_index(batches[0], **idx_params).write.parquet(idx_path)
    seen = batches[0]
    for day in (1, 2):
        state = spark.read.parquet(st_path + str(day - 1))
        new_pairs = minhash_lsh_pairs_incremental(
            batches[day], seen, spark.read.parquet(idx_path), **params
        )
        delta = connected_components_incremental(new_pairs, state)
        merged_cluster_state(state, delta).write.parquet(st_path + str(day))
        build_lsh_band_index(batches[day], **idx_params).write.mode(
            "append"
        ).parquet(idx_path)
        seen = seen.unionByName(batches[day])

    final = {
        (r["doc_id"], r["cluster_rep"])
        for r in spark.read.parquet(st_path + "2").collect()
    }
    full = {
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(minhash_lsh_pairs(docs, **params)).collect()
    }
    assert final == full and len(full) > 0


def test_cluster_state_partitioned_update(spark, tmp_path):
    """In-place partitioned state maintenance: a delta rewrites ONLY the
    partitions holding touched rows (untouched partition files byte-stable),
    purges stale rows of merged components even when the surviving
    representative hashes into a different partition, and after two batches
    the state equals the full closure."""
    import os

    from literature_to_facts_spark.datapipe.dedup import (
        connected_components,
        connected_components_incremental,
        update_cluster_state_partitioned,
        write_cluster_state,
    )

    path = str(tmp_path / "cstate")
    n_pb = 8
    old_pairs = spark.createDataFrame(
        [(100, 101), (200, 201), (300, 301)], "id_a long, id_b long"
    )
    state0 = connected_components(old_pairs)
    write_cluster_state(state0, path, n_partitions=n_pb)

    def listing():
        out = {}
        for d in sorted(os.listdir(path)):
            if d.startswith("_pb="):
                full = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    before = listing()
    # merge {200,201} with {300,301} (rep moves 300 -> 200, possibly across
    # partitions) and add a fresh component; {100,101} stays untouched
    new_pairs = spark.createDataFrame(
        [(201, 300), (400, 401)], "id_a long, id_b long"
    )
    delta = connected_components_incremental(
        new_pairs, spark.read.parquet(path).select("doc_id", "cluster_rep")
    )
    update_cluster_state_partitioned(spark, path, delta, n_partitions=n_pb)
    after = listing()

    got = {
        (r["doc_id"], r["cluster_rep"])
        for r in spark.read.parquet(path).select("doc_id", "cluster_rep").collect()
    }
    full = {
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(old_pairs.unionByName(new_pairs)).collect()
    }
    assert got == full
    # the partition holding the untouched component {100,101} is byte-stable
    untouched_pb = [
        r["_pb"]
        for r in spark.read.parquet(path).where(F.col("doc_id") == 100).collect()
    ][0]
    assert before[f"_pb={untouched_pb}"] == after[f"_pb={untouched_pb}"]
    # and at least one partition changed
    assert before != after

    # replay idempotence: re-applying the same delta leaves the state equal
    update_cluster_state_partitioned(spark, path, delta, n_partitions=n_pb)
    again = {
        (r["doc_id"], r["cluster_rep"])
        for r in spark.read.parquet(path).select("doc_id", "cluster_rep").collect()
    }
    assert again == full


def test_minhash_incremental_equals_restricted_full(spark, documents):
    """Delta dedup contract: incremental pairs over (new batch, old corpus +
    persisted band index) == full-corpus pairs restricted to pairs touching
    a new doc — same ids, same jaccards, including exact-duplicate star
    pairs that cross the old/new boundary."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    # inject near/exact dups on both sides of the split so new×new, new×old
    # and old×old pairs all exist
    dup = documents.limit(8).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup)
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    params = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5)

    full = minhash_lsh_pairs(docs, **params).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in full
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert expected, "fixture must produce pairs touching the new batch"
    assert len(expected) < len(full), "old×old pairs must exist and be excluded"

    idx = build_lsh_band_index(old, **{k: v for k, v in params.items() if k != "threshold"})
    inc = minhash_lsh_pairs_incremental(new, old, idx, **params)
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in inc.collect()}
    assert got == expected

    # convenience path (index computed on the fly) must agree
    inc2 = minhash_lsh_pairs_incremental(new, old, None, **params)
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in inc2.collect()} == expected

    # at least one cross-boundary pair (new×old) is present
    assert any(
        (a in new_ids) != (b in new_ids) for a, b, _ in got
    ), "new×old pairs must cross the boundary"


def test_bucket_stats_from_index_matches_direct(spark, documents):
    """The incremental-monitoring path (stats over a persisted index) must
    equal the direct corpus-shaped report."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        lsh_bucket_stats,
        lsh_bucket_stats_from_index,
    )

    direct = lsh_bucket_stats(documents, n_hashes=16, bands=4, max_bucket=20).collect()
    idx = build_lsh_band_index(documents, n_hashes=16, bands=4)
    via_index = lsh_bucket_stats_from_index(idx, bands=4, max_bucket=20).collect()
    assert [r.asDict() for r in direct] == [r.asDict() for r in via_index]


def test_deduplicate_corpus_and_exact_incremental(spark, documents):
    """Purge keeps exactly one representative (min id) per transitive
    cluster plus all unclustered docs; incremental exact clusters equal the
    full clusters restricted to those containing a new doc."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_exact_hash_index,
        deduplicate_corpus,
        exact_duplicate_clusters_incremental,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10, 16)], "doc_id long, text string"
    )
    # {10,11,12} via transitivity, {13,14} direct; 15 unclustered
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (13, 14)], "id_a long, id_b long"
    )
    kept = {r["doc_id"] for r in deduplicate_corpus(docs, pairs).collect()}
    assert kept == {10, 13, 15}

    dup = documents.limit(6).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    corpus = documents.unionByName(dup).select("doc_id", "text")
    new = corpus.where(F.col("doc_id") % 5 == 0)
    old = corpus.where(F.col("doc_id") % 5 != 0)
    full = (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("canon"),
            F.sort_array(F.collect_list("doc_id")).alias("mem"),
            F.max(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)).alias("any_new"),
        )
        .where((F.col("any_new") == 1) & (F.col("n") >= 2))
        .collect()
    )
    expected = {(r["text_hash"], r["n"], r["canon"], tuple(r["mem"])) for r in full}
    # members includes HISTORICAL ids (from the index) — full-mode schema
    # parity, so consumers can swap between the full and delta functions
    got = {
        (r["text_hash"], r["cluster_size"], r["canonical_id"], tuple(r["members"]))
        for r in exact_duplicate_clusters_incremental(
            new, build_exact_hash_index(old)
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_simhash_incremental_equals_restricted_full(spark, documents):
    """Delta SimHash: incremental pairs over (new batch, persisted
    fingerprint index) == full-corpus pairs restricted to pairs touching a
    new doc — no text access for the history (old_docs never passed)."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_simhash_band_index,
        simhash_near_dups,
        simhash_near_dups_incremental,
    )

    dup = documents.limit(8).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup)
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)

    full = simhash_near_dups(docs, max_hamming=8).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in full
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert expected and len(expected) < len(full)

    idx = build_simhash_band_index(old)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups_incremental(new, old_index=idx, max_hamming=8).collect()
    }
    assert got == expected


def test_minhash_incremental_daily_loop(spark, documents, tmp_path):
    """The operational mode end-to-end: the band index round-trips through
    parquet and is APPENDED after each batch; each day pairs only the new
    batch against it.  The union of the daily outputs must equal the
    full-corpus pair set exactly, with every pair emitted exactly once."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    dup = documents.limit(9).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup).select("doc_id", "text")
    batches = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    params = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5)
    idx_params = {k: v for k, v in params.items() if k != "threshold"}
    idx_path = str(tmp_path / "lsh_band_index")

    # day 0: the initial corpus pairs in full; persist its index
    daily = [minhash_lsh_pairs(batches[0], **params).collect()]
    build_lsh_band_index(batches[0], **idx_params).write.parquet(idx_path)
    # days 1, 2: pair the new batch against the persisted index, append
    seen = batches[0]
    for day in (1, 2):
        idx = spark.read.parquet(idx_path)
        daily.append(
            minhash_lsh_pairs_incremental(batches[day], seen, idx, **params).collect()
        )
        build_lsh_band_index(batches[day], **idx_params).write.mode("append").parquet(
            idx_path
        )
        seen = seen.unionByName(batches[day])

    got = [(r["id_a"], r["id_b"], r["jaccard"]) for rows in daily for r in rows]
    full = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs, **params).collect()
    ]
    assert sorted(got) == sorted(full)      # exactly-once: no dupes, no gaps
    assert len(full) > 0


def test_minhash_incremental_bucketed_history_no_exchange(spark, documents, tmp_path):
    """Composition of the delta-dedup probe with the storage layout: when
    the persisted band index is a catalog table bucketed on `key`, the
    history side of a delta batch plans with ZERO Exchange — the
    touched-bucket aggregation is served from bucket locality, so at 100 TB
    history the per-batch cost is one (semi-join-filtered) scan, no shuffle.
    The raw-parquet control pays exactly one more Exchange hashpartitioning
    (the same plan otherwise), and both produce identical pairs."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        minhash_lsh_pairs_incremental,
    )
    from literature_to_facts_spark.engine.kgquery import write_bucketed

    dup = documents.limit(8).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup)
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    params = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5)
    idx = build_lsh_band_index(old, **{k: v for k, v in params.items() if k != "threshold"})
    try:
        write_bucketed(idx, "t_lsh_idx", "key", 4, path=str(tmp_path / "idx"))

        bucketed = minhash_lsh_pairs_incremental(
            new, old, spark.table("t_lsh_idx"), **params
        )
        raw = minhash_lsh_pairs_incremental(
            new, old, spark.read.parquet(str(tmp_path / "idx")), **params
        )
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        plan_r = raw._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_b
        n_b = plan_b.count("Exchange hashpartitioning")
        n_r = plan_r.count("Exchange hashpartitioning")
        # strictly fewer shuffles with the bucketed index (the history-side
        # aggregation Exchange disappears; persisted subtrees print their
        # cached plan per reference, so exact counts are layout-dependent)
        assert n_b < n_r, f"bucketed={n_b} raw={n_r}\n{plan_b}"
        # the pinned contract: the EXACT history-side fragment the probe
        # builds (broadcast semi-join filter -> (band,key) aggregation over
        # the catalog table) plans with ZERO Exchange — bucket
        # hash-partitioning on `key` satisfies the (band, key) clustering
        new_keys = build_lsh_band_index(
            new, **{k: v for k, v in params.items() if k != "threshold"}
        ).select("band", "key")
        hist_agg = (
            spark.table("t_lsh_idx")
            .join(F.broadcast(new_keys), on=["band", "key"], how="left_semi")
            .groupBy("band", "key")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("old_ids"))
        )
        hist_plan = hist_agg._jdf.queryExecution().executedPlan().toString()
        # the only Exchange anywhere in the fragment is inside the BROADCAST
        # subtree (the batch's own signature groupBy) — never on the
        # history stream: no Exchange may sit between the bucketed FileScan
        # and the aggregation, i.e. after the last BroadcastExchange line
        # the plan tail (the streamed side as printed) is exchange-free
        streamed_side = hist_plan.split("BroadcastExchange")[0]
        assert "Exchange" not in streamed_side, hist_plan
        assert "Bucketed: true" in hist_plan
        got_b = {(r["id_a"], r["id_b"], r["jaccard"]) for r in bucketed.collect()}
        got_r = {(r["id_a"], r["id_b"], r["jaccard"]) for r in raw.collect()}
        assert got_b == got_r and len(got_b) > 0
    finally:
        # targeted cleanup only: clearCache() would also unpersist the
        # session-scoped cached fixtures (docs_df/documents), changing
        # later tests' plans (which exposed the gcn_range_filter ANSI-cast
        # bug, since fixed with try_cast)
        spark.sql("DROP TABLE IF EXISTS t_lsh_idx")


def test_all_probe_families_bucketed_history_no_exchange(spark, documents, tmp_path):
    """The zero-Exchange history fragment pinned for MinHash above holds
    for the simhash and exact delta families too: (broadcast semi-join
    filter -> key aggregation) over a write_bucketed catalog index plans
    with no Exchange on the streamed side — bucket hash-partitioning on the
    key column satisfies each family's grouping clustering (subset rule)."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_exact_hash_index,
        build_simhash_band_index,
    )
    from literature_to_facts_spark.engine.kgquery import write_bucketed

    docs = documents.limit(60)
    cases = [
        ("t_simhash_idx", build_simhash_band_index(docs), "key", ["band", "key"]),
        ("t_exact_idx", build_exact_hash_index(docs), "text_hash", ["text_hash"]),
    ]
    try:
        for table, idx, bucket_col, group_cols in cases:
            write_bucketed(idx, table, bucket_col, 4, path=str(tmp_path / table))
            t = spark.table(table)
            probe_keys = t.limit(5).select(*group_cols)
            frag = (
                t.join(F.broadcast(probe_keys), on=group_cols, how="left_semi")
                .groupBy(*group_cols)
                .agg(F.count(F.lit(1)).alias("n"))
            )
            plan = frag._jdf.queryExecution().executedPlan().toString()
            streamed = plan.split("BroadcastExchange")[0]
            assert "Exchange" not in streamed, f"{table}:\n{plan}"
            assert "Bucketed: true" in plan, table
    finally:
        for table, *_ in cases:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_minhash_incremental_daily_loop_bucketed(spark, documents, tmp_path):
    """The operational daily loop OVER A BUCKETED CATALOG INDEX: each day
    appends the batch's band-index rows to the bucketed table (bucket spec
    preserved across appends) and pairs the next batch against it via
    spark.table — the exactly-once contract holds end to end on the layout
    the 100 TB deployment would actually use."""
    from literature_to_facts_spark.datapipe.dedup import (
        build_lsh_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from literature_to_facts_spark.engine.kgquery import write_bucketed

    dup = documents.limit(9).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    docs = documents.unionByName(dup).select("doc_id", "text")
    batches = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    params = dict(n_gram=3, n_hashes=16, bands=4, threshold=0.5)
    idx_params = {k: v for k, v in params.items() if k != "threshold"}
    try:
        daily = [minhash_lsh_pairs(batches[0], **params).collect()]
        write_bucketed(
            build_lsh_band_index(batches[0], **idx_params),
            "t_lsh_daily", "key", 4, path=str(tmp_path / "daily_idx"),
        )
        seen = batches[0]
        for day in (1, 2):
            daily.append(
                minhash_lsh_pairs_incremental(
                    batches[day], seen, spark.table("t_lsh_daily"), **params
                ).collect()
            )
            write_bucketed(
                build_lsh_band_index(batches[day], **idx_params),
                "t_lsh_daily", "key", 4, path=str(tmp_path / "daily_idx"),
                mode="append",
            )
            seen = seen.unionByName(batches[day])
        got = [(r["id_a"], r["id_b"], r["jaccard"]) for rows in daily for r in rows]
        full = [
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, **params).collect()
        ]
        assert sorted(got) == sorted(full)
        assert len(full) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_lsh_daily")


def test_deduplicate_corpus_keep_best(spark):
    """Quality-aware purge: per-cluster argmax on (quality DESC, id ASC),
    NULL quality sorts worst, unclustered docs all survive."""
    from literature_to_facts_spark.datapipe.dedup import (
        deduplicate_corpus_keep_best,
    )

    docs = spark.createDataFrame(
        [
            (10, 1.0), (11, 9.0), (12, 9.0),   # cluster {10,11,12}: 11 wins (tie 11<12)
            (13, None), (14, 0.5),             # cluster {13,14}: NULL worst -> 14 wins
            (15, 0.0),                         # unclustered
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (13, 14)], "id_a long, id_b long"
    )
    kept = {
        r["doc_id"]
        for r in deduplicate_corpus_keep_best(
            docs, pairs, quality_col="quality"
        ).collect()
    }
    assert kept == {11, 14, 15}
