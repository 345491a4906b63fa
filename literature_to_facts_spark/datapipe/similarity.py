"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small) query
  set, JVM-side dot products via ``zip_with`` + ``aggregate``, per-query
  top-k via window.
* LSH-bucketed (random hyperplanes) — the scale path: sign-bit bucket join
  confines candidate generation; probes multiple buckets for recall.
* IVF-flat — coarse quantizer over deterministic sampled centroids; queries
  probe the ``nprobe`` nearest centroid lists.

No Python UDFs: dot products run inside whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        )
    )


def with_cosine(df: DataFrame, a: str = "q_emb", b: str = "embedding") -> DataFrame:
    return df.withColumn(
        "cosine", _dot(a, b) / (_norm(a) * _norm(b))
    )


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """Exact top-k: broadcast queries x all vectors, rank per query.

    Deterministic tie-break on (rounded score desc, vec_id asc) so results
    are stable across partitionings and engines.
    """
    joined = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    ).crossJoin(
        F.broadcast(
            queries.select(F.col(q_id_col).alias("q_id"), F.col(q_emb_col).alias("q_emb"))
        )
    )
    scored = with_cosine(joined).withColumn("cosine", F.round("cosine", 6))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def _bucket_expr(emb_col: str, planes_lit: str, n_planes: int) -> str:
    """Sign-bit bucket id from n_planes hyperplane dot products."""
    return (
        f"aggregate(zip_with({planes_lit}, sequence(0, {n_planes - 1}), (p, i) -> "
        f" CASE WHEN aggregate(zip_with(p, {emb_col}, (a, b) -> a * CAST(b AS DOUBLE)),"
        f"   0D, (acc, v) -> acc + v) > 0 THEN shiftleft(1L, i) ELSE 0L END),"
        f" 0L, (acc, x) -> acc | x)"
    )


def cosine_topk_lsh(
    spark: SparkSession,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    dim: int = 64,
    seed: int = 7,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets; only same-bucket
    candidates are scored.  Recall grows with fewer planes / multiprobe.

    ``multiprobe=m`` additionally probes, per query, the ``m`` Hamming-1
    neighbor buckets whose plane margin ``|dot(p_i, q)|`` is smallest —
    the classic multi-probe LSH trade: at corpus scale you keep MORE
    planes (so bucket population stays O(1) as the corpus grows) and
    recover the recall those extra planes cost by probing the buckets the
    query almost fell into.  Cost is (m+1) probe rows per QUERY (queries
    are broadcast; the corpus side is untouched), so candidates grow
    linearly in m while bucket size stays exponential in -n_planes.
    Margins are rounded to 6dp before ordering (ties then break on plane
    index) so the probe order is bit-portable across engines — the DuckDB
    oracle recomputes the same flips."""
    planes = _hyperplanes(dim, n_planes, seed)
    planes_sql = (
        "array(" + ",".join(
            "array(" + ",".join(f"{x}D" for x in p) + ")" for p in planes
        ) + ")"
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("embedding"),
        F.expr(_bucket_expr(emb_col, planes_sql, n_planes)).alias("bucket"),
    )
    if multiprobe > 0:
        # per-plane dots projected ONCE, then bucket + margin-ordered flips
        # derived from the same array (same fold order as _bucket_expr, so
        # the base bucket is bit-identical to the corpus side's)
        dots = (
            f"transform({planes_sql}, p -> aggregate(zip_with(p, {q_emb_col},"
            f" (a, b) -> a * CAST(b AS DOUBLE)), 0D, (acc, v) -> acc + v))"
        )
        base = (
            "aggregate(zip_with(_dots, sequence(0, {n} - 1), (d, i) -> "
            "CASE WHEN d > 0 THEN shiftleft(1L, i) ELSE 0L END), 0L, "
            "(acc, x) -> acc | x)"
        ).format(n=n_planes)
        flips = (
            "transform(slice(array_sort(zip_with(_dots, sequence(0, {n} - 1),"
            " (d, i) -> named_struct('m', round(abs(d), 6), 'i', i))), 1, {m}),"
            " s -> _bucket ^ shiftleft(1L, s.i))"
        ).format(n=n_planes, m=multiprobe)
        q = (
            queries.selectExpr(
                f"{q_id_col} AS q_id", f"{q_emb_col} AS q_emb", f"{dots} AS _dots"
            )
            .selectExpr("q_id", "q_emb", f"{base} AS _bucket", "_dots")
            .selectExpr(
                "q_id", "q_emb",
                f"explode(concat(array(_bucket), {flips})) AS bucket",
            )
        )
        scored = with_cosine(v.join(F.broadcast(q), on="bucket")).withColumn(
            "cosine", F.round("cosine", 6)
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("q_id", "vec_id", "cosine", "rank")
        )
    q = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_emb_col).alias("q_emb"),
        F.expr(_bucket_expr(q_emb_col, planes_sql, n_planes)).alias("bucket"),
    )
    scored = with_cosine(v.join(F.broadcast(q), on="bucket")).withColumn(
        "cosine", F.round("cosine", 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    Scale path: random-hyperplane sign buckets confine candidate generation
    (groupBy bucket, ids-only in-bucket expansion, size-capped); the exact
    cosine verify joins embeddings back BY ID, so bucket rows never carry
    vectors.  Recall is the LSH collision probability (1 - theta/pi per
    plane) — near-identical embeddings almost always share the bucket; raise
    recall with fewer planes or multiprobe.  Same single-consumer shape as
    minhash_lsh_pairs.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    planes_sql = (
        "array(" + ",".join(
            "array(" + ",".join(f"{x}D" for x in p) + ")" for p in planes
        ) + ")"
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_bucket_expr(emb_col, planes_sql, n_planes)).alias("bucket"),
    )
    buckets = (
        v.groupBy("bucket")
        .agg(F.sort_array(F.collect_set("vec_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    cand = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(ids) - 1),"
                " i -> transform(sequence(0, i - 1),"
                " j -> named_struct('id_a', ids[j], 'id_b', ids[i]))))"
            )
        ).alias("p")
    ).select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    emb = vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
    verified = (
        cand.join(
            emb.withColumnRenamed("vec_id", "id_a").withColumnRenamed("embedding", "e_a"),
            on="id_a",
        )
        .join(
            emb.withColumnRenamed("vec_id", "id_b").withColumnRenamed("embedding", "e_b"),
            on="id_b",
        )
        .withColumn("cosine", F.round(_dot("e_a", "e_b") / (_norm("e_a") * _norm("e_b")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return verified


def build_embedding_bucket_index(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(vec_id, bucket): the hyperplane sign-bucket assignment of a corpus —
    the persisted state of incremental embedding near-dup detection (the
    bucket id is 64 bits of signs; embeddings stay in the corpus table and
    are only re-read BY ID for candidate verification).  Append each new
    batch's rows (this function over the batch) after pairing it with
    :func:`embedding_near_dup_pairs_incremental`.  The hyperplanes are a
    pure function of (dim, n_planes, seed) — index rows written by any run
    with the same parameters are mutually consistent."""
    planes = _hyperplanes(dim, n_planes, seed)
    planes_sql = (
        "array(" + ",".join(
            "array(" + ",".join(f"{x}D" for x in p) + ")" for p in planes
        ) + ")"
    )
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_bucket_expr(emb_col, planes_sql, n_planes)).alias("bucket"),
    )


def embedding_near_dup_pairs_incremental(
    new_vectors: DataFrame,
    old_vectors: DataFrame,
    old_index: DataFrame | None = None,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    max_bucket: int = 1000,
    cache_registry: list | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Delta embedding near-dup: ``embedding_near_dup_pairs(old ∪ new)``
    restricted to pairs touching a new vector — the fourth delta family,
    same contract and PROBE shape as ``dedup.minhash_lsh_pairs_incremental``:
    the batch's bucket ids broadcast-semi-join-filter the persisted index
    at its scan (one filtered history pass, zero history shuffle; zero
    Exchange over a ``kgquery.write_bucketed("bucket")`` catalog table),
    matched buckets stream past a broadcast of the new aggregate, new-only
    buckets come from a scalar-keys anti join, and the bucket-size cap
    applies to the TOTAL old+new population.  ``old_vectors`` supplies
    embeddings for verification — only rows matching candidate ids are
    scored (semi-join by id).  New ids must be disjoint from old ids.
    ``cache_registry`` collects the internal ``persist()`` handles."""
    if old_index is None:
        old_index = build_embedding_bucket_index(
            old_vectors, n_planes, id_col, emb_col, dim, seed
        )
    if new_index is None:
        # optional precomputed batch index — same shared-build contract as
        # minhash_lsh_pairs_incremental.new_index (pure per-row function)
        new_index = build_embedding_bucket_index(
            new_vectors, n_planes, id_col, emb_col, dim, seed
        )
    newagg = (
        new_index.groupBy("bucket")
        .agg(F.sort_array(F.collect_set("vec_id")).alias("new_ids"))
        .persist()
    )
    touched_old = old_index.join(
        F.broadcast(newagg.select("bucket")), on="bucket", how="left_semi"
    )
    old_arrays = touched_old.groupBy("bucket").agg(
        F.sort_array(F.collect_set("vec_id")).alias("old_ids")
    )
    matched = (
        old_arrays.join(F.broadcast(newagg), on="bucket", how="inner").persist()
    )
    miss = newagg.join(
        F.broadcast(matched.select("bucket")), on="bucket", how="left_anti"
    ).withColumn("old_ids", F.expr("slice(new_ids, 1, 0)"))
    if cache_registry is not None:
        cache_registry.extend([newagg, matched])
    cols = ["bucket", "new_ids", "old_ids"]
    buckets = (
        matched.select(*cols)
        .unionByName(miss.select(*cols))
        .where(
            (F.size("new_ids") + F.size("old_ids") >= 2)
            & (F.size("new_ids") + F.size("old_ids") <= max_bucket)
        )
    )
    pair_expr = """
        concat(
          flatten(transform(new_ids, a ->
            transform(filter(new_ids, b -> b > a),
                      b -> named_struct('id_a', a, 'id_b', b)))),
          flatten(transform(new_ids, a ->
            transform(old_ids,
                      b -> named_struct('id_a', least(a, b), 'id_b', greatest(a, b)))))
        )
    """
    cand = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(cand)
    # batch-bounded id set -> broadcast, for the same reason as the MinHash
    # delta: a statically-planned SortMergeJoin here shuffles the full
    # embedding corpus twice (once per pair side)
    cand_ids = F.broadcast(
        cand.select(F.explode(F.array("id_a", "id_b")).alias("vec_id")).distinct()
    )
    # persisted: the verify joins consume this frame twice (id_a and id_b
    # sides) and Spark will not reuse the subtree across the joins — without
    # the persist the full history embedding table is scanned twice per
    # batch.  Batch-bounded (candidate ids only), so the cache is small;
    # measured 4.02 -> 2.6 s at 2M history vectors.
    emb = (
        old_vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
        .unionByName(
            new_vectors.select(
                F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
            )
        )
        .join(cand_ids, on="vec_id", how="left_semi")
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(emb)
    return (
        cand.join(
            emb.withColumnRenamed("vec_id", "id_a").withColumnRenamed("embedding", "e_a"),
            on="id_a",
        )
        .join(
            emb.withColumnRenamed("vec_id", "id_b").withColumnRenamed("embedding", "e_b"),
            on="id_b",
        )
        .withColumn("cosine", F.round(_dot("e_a", "e_b") / (_norm("e_a") * _norm("e_b")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _ivf_assign(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle of the corpus.

    The k-row centroid table collapses to ONE array row (sorted by
    centroid_id), broadcast-cross-joined, and each vector picks its
    centroid with a per-row ``array_max`` argmax — no n_centroids-fold row
    expansion and no ``groupBy(vec_id)`` Exchange (round 7; the previous
    ``crossJoin + max_by`` shape shuffled one row per vector per
    assignment pass).  Tie-break is IDENTICAL to the old max_by key
    ``struct(sim, -centroid_id)``: lexicographic max = highest sim, then
    lowest centroid_id (ids are non-negative, so ANSI negation cannot
    overflow), and centroid ids are unique so the argmax key never ties.
    The dot product is the same ``aggregate(zip_with(...))`` expression in
    the same order, so similarities are bit-identical.  The
    ``size(_cents) > 0`` guard reproduces the old crossJoin's
    empty-centroids behavior (empty output, not NULL assignments)."""
    cents1 = centroids.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("centroid_id"), F.col("c_emb")))
        ).alias("_cents")
    )
    best = (
        "array_max(transform(_cents, c -> named_struct("
        "'s', aggregate(zip_with(embedding, c.c_emb, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v), "
        "'nc', -c.centroid_id)))"
    )
    return (
        base.crossJoin(F.broadcast(cents1))
        .where(F.size("_cents") > 0)
        .withColumn("_best", F.expr(best))
        .select(
            "vec_id",
            "embedding",
            (-F.col("_best.nc")).alias("centroid_id"),
        )
    )


def _lloyd_refine(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd iteration: assign, then replace each centroid with the
    per-dimension mean of its assigned vectors.

    The means run as posexplode -> groupBy(centroid_id, pos) -> SUM (map-side
    partial over n_centroids*dim groups; an alternative with dim explicit
    aggregate columns is algebraically identical but compiles a dim-wide
    codegen class twice — measured +2.3 s of compile at bench scale for zero
    runtime win).  Means are computed in FIXED POINT: each component is
    quantized to integer micro-units (FLOOR(x*1e6 + 0.5)), summed exactly as
    integers (order-independent — a ROUND(AVG(..), 6) of doubles can still
    flip in the last ulp when Spark and an oracle engine sum in different
    orders and the mean lands on a rounding boundary), then divided and
    re-rounded with single deterministic IEEE ops both engines share.
    Centroids that attract no vectors drop out (classic Lloyd empty-cluster
    drop); the refinement is a pure function of the data, so it stays fully
    oracle-able."""
    assigned = _ivf_assign(base, centroids)
    means = (
        assigned.select("centroid_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("centroid_id", "pos")
        .agg(
            F.sum(
                F.floor(F.col("val").cast("double") * F.lit(1_000_000.0) + F.lit(0.5))
            ).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "centroid_id",
            "pos",
            (F.floor(F.col("s") / F.col("c") + F.lit(0.5)) / F.lit(1_000_000.0)).alias("a"),
        )
    )
    return (
        means.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "a"))).alias("pa"))
        .select("centroid_id", F.expr("transform(pa, x -> x.a)").alias("c_emb"))
    )


def _ivf_train(
    base: DataFrame,
    n_centroids: int,
    refine_iters: int,
    cache_registry: list | None = None,
) -> DataFrame:
    """Deterministic IVF centroid training over ``(vec_id, embedding)``:
    hash-ordered TakeOrderedAndProject seeds + ``refine_iters`` fixed-point
    Lloyd passes (see :func:`cosine_topk_ivf` for why each step is shaped
    and oracle-able the way it is).  Persists the k-row result when refined
    (two consumers downstream; registry-managed lifecycle)."""
    h = F.expr(
        "cast(conv(substr(md5(cast(vec_id as string)), 1, 13), 16, 10) as bigint)"
    )
    centroids = (
        base.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(n_centroids)
        # cast to array<double> so the seed-assignment stage has the exact
        # schema of the refined-assignment stage -> one codegen class serves
        # both passes (cache hit; float->double is exact, math unchanged)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("c_emb"),
        )
    )
    for _ in range(refine_iters):
        centroids = _lloyd_refine(base, centroids)
    if refine_iters:
        centroids = centroids.persist()
        if cache_registry is not None:
            cache_registry.append(centroids)
    return centroids


def _ivf_query(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid lists per query and rank
    exactly within them — the shared tail of the one-shot and
    index-backed IVF paths."""
    w_q = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        queries.select(F.col(q_id_col).alias("q_id"), F.col(q_emb_col).alias("q_emb"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("sim", _dot("q_emb", "c_emb"))
        .withColumn("rn", F.row_number().over(w_q))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "q_emb", "centroid_id")
    )
    scored = with_cosine(assigned.join(F.broadcast(probes), on="centroid_id")).withColumn(
        "cosine", F.round("cosine", 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine", "rank")
    )


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    refine_iters: int = 1,
    cache_registry: list | None = None,
) -> DataFrame:
    """IVF-flat: coarse centroids = deterministic hash sample refined by
    ``refine_iters`` Lloyd passes (a real deployment would run full k-means
    once offline); each vector is assigned to its nearest centroid; a query
    probes the nprobe nearest centroid lists and ranks exactly within them.

    Centroid selection never materializes ids on the driver (the round-1
    ``collect()`` here was an O(N)-driver-memory scale-killer): vectors are
    ordered by a portable md5-derived hash of their id (a deterministic
    pseudo-random shuffle) and the first n_centroids win — Spark executes
    ORDER BY + LIMIT as TakeOrderedAndProject (per-partition top-k heaps +
    driver merge of k rows, one scan, O(k) memory), always yields
    min(n_centroids, N) centroids (a hash-slice filter could yield zero on
    small inputs), and is a pure function of the data, so an independent SQL
    oracle replicates it — including the Lloyd refinement, whose rounded
    per-dimension means DuckDB recomputes bit-exactly."""
    # persist note (refined centroids feed TWO consumers — assignment and
    # query probing — and Spark does not exchange-reuse the expensive
    # assign->mean subtree across them): the k-row persist lives in
    # _ivf_train; identical inputs dedupe to ONE cache entry via plan
    # canonicalization, and long-lived sessions issuing many calls over
    # DISTINCT inputs should pass ``cache_registry`` and unpersist after
    # consuming the result.
    base = vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
    centroids = _ivf_train(base, n_centroids, refine_iters, cache_registry)
    # assign: nearest centroid per vector (broadcast centroids, map-side argmax)
    assigned = _ivf_assign(base, centroids)
    return _ivf_query(assigned, centroids, queries, k, nprobe, q_id_col, q_emb_col)


def build_ivf_index(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    refine_iters: int = 1,
    cache_registry: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train an IVF index over the corpus: returns ``(centroids,
    assignments)`` where ``centroids`` is the k-row ``(centroid_id, c_emb)``
    quantizer and ``assignments`` the corpus inverted lists ``(vec_id,
    embedding, centroid_id)`` — the PERSISTED STATE of incremental ANN
    (sixth delta family).

    Persist ``centroids`` as a small table and ``assignments`` via
    ``engine.kgquery.write_bucketed(..., bucket_col="centroid_id")``; new
    batches then extend the index through :func:`ivf_index_append` without
    ever touching history, and queries run over the combined lists through
    :func:`cosine_topk_ivf_from_index`.  Centroids are FROZEN after
    training (the FAISS IVF operational contract — appends quantize against
    the original coarse quantizer; periodic retraining is a full rebuild,
    the compaction analog), so append-time work is O(batch), not
    O(history)."""
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    centroids = _ivf_train(base, n_centroids, refine_iters, cache_registry)
    return centroids, _ivf_assign(base, centroids)


def ivf_index_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign a NEW batch against the frozen coarse quantizer: broadcast the
    k-row centroid table, map-side argmax — the only Exchange is the
    batch-sized assignment groupBy; history is never read.  Returns batch
    rows shaped exactly like :func:`build_ivf_index`'s assignments (append
    them to the persisted index).  Contract: batch ids are disjoint from
    history ids (the repo-wide delta-family convention)."""
    base = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    return _ivf_assign(base, centroids)


def cosine_topk_ivf_from_index(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """IVF query over a PERSISTED index (history assignments plus any
    appended batches): probe the ``nprobe`` nearest centroid lists per
    query, rank exactly within them.  The probe set is broadcast, so over
    an index stored bucketed by ``centroid_id`` the corpus side plans with
    zero Exchange — query cost scales with the probed lists, not the
    corpus."""
    return _ivf_query(assignments, centroids, queries, k, nprobe, q_id_col, q_emb_col)


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_clusters: int = 8,
    refine_iters: int = 1,
    threshold: float = 0.95,
    max_cluster: int = 10_000,
    cache_registry: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then prune near-identical vectors WITHIN each cluster
    by exact cosine — the semantic layer above the lexical dedup families
    (MinHash/SimHash catch re-posts; this catches paraphrases and
    translations that share an embedding neighborhood but no n-grams).

    Returns ONE row per input vector::

        (vec_id, centroid_id, n_cluster, capped, dup_of, is_dup)

    ``dup_of`` is the MINIMUM lower-id same-cluster neighbor with
    ``round(cosine, 6) >= threshold`` (NULL when none) and ``is_dup =
    dup_of IS NOT NULL`` — the deterministic min-id-representative variant
    of the paper's per-cluster pruning (chain-transitive grouping, when
    wanted, is one :func:`~literature_to_facts_spark.datapipe.dedup.
    cluster_connected_components` call over the (dup_of, vec_id) pairs).

    Scale shape (100 TB): centroid training/assignment is the IVF machinery
    (:func:`cosine_topk_ivf` — broadcast k-row centroids, map-side argmax
    partial, fixed-point Lloyd so the whole operator stays bit-portable and
    oracle-able); the intra-cluster self-join is the ONLY quadratic risk, so
    clusters above ``max_cluster`` members are excluded from pair generation
    and their rows flagged ``capped = true`` (the LSH families' max_bucket
    convention: at web scale you raise ``n_clusters`` until clusters fit,
    and the flag makes the skipped mass auditable instead of silent).  The
    assignment frame feeds three consumers (both self-join sides + the
    output spine), so it is persisted — pass ``cache_registry`` to release
    it."""
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    centroids = _ivf_train(base, n_clusters, refine_iters, cache_registry)
    assigned = _ivf_assign(base, centroids)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cluster")
    )
    spine = (
        assigned.join(F.broadcast(sizes), on="centroid_id")
        .withColumn("capped", F.col("n_cluster") > F.lit(int(max_cluster)))
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(spine)
    small = spine.where(~F.col("capped"))
    a = small.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("_id_a"),
        F.col("embedding").alias("_emb_a"),
    )
    b = small.select(
        F.col("centroid_id"),
        F.col("vec_id").alias("_id_b"),
        F.col("embedding").alias("_emb_b"),
    )
    dups = (
        a.join(b, on="centroid_id")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(
            F.round(
                _dot("_emb_a", "_emb_b") / (_norm("_emb_a") * _norm("_emb_b")), 6
            )
            >= F.lit(float(threshold))
        )
        .groupBy(F.col("_id_b").alias("vec_id"))
        .agg(F.min("_id_a").alias("dup_of"))
    )
    return (
        spine.join(dups, on="vec_id", how="left")
        .withColumn("is_dup", F.col("dup_of").isNotNull())
        .select(
            "vec_id", "centroid_id", "n_cluster", "capped", "dup_of", "is_dup"
        )
    )


def semantic_dedup_incremental(
    new_vectors: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 10_000,
    cache_registry: list | None = None,
    prune_partitions: bool = False,
) -> DataFrame:
    """Delta SemDeDup (the eighth probe-shaped incremental family): score a
    NEW batch against the persisted cluster state without retraining or
    re-reading untouched history.

    ``prune_partitions=True`` (EAGER) collects the batch's touched cluster
    ids driver-side — bounded by n_clusters, the same bounded-enumeration
    contract as ``update_cluster_state_partitioned`` — and pushes a static
    ``centroid_id IN (...)`` filter to the assignment scan.  Over a table
    written ``partitionBy("centroid_id")`` this is PARTITION PRUNING:
    untouched clusters' files are never opened, so a topically-concentrated
    batch (the daily-crawl case) reads O(touched) bytes, not O(history).
    The default (False, lazy) broadcast-semi-filters at the scan instead —
    zero Exchange but a full file pass (a bare broadcast semi does not
    trigger Spark's dynamic partition pruning; measured, not assumed).

    ``centroids``/``assignments`` are :func:`build_ivf_index`'s outputs over
    the history corpus (centroids FROZEN — the FAISS operational contract
    shared with :func:`ivf_index_append`; periodic retraining is a full
    :func:`semantic_dedup` rebuild, the compaction analog).  The batch is
    quantized map-side against the broadcast k-row quantizer; only history
    members of the batch's TOUCHED clusters are read (broadcast the
    batch-sized touched-cluster set -> left_semi at the assignment index's
    scan — over a ``write_bucketed(centroid_id)`` catalog table this plans
    with ZERO Exchange on the history side, the repo-wide probe shape).
    At web scale ``n_clusters`` grows ~sqrt(corpus), so a batch touches at
    most batch-size clusters and probe cost is O(batch + touched members),
    never O(history).

    Returns one row per batch vector, shaped like :func:`semantic_dedup`:
    ``(vec_id, centroid_id, n_cluster, capped, dup_of, is_dup)`` where
    ``n_cluster`` counts history+batch members of the vector's cluster and
    ``dup_of`` is the minimum lower-id neighbor (history or batch) at
    ``round(cosine,6) >= threshold``.  Equals the full frozen-quantizer
    semantic dedup restricted to the batch ids (the delta-family oracle
    contract) — ids may interleave with history; the min-id rule needs no
    disjointness.

    History-Exchange-free by construction (the round-6 rework — the first
    version unioned history with the batch before a sizes groupBy, which
    re-shuffled every touched member): cluster sizes are the SUM of a
    per-side count — the history count groups the semi-filtered BUCKETED
    scan directly (zero Exchange, and deliberately NOT persisted: a
    persist between the bucketed scan and the groupBy reintroduces the
    shuffle — the repo-wide invariant), the batch count is batch-sized —
    and the pair join BROADCASTS the batch side, so touched history
    members stream map-side through both the size join and the cosine
    verify.  The only Exchanges carry batch- or pair-set-sized data.  The
    batch assignment frame feeds four consumers and is persisted (pass
    ``cache_registry`` to release it)."""
    batch = _ivf_assign(
        new_vectors.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
        ),
        centroids,
    ).persist()
    if cache_registry is not None:
        cache_registry.append(batch)
    if prune_partitions:
        ids = [
            r[0] for r in batch.select("centroid_id").distinct().collect()
        ]
        hist = assignments.select("vec_id", "embedding", "centroid_id").where(
            F.col("centroid_id").isin(ids)
            if ids
            else F.lit(False)
        )
    else:
        touched = batch.select("centroid_id").distinct()
        hist = assignments.select("vec_id", "embedding", "centroid_id").join(
            F.broadcast(touched), on="centroid_id", how="left_semi"
        )
    # sizes = per-side counts summed: the history groupBy sits directly on
    # the bucketed semi-filtered scan (zero Exchange); both count frames
    # are at most touched-cluster-sized
    hist_sizes = hist.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_h")
    )
    batch_sizes = batch.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_b")
    )
    sizes = (
        hist_sizes.join(batch_sizes, on="centroid_id", how="full")
        .select(
            "centroid_id",
            (
                F.coalesce(F.col("_n_h"), F.lit(0))
                + F.coalesce(F.col("_n_b"), F.lit(0))
            ).alias("n_cluster"),
        )
    )
    capped = (F.col("n_cluster") > F.lit(int(max_cluster))).alias("capped")
    # batch spine: batch-sized, carries the output rows — history is never
    # consumed twice (the old spine persisted touched history to feed both
    # the pair join and the output; the output only ever needed batch rows)
    spine_new = batch.join(F.broadcast(sizes), on="centroid_id").select(
        "vec_id", "centroid_id", "embedding", "n_cluster", capped
    )
    members = hist.unionByName(batch)
    a = (
        members.join(F.broadcast(sizes), on="centroid_id")
        .where(F.col("n_cluster") <= F.lit(int(max_cluster)))
        .select(
            "centroid_id",
            F.col("vec_id").alias("_id_a"),
            F.col("embedding").alias("_emb_a"),
        )
    )
    b = spine_new.where(~F.col("capped")).select(
        "centroid_id",
        F.col("vec_id").alias("_id_b"),
        F.col("embedding").alias("_emb_b"),
    )
    dups = (
        a.join(F.broadcast(b), on="centroid_id")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(
            F.round(
                _dot("_emb_a", "_emb_b") / (_norm("_emb_a") * _norm("_emb_b")), 6
            )
            >= F.lit(float(threshold))
        )
        .groupBy(F.col("_id_b").alias("vec_id"))
        .agg(F.min("_id_a").alias("dup_of"))
    )
    return (
        spine_new.join(dups, on="vec_id", how="left")
        .withColumn("is_dup", F.col("dup_of").isNotNull())
        .select(
            "vec_id", "centroid_id", "n_cluster", "capped", "dup_of", "is_dup"
        )
    )
