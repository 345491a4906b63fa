"""Deterministic sampling for training-data mixture construction.

Corpus mixtures ("3% of lang=de, 40% of lang=en, cap code at 2M docs") need
samples that are (a) reproducible across runs, engines and partitionings —
``df.sample()`` is seed-stable only for a fixed partitioning — and (b) cheap
at 10^12 rows.  Both operators rank rows by the repo's portable md5-derived
hash of the id (independent engines recompute the identical sample, so both
are DuckDB-oracled end-to-end):

* :func:`sample_fraction_by_group` — Bernoulli-style per-group fractions via
  a pure hash FILTER: zero shuffle, fully pushdown-friendly, the 100 TB path.
  Group sizes are approximate (binomial around fraction*n).
* :func:`sample_topn_per_group` — EXACT n per group via a per-group
  hash-order window rank: one shuffle on the group key (hot groups are fine —
  rank is a streaming window, no buffering beyond the frame row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 52-bit portable hash (see datapipe.dedup): DuckDB equivalent
# CAST('0x' || substr(md5(x), 1, 13) AS BIGINT)
_HASH_MOD = 1_000_000
_HASH_SPACE = 1 << 52  # the hash is 13 hex chars: values in [0, 2^52)


def _h52(col_expr: str) -> F.Column:
    return F.expr(
        f"cast(conv(substr(md5(cast({col_expr} as string)), 1, 13), 16, 10) as bigint)"
    )


def sample_fraction_by_group(
    docs: DataFrame,
    fractions: dict,
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    max_case_groups: int = 32,
) -> DataFrame:
    """Keep each row iff hash(id) mod 1e6 < round(fraction(group) * 1e6).

    Pure narrow filter — no shuffle, no window, pushes past column pruning;
    sampling 10^12 rows costs one scan.  ``fractions`` maps group value ->
    keep fraction in [0, 1]; unlisted groups get ``default_fraction``.
    Deterministic per id: re-runs and other engines keep exactly the same
    rows, and samples at different fractions NEST (a 1% sample is a subset
    of the 10% sample — useful for scaling-law subsets).

    Cross-version note: round-4 changed the threshold from ``int()``
    truncation to ``round()`` — for fractions whose ``frac * 1e6`` is not
    exact in binary (e.g. 0.29 -> 289999.999...), samples persisted by
    round-3-or-earlier releases sit exactly one threshold bucket below
    re-runs and are NOT row-identical at the boundary.  In-repo parity is
    unaffected (the oracle moved in lockstep); treat persisted scaling-law
    subsets drawn before the change as non-comparable.

    Small recipes (<= ``max_case_groups`` groups — language mixtures) compile
    to a CASE chain inside the scan filter.  Larger recipes (a 10k-domain
    mixture) would blow up the expression tree, so they switch to a
    BROADCAST-joined fractions table instead: still no shuffle on the big
    side, one hash-probe per row, same rows kept (both paths round the
    threshold identically).
    """
    bucket = F.pmod(_h52(id_col), F.lit(_HASH_MOD))
    default_thresh = round(default_fraction * _HASH_MOD)
    if len(fractions) <= max_case_groups:
        thresh = F.lit(default_thresh)
        for val, frac in sorted(fractions.items()):
            thresh = F.when(
                F.col(group_col) == val, F.lit(round(frac * _HASH_MOD))
            ).otherwise(thresh)
        return docs.where(bucket < thresh)
    # the fractions table's group column takes its TYPE from the input frame
    # (a hard-coded string type would break bigint group keys — or worse,
    # silently join through an implicit cast diverging from the CASE path)
    from pyspark.sql.types import LongType, StructField, StructType

    group_type = docs.schema[group_col].dataType
    ft = docs.sparkSession.createDataFrame(
        [(val, round(frac * _HASH_MOD)) for val, frac in sorted(fractions.items())],
        schema=StructType(
            [
                StructField(group_col, group_type),
                StructField("_frac_thresh", LongType()),
            ]
        ),
    )
    return (
        docs.join(F.broadcast(ft), on=group_col, how="left")
        .where(bucket < F.coalesce(F.col("_frac_thresh"), F.lit(default_thresh)))
        .drop("_frac_thresh")
    )


def sample_topn_per_group(
    docs: DataFrame,
    n: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    n_salts: int = 64,
) -> DataFrame:
    """EXACTLY min(n, group size) rows per group: rank rows within each group
    by (hash(id), id) and keep rank <= n — a deterministic uniform draw with
    a hard cap (mixture recipes with absolute caps, eval holdouts).

    Two-phase salted ranking: a single ``Window.partitionBy(group_col)``
    would rank each group on ONE reducer — with a handful of language groups
    over 10^12 rows that is a single-threaded scan of the biggest group.
    Phase 1 ranks within (group, salt = hash(id) % n_salts) in parallel and
    keeps n per salt; phase 2 ranks the <= n_salts * n survivors per group.
    Identical result: every global top-n member is inside its salt's top-n
    (ranks only shrink when restricted to a subset).  The salt derives from
    the same hash as the order key, so no extra hashing pass.
    """
    h = _h52(id_col)
    salted = docs.withColumn("_h", h).withColumn(
        "_salt", F.pmod(F.col("_h"), F.lit(n_salts))
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    survivors = (
        salted.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= n)
        .drop("_rk", "_salt")
    )
    w2 = Window.partitionBy(group_col).orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        survivors.withColumn("_rk", F.row_number().over(w2))
        .where(F.col("_rk") <= n)
        .drop("_rk", "_h")
    )


def sample_to_token_budget(
    docs: DataFrame,
    budgets: dict,
    group_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
    default_budget: int = 0,
    n_hash_buckets: int = 4096,
) -> DataFrame:
    """Mixture building by TOKEN BUDGET instead of fraction: per group, keep
    the deterministic hash-ordered prefix of documents whose cumulative
    ``weight_col`` stays under the group's budget (the crossing document is
    kept, so the budget is always reached when the group can supply it).
    ``budgets`` maps group value -> token budget; unlisted groups get
    ``default_budget`` (0 = dropped).  This is the recipe form a training
    mixture is actually specified in ("30B tokens of en web, 5B of de"),
    and like the fraction sampler it is deterministic per id: re-runs and
    other engines keep exactly the same rows, and a smaller budget's sample
    is a strict prefix (subset) of a larger one's.

    Scale shape — an exact global prefix WITHOUT a per-group single-reducer
    window over the corpus:

    1. bucket every row by the HIGH bits of the id hash (``n_hash_buckets``
       ranges, so bucket order == hash order) and aggregate per-(group,
       bucket) weight sums — one small shuffle;
    2. a window over that TINY aggregate (groups x buckets rows) computes
       each bucket's starting offset and classifies it: fully inside the
       budget, astride the boundary, or fully outside;
    3. rows join the broadcast bucket decisions: full buckets pass with no
       further work, dropped buckets vanish at the scan, and ONLY the
       single boundary bucket per group (~1/n_hash_buckets of the data)
       pays a per-row cumulative window, seeded with the bucket offset.

    The result is row-for-row identical to the naive
    ``SUM() OVER (PARTITION BY group ORDER BY hash, id)`` prefix (the
    DuckDB oracle computes exactly that) at a parallel cost.  Weights must
    be non-negative; NULL weights are treated as 0.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    span = _HASH_SPACE // n_hash_buckets
    group_type = docs.schema[group_col].dataType
    spark = docs.sparkSession
    bt = spark.createDataFrame(
        [(val, int(b)) for val, b in sorted(budgets.items())],
        schema=StructType(
            [StructField(group_col, group_type), StructField("_budget", LongType())]
        ),
    )
    base = (
        docs.withColumn("_h", _h52(id_col))
        .withColumn("_w", F.coalesce(F.col(weight_col).cast("long"), F.lit(0)))
        # integer division: float division of 52-bit values can round UP
        # across a bucket boundary before the cast truncates
        .withColumn("_hb", F.expr(f"_h div {span}"))
    )
    sums = base.groupBy(group_col, "_hb").agg(F.sum("_w").alias("_bw"))
    w_b = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_hb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    decisions = (
        sums.withColumn("_off", F.coalesce(F.sum("_bw").over(w_b), F.lit(0)))
        .join(F.broadcast(bt), on=group_col, how="left")
        .withColumn("_b", F.coalesce(F.col("_budget"), F.lit(int(default_budget))))
        .withColumn(
            "_cls",
            # strict <: a bucket whose cumulative sum lands EXACTLY on the
            # budget may end with zero-weight rows (empty/NULL text) whose
            # cum-before equals the budget — the naive prefix drops those,
            # so the exact-boundary bucket must route through the per-row
            # window, not pass wholesale
            F.when(F.col("_off") + F.col("_bw") < F.col("_b"), F.lit("full"))
            .when(F.col("_off") < F.col("_b"), F.lit("boundary"))
            .otherwise(F.lit("drop")),
        )
        .where(F.col("_cls") != "drop")
        .select(group_col, "_hb", "_off", "_b", "_cls")
    )
    # eqNullSafe on the group key: a NULL group is a legitimate group (it
    # flowed through the aggregate, the offset window and the default-budget
    # coalesce above) — a bare equi-join would silently drop every
    # NULL-group row no matter its budget, diverging from the naive
    # window-prefix contract
    dec = F.broadcast(
        decisions.withColumnRenamed(group_col, "_dec_g").withColumnRenamed(
            "_hb", "_dec_hb"
        )
    )
    joined = base.join(
        dec,
        base[group_col].eqNullSafe(F.col("_dec_g"))
        & (base["_hb"] == F.col("_dec_hb")),
        "inner",
    ).drop("_dec_g", "_dec_hb")
    full = joined.where(F.col("_cls") == "full")
    w_doc = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        joined.where(F.col("_cls") == "boundary")
        .withColumn("_cb", F.col("_off") + F.coalesce(F.sum("_w").over(w_doc), F.lit(0)))
        .where(F.col("_cb") < F.col("_b"))
        .drop("_cb")
    )
    return full.unionByName(boundary).select(*docs.columns)


def mixture_weights(
    docs: DataFrame,
    token_budget: int,
    group_col: str = "lang",
    weight_col: str = "n_chars",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual-training
    recipe: sample group g with probability proportional to p_g^alpha, so
    low-resource groups are up-sampled relative to their natural share).

    Returns one row per group: ``(group_col, n_docs, n_tokens, weight_micro,
    sample_fraction)`` where ``sample_fraction`` is the per-group keep
    fraction that makes the EXPECTED sampled token mass proportional to
    ``n_tokens ** alpha`` under a total budget of ``token_budget`` tokens
    (capped at 1.0 — a group cannot supply more than it has; the cap means
    the realized total can undershoot the budget when a small group's
    target exceeds its size, which is the standard behaviour).

    Bit-portability (the reason ``alpha`` is restricted): general ``p**alpha``
    goes through libm ``pow``, which differs in the last ulp across engines
    and would break the DuckDB oracle.  The three supported temperatures
    use only IEEE-exact operations — ``sqrt`` (correctly rounded by
    IEEE-754), multiplication and division — with weights snapped to exact
    integer micro-units, so every engine computes the identical fractions:

    * ``alpha=0.5`` — ``weight_micro = FLOOR(sqrt(n_tokens) * 1e6 + 0.5)``
    * ``alpha=1.0`` — natural share (``weight_micro = n_tokens``; the
      fraction uses only the ratio w/sum(w), so no 1e6 scale — which would
      overflow BIGINT under ANSI mode past ~9e12 total tokens)
    * ``alpha=0.0`` — uniform over groups (``weight_micro = 1``)

    Rows whose group value is NULL aggregate into a NULL-group weight row
    like any other group, but :func:`sample_by_temperature`'s join can never
    match them (NULL != NULL in SQL), so they are never sampled — identical
    semantics in the DuckDB oracle.

    Scale: one partial-aggregated shuffle carrying one row per (group,
    map-partition), then a window over the tiny per-group frame for the
    weight-sum denominator.  The corpus itself is touched once.
    """
    # The fraction formula uses only the RATIO w_g / sum(w), so each alpha
    # picks whatever integer scale keeps it exact AND overflow-safe under
    # ANSI mode: micro-units capture sqrt's fractional part; alpha=1/0 are
    # already integers, and scaling alpha=1 by 1e6 would overflow BIGINT at
    # corpus sizes past ~9e12 tokens (1e14-token groups are real at 100 TB).
    if alpha == 0.5:
        w_expr = "cast(floor(sqrt(cast(_grp_tokens as double)) * 1000000 + 0.5) as bigint)"
    elif alpha == 1.0:
        w_expr = "_grp_tokens"
    elif alpha == 0.0:
        w_expr = "cast(1 as bigint)"
    else:
        raise ValueError(
            "alpha must be one of 0.5, 1.0, 0.0 (IEEE-exact temperatures; "
            f"general pow() is not bit-portable across engines), got {alpha}"
        )
    grouped = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.col(weight_col).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("_grp_tokens"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        grouped.selectExpr(group_col, "n_docs", "_grp_tokens", f"{w_expr} AS weight_micro")
        .withColumn("_w_sum", F.sum("weight_micro").over(w_all))
        .selectExpr(
            group_col,
            "n_docs",
            "_grp_tokens AS n_tokens",
            "weight_micro",
            # target_g = budget * w_g / sum(w); fraction = min(1, target/n_tokens).
            # Integer inputs, one mult + one div (each exactly rounded), then a
            # 6dp round: identical in every IEEE engine evaluating this tree.
            "CASE WHEN _grp_tokens = 0 THEN cast(0.0 as double) ELSE least("
            f"  cast(1.0 as double), round((cast({int(token_budget)} as double)"
            "   * cast(weight_micro as double))"
            "   / (cast(_w_sum as double) * cast(_grp_tokens as double)), 6)"
            ") END AS sample_fraction",
        )
    )


def sample_by_temperature(
    docs: DataFrame,
    token_budget: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    alpha: float = 0.5,
) -> DataFrame:
    """Apply :func:`mixture_weights` as a deterministic hash sample: keep a
    row iff ``hash(id) mod 1e6 < round(sample_fraction * 1e6)`` — the same
    keep rule (and the same nesting property) as
    :func:`sample_fraction_by_group`, with the fractions COMPUTED from the
    corpus instead of hand-specified.

    Fully declarative: the per-group fractions stay a (tiny) DataFrame that
    broadcast-joins back onto the corpus — no driver collect, so the whole
    recipe is one lazy plan.  Scale cost: one aggregate over the corpus for
    the weights, one broadcast hash-probe per row for the filter; the corpus
    is never shuffled.
    """
    weights = mixture_weights(
        docs,
        token_budget=token_budget,
        group_col=group_col,
        weight_col=weight_col,
        alpha=alpha,
    ).selectExpr(
        group_col,
        "cast(floor(sample_fraction * 1000000 + 0.5) as bigint) AS _frac_micro",
    )
    bucket = F.pmod(_h52(id_col), F.lit(_HASH_MOD))
    return (
        docs.join(F.broadcast(weights), on=group_col, how="inner")
        .where(bucket < F.col("_frac_micro"))
        .drop("_frac_micro")
        .select(*docs.columns)
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    cache_registry: list | None = None,
) -> DataFrame:
    """Assign documents to fixed-length training sequences (the GPT-style
    pretraining layout: concatenate documents in a deterministic order and
    split the token stream every ``seq_len`` tokens, documents crossing
    boundaries).  Per non-NULL-text document:

    ``(id_col, n_toks, global_start, seq_id, seq_end, seq_offset)`` where
    ``global_start`` is the document's exclusive prefix-sum of whitespace
    token counts in the canonical order (portable md5 hash of the id, then
    id — a deterministic corpus shuffle, so adjacent sequences mix
    sources), ``seq_id = global_start div seq_len``, ``seq_end`` the
    sequence containing the document's last token (== seq_id when the doc
    fits in one sequence; empty docs take seq_end = seq_id), and
    ``seq_offset = global_start mod seq_len``.

    Scale shape (the distributed global-cumsum pattern): a single global
    window (``ORDER BY`` with no partition) would serialize the corpus
    through one task.  Instead the hash order is split into ``n_buckets``
    contiguous ranges (top bits of the 52-bit hash — range, not mod, so
    bucket order IS hash order), the cumsum runs per-bucket in parallel
    (one Exchange on the bucket key), and each bucket's base offset comes
    from a window over the n_buckets-row per-bucket totals — tiny by
    construction — broadcast-joined back.  The narrow (id, two longs)
    token-count frame is PERSISTED: it feeds two consumers (the cumsum
    window and the per-bucket totals), and without the persist each one
    re-reads the corpus and re-tokenizes with the interpreted HOF — the
    dominant cost paid twice (Spark does not exchange-reuse across the
    consumers).  Pass ``cache_registry`` to unpersist in long-lived
    sessions.  Every output column is integer arithmetic on exact token
    counts: bit-portable, fully oracle-able.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    nb = int(n_buckets)
    if nb < 1 or nb > (1 << 20):
        raise ValueError(f"n_buckets must be in [1, 2^20], got {n_buckets}")
    toks = f"size(filter(split({text_col}, ' '), t -> t != ''))"
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.expr(toks).cast("bigint").alias("n_toks"),
        _h52(id_col).alias("_h"),
    )
    # contiguous hash ranges: bucket = top bits -> (bucket asc, _h asc, _id
    # asc) is exactly (_h asc, _id asc) globally.  Shift, not divide: 2^52
    # / nb truncation with a non-power-of-two nb would still be ORDERED, but
    # the shift keeps the expression ANSI-overflow-free and obviously so.
    bucketed = base.withColumn(
        "_b", F.shiftrightunsigned(F.col("_h"), 52 - nb.bit_length() + 1)
    ).persist()
    if cache_registry is not None:
        cache_registry.append(bucketed)
    w_in = (
        Window.partitionBy("_b")
        .orderBy(F.asc("_h"), F.asc("_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = bucketed.withColumn("_cum", F.sum("n_toks").over(w_in))
    totals = bucketed.groupBy("_b").agg(F.sum("n_toks").alias("_tot"))
    w_b = (
        Window.orderBy(F.asc("_b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "_base", F.sum("_tot").over(w_b) - F.col("_tot")
    ).select("_b", "_base")
    sl = int(seq_len)
    return (
        within.join(F.broadcast(offsets), on="_b")
        .withColumn("global_start", F.col("_base") + F.col("_cum") - F.col("n_toks"))
        # integer `div`, not floor(x / y): double division is only exact up
        # to 2^53 and the prefix sums here are corpus-total-token-sized
        .withColumn("seq_id", F.expr(f"global_start div {sl}"))
        .withColumn(
            "seq_end",
            F.expr(f"(global_start + greatest(n_toks - 1, 0L)) div {sl}"),
        )
        .withColumn("seq_offset", F.col("global_start") % F.lit(sl))
        .select(
            F.col("_id").alias(id_col),
            "n_toks",
            "global_start",
            "seq_id",
            "seq_end",
            "seq_offset",
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 2048,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into sliding token windows — the long-document
    stage of a training-data pipeline (context-length-bounded chunks with
    ``overlap`` tokens of continuity between adjacent chunks; the
    alternative layout to :func:`pack_sequences`' cross-document packing).

    Tokens are non-empty whitespace splits (same tokenizer as
    ``pack_sequences``).  Per document with ``n > 0`` tokens and stride
    ``step = chunk_size - overlap``, emits ``1 + ceil(max(n - chunk_size,
    0) / step)`` rows: ``(id_col, chunk_id, chunk_start, n_chunk_tokens,
    chunk_text)`` with ``chunk_start = chunk_id * step`` (token offset) and
    the last chunk possibly shorter.  NULL-text / zero-token docs emit no
    rows.  Pure integer arithmetic — bit-portable, fully oracle-able.

    Scale shape: the token array is projected ONCE (HOF invariant), the
    chunk count is exact integer math on its size, and the explode +
    slice + join run in the same codegen stage as the scan — zero
    shuffle.  Chunk rows carry only the sliced tokens (the full array and
    raw text are dropped before emit), so output bytes ~ input bytes *
    (1 + overlap/step), not * n_chunks.
    """
    cs, ov = int(chunk_size), int(overlap)
    if cs < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if not 0 <= ov < cs:
        raise ValueError(
            f"overlap must be in [0, chunk_size), got {overlap} vs {chunk_size}"
        )
    step = cs - ov
    staged = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.expr(f"filter(split({text_col}, ' '), t -> t != '')").alias(
                "_toks"
            ),
        )
        .withColumn("_n", F.size("_toks"))
        .where(F.col("_n") > 0)
        .withColumn(
            "chunk_id",
            F.explode(
                F.expr(
                    f"sequence(0, (greatest(_n - {cs}, 0) + {step} - 1)"
                    f" div {step})"
                )
            ),
        )
        .withColumn(
            "_chunk",
            F.expr(f"slice(_toks, chunk_id * {step} + 1, {cs})"),
        )
    )
    return staged.select(
        F.col("_id").alias(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        (F.col("chunk_id") * F.lit(step)).cast("bigint").alias("chunk_start"),
        F.size("_chunk").cast("bigint").alias("n_chunk_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def shuffle_deterministic(
    docs: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_shards: int = 64,
) -> DataFrame:
    """Seeded global training shuffle: a reproducible pseudo-random
    permutation of the corpus, materialized as ``(shard, pos)`` — the
    layout every pretraining data loader consumes (read shards in any
    order / in parallel; within a shard, rows come pre-shuffled).

    Each row's permutation key is the portable md5 hash of
    ``seed || ':' || id`` — changing ``seed`` yields an independent
    permutation, and the SAME (seed, corpus) pair yields the SAME
    permutation on any engine, partitioning or cluster size (the
    reproducibility ``df.sample()``/``rand()`` cannot give).  ``shard`` is
    the key's value mod ``n_shards`` (shards are statistically equal-sized,
    not exact); ``pos`` is the row's rank within its shard by (key, id).
    Reading shards in ANY concatenation order is a valid uniform shuffle —
    keys are iid uniform, so no global cross-shard sort is needed.

    Scale shape (100 TB): ONE hash Exchange on ``shard`` plus a per-shard
    sort window — exactly the physical work a sharded training export must
    do anyway (an export that writes ``repartition(n, shard)`` +
    sortWithinPartitions keeps the window and the file layout in the same
    shuffle).  Size
    ``n_shards`` >= cluster parallelism so every executor sorts one
    shard-sized run.  Rows with NULL id are excluded (no stable key).
    """
    if not n_shards or n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    for c in ("_shuffle_key", "shard", "pos"):
        if c in docs.columns:
            raise ValueError(
                f"input column {c!r} collides with shuffle_deterministic's "
                "outputs; rename it first"
            )
    key = _h52(f"concat('{int(seed)}', ':', cast({id_col} as string))")
    w = Window.partitionBy("shard").orderBy(
        F.col("_shuffle_key").asc(), F.col(id_col).asc()
    )
    return (
        docs.where(F.col(id_col).isNotNull())
        .withColumn("_shuffle_key", key)
        .withColumn(
            "shard", F.pmod(F.col("_shuffle_key"), F.lit(int(n_shards))).cast("int")
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_shuffle_key")
    )
