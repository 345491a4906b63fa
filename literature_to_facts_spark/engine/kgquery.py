"""Graph-side query operators over materialized (subj, pred, obj) triples.

The reference stores its facts in an rdflib graph and answers questions by
SPARQL over it (``/root/reference/facts/learn.py:95-157`` — the contemplate
joins are hand-written two-triple-pattern queries).  At 10^12-document scale
the triple store is a partitioned table, and the classic store-side query
operators become DataFrame plans:

* :func:`predicate_stats` — per-predicate cardinalities (triples, distinct
  subjects, distinct objects), the statistics an RDF store keeps for join
  ordering.
* :func:`characteristic_sets` — the Neumann & Moerkotte (ICDE 2011)
  cardinality-estimation structure: histogram of the distinct predicate-SET
  each subject carries.  Doubles as a schema summary of a melted KG.
* :func:`entity_cooccurrence` — co-mention edge building: entity pairs that
  appear in the same document, the standard first step from mention
  detection to a KG edge list.
* :func:`two_hop` — two-triple-pattern path join (the SPARQL
  ``?a p1 ?b . ?b p2 ?c`` shape the reference's counterpart join is an
  instance of), aggregated to distinct endpoints with path counts.
* :func:`cooccurrence_pmi` — PMI edge weighting over the co-mention
  counts (broadcast document-frequency lookups, zero extra shuffles).
* :func:`build_predicate_pair_index` / :func:`predicate_stats_incremental`
  — delta maintenance of the predicate statistics (probe-shaped
  incremental; exact distinct counts merged via existence probes).
* :func:`star_join_ordered` — N-pattern same-subject star join with
  statistics-driven join ordering and per-side broadcast decisions (the
  N-way generalization of :func:`pattern_join_ordered`).
* :func:`triple_provenance` — per-fact support aggregation (distinct
  asserting documents, raw assertion count, first/last-seen), the "graph
  set semantics with provenance" face of the reference's
  ``dropDuplicates`` union (``/root/reference/facts/core.py:197-226``
  discards multiplicity; a KG store keeps it as edge evidence).
* :func:`path_closure` — bounded-depth transitive closure (SPARQL
  property path ``?a pred{1,k} ?b``) with min-hop depth, computed as a
  frontier-pruned BFS (each round joins only the NEW pairs, never the
  accumulated closure).
* :func:`write_bucketed` — the catalog-table layout the probe-shaped
  incrementals read: a history index bucketed on its probe key plans the
  probe with zero Exchange.

All outputs are deterministic and integer/string-typed so a DuckDB oracle
recomputes them bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: list | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) catalog table.

    ``sort_cols`` additionally sorts within each bucket file: a join between
    two tables bucketed AND sorted on the key needs neither Exchange nor
    Sort — the SortMergeJoin streams the pre-sorted buckets directly.
    ``path`` makes it an external table (data at ``path``, metadata in the
    catalog); omit for a managed table under the warehouse dir.

    Pick ``n_buckets`` so one bucket is a few hundred MB at target scale,
    and use the SAME count for every table sharing the join key — mismatched
    counts fall back to shuffling one side.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(sort_cols[0], *sort_cols[1:])
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def predicate_stats(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Per-predicate cardinality statistics: ``(pred, n_triples, n_subj,
    n_obj)`` with exact distinct counts.

    Scale shape: one ``pred``-keyed aggregation.  The two exact distincts
    make Spark plan an Expand (3x the input rows map-side) feeding a
    partial aggregate, so the shuffle carries only per-(pred, grouping-id)
    partials; the final state is predicate-sized (KGs have 10s-1000s of
    predicates, never 10^12).  Hot predicates (every doc has ``lang``) are
    absorbed by the map-side partials, not a hot reducer.
    """
    return (
        triples.groupBy(F.col(pred_col).alias("pred"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triples"),
            F.countDistinct(subj_col).cast("bigint").alias("n_subj"),
            F.countDistinct(obj_col).cast("bigint").alias("n_obj"),
        )
    )


def characteristic_sets(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
) -> DataFrame:
    """Characteristic-set histogram: for each subject, its sorted distinct
    predicate set (rendered as a comma-joined string — the portable array
    convention); then one row per distinct set with the number of subjects
    carrying it: ``(pred_set, n_subj, n_preds)``.

    This is the RDF-store cardinality-estimation structure of Neumann &
    Moerkotte (ICDE 2011, "Characteristic sets: Accurate cardinality
    estimation for RDF queries") and a one-glance schema summary of a
    melted KG ("97% of pages carry {lang, n_chars, source}; 3% also carry
    mentions_*").

    Scale shape: two shuffles, both partial-agg'd — a ``subj``-keyed
    ``collect_set`` (per-subject predicate sets are small and bounded by
    the schema, so state per key is O(|preds|)), then a set-keyed count
    whose key space is the number of DISTINCT schema shapes (small by
    construction — that is the point of the statistic).
    """
    per_subj = (
        triples.groupBy(F.col(subj_col).alias("subj"))
        .agg(F.sort_array(F.collect_set(pred_col)).alias("_preds"))
        .select(
            F.concat_ws(",", F.col("_preds")).alias("pred_set"),
            F.size("_preds").alias("_n_preds"),
        )
    )
    return (
        per_subj.groupBy("pred_set")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subj"),
            F.first("_n_preds").cast("bigint").alias("n_preds"),
        )
    )


_PAIR_SEP = "\x1f"  # unit separator: cannot appear in preds/ids


def build_predicate_pair_index(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Per-batch partial counts of distinct (pred, role, value) pairs —
    the PERSISTED STATE of incremental predicate statistics:
    ``(pair_key, pred, kind, n)`` with ``kind`` ∈ {'s','o'} and ``n`` the
    batch's triple count for that pair.

    APPEND-ONLY (the delta-family convention): each batch appends its own
    partials, so a pair seen by k batches has k rows; probes only test
    EXISTENCE (a value already counted toward ``n_subj``/``n_obj`` must not
    be counted again); a compaction may merge the partials by summing
    ``n``.  Write it with ``write_bucketed(..., bucket_col='pair_key')`` so
    the probe side plans with zero Exchange (plan-pinned).  NULL values are
    excluded — mirroring ``countDistinct``.
    """
    s = triples.where(F.col(subj_col).isNotNull()).select(
        F.col(pred_col).alias("pred"),
        F.lit("s").alias("kind"),
        F.col(subj_col).cast("string").alias("_val"),
    )
    o = triples.where(F.col(obj_col).isNotNull()).select(
        F.col(pred_col).alias("pred"),
        F.lit("o").alias("kind"),
        F.col(obj_col).cast("string").alias("_val"),
    )
    return (
        s.unionByName(o)
        .groupBy(
            F.concat_ws(_PAIR_SEP, "kind", "pred", "_val").alias("pair_key"),
            "pred",
            "kind",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def predicate_stats_incremental(
    batch_triples: DataFrame,
    old_index: DataFrame | None,
    old_stats: DataFrame | None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    cache_registry: list | None = None,
) -> DataFrame:
    """Maintain :func:`predicate_stats` under a new batch of triples WITHOUT
    rescanning the historical triple store: returns the updated
    ``(pred, n_triples, n_subj, n_obj)`` table, bit-equal to
    ``predicate_stats(old ∪ batch)``.

    The hard part is the two exact distinct counts — counts cannot be merged
    from counts.  The persisted :func:`build_predicate_pair_index` makes the
    merge exact: a batch value increments ``n_subj``/``n_obj`` iff its
    (pred, role, value) pair has never been seen, which is one EXISTENCE
    probe against the index.  ``n_triples`` is plain count addition.

    PROBE-shaped: the batch's distinct pair keys are batch-bounded, so
    they BROADCAST and semi-join-filter the history index at its scan —
    only index rows for pairs the batch actually contains go anywhere
    (zero Exchange over a ``write_bucketed('pair_key')`` catalog table,
    plan-pinned).  The matched key set is itself ⊆ the batch
    keys, so it broadcasts back into a batch-side anti join (a broadcast
    side can never be outer-preserved — the anti's streamed side is the
    batch partials).  Everything downstream of the probe is pred-sized.

    ``old_index=None``/``old_stats=None`` mean no history: the first batch
    degenerates to ``predicate_stats(batch)``.  The caller appends
    ``build_predicate_pair_index(batch)`` to the index after each batch
    (the same loop contract as :func:`characteristic_sets_incremental`);
    purged history is count-only state — conservative.
    """
    spark = batch_triples.sparkSession
    if old_index is None:
        old_index = spark.createDataFrame(
            [], "pair_key string, pred string, kind string, n bigint"
        )
    if old_stats is None:
        old_stats = spark.createDataFrame(
            [], "pred string, n_triples bigint, n_subj bigint, n_obj bigint"
        )
    batch_pairs = build_predicate_pair_index(
        batch_triples, subj_col=subj_col, pred_col=pred_col, obj_col=obj_col
    ).persist()
    if cache_registry is not None:
        cache_registry.append(batch_pairs)
    # existence probe: which batch pairs already live in the history index
    seen = (
        old_index.join(
            F.broadcast(batch_pairs.select("pair_key")),
            on="pair_key",
            how="left_semi",
        )
        .select("pair_key")
        .distinct()
    )
    fresh = batch_pairs.join(F.broadcast(seen), on="pair_key", how="left_anti")
    # pred-sized deltas: new distinct values per role + raw triple counts
    d_distinct = (
        fresh.groupBy("pred")
        .agg(
            F.sum(F.when(F.col("kind") == "s", 1).otherwise(0))
            .cast("bigint")
            .alias("d_subj"),
            F.sum(F.when(F.col("kind") == "o", 1).otherwise(0))
            .cast("bigint")
            .alias("d_obj"),
        )
    )
    d_triples = (
        batch_triples.groupBy(F.col(pred_col).alias("pred"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_triples"))
    )
    deltas = d_triples.join(d_distinct, on="pred", how="left")
    merged = old_stats.join(deltas, on="pred", how="full_outer")
    zero = F.lit(0).cast("bigint")
    return merged.select(
        "pred",
        (F.coalesce("n_triples", zero) + F.coalesce("d_triples", zero)).alias(
            "n_triples"
        ),
        (F.coalesce("n_subj", zero) + F.coalesce("d_subj", zero)).alias("n_subj"),
        (F.coalesce("n_obj", zero) + F.coalesce("d_obj", zero)).alias("n_obj"),
    )


def build_subject_pred_index(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
) -> DataFrame:
    """Distinct (subj, pred) pairs of one batch — the PERSISTED STATE of
    incremental characteristic sets.  APPEND-ONLY (duplicate pairs across
    batches are harmless: probes ``collect_set``).  Write it with
    ``write_bucketed(..., bucket_col='subj')`` so the per-subject probe
    groups with zero Exchange."""
    return (
        triples.where(F.col(subj_col).isNotNull())
        .select(F.col(subj_col).alias("subj"), F.col(pred_col).alias("pred"))
        .distinct()
    )


def characteristic_sets_incremental(
    batch_triples: DataFrame,
    old_index: DataFrame | None,
    old_hist: DataFrame | None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    cache_registry: list | None = None,
) -> DataFrame:
    """Maintain the :func:`characteristic_sets` histogram under a new batch
    of triples WITHOUT rescanning the historical triple store (probe-shaped
    delta maintenance): returns the updated ``(pred_set, n_subj,
    n_preds)`` table, bit-equal to ``characteristic_sets(old ∪ batch)``.

    A batch can MOVE a subject between histogram buckets (a page gaining
    its first ``mentions_*`` triple leaves ``{lang,source}`` and enters
    ``{lang,mentions_x,source}``), so the update is a transfer: for every
    touched subject whose predicate set actually changes, decrement the old
    shape and increment the new one; brand-new subjects only increment.
    Subjects the batch leaves set-unchanged (duplicate triples) move
    nothing.

    PROBE-shaped: batch subject ids are batch-bounded → broadcast →
    left_semi at the (subj, pred) index scan; the per-subject
    ``collect_set`` groups BY THE BUCKET COLUMN, so over a
    ``write_bucketed('subj')`` catalog table the whole history side plans
    with zero Exchange (plan-pinned).  The touched-subject frame (⊆ batch
    subjects) broadcasts into a batch-side LEFT join (the broadcast side is
    the non-preserved one), and everything downstream is histogram-sized.
    The caller appends ``build_subject_pred_index(batch)`` per batch, the
    same loop contract as :func:`predicate_stats_incremental`.
    """
    spark = batch_triples.sparkSession
    if old_index is None:
        old_index = spark.createDataFrame([], "subj bigint, pred string")
    if old_hist is None:
        old_hist = spark.createDataFrame(
            [], "pred_set string, n_subj bigint, n_preds bigint"
        )
    batch_sp = build_subject_pred_index(
        batch_triples, subj_col=subj_col, pred_col=pred_col
    ).persist()
    if cache_registry is not None:
        cache_registry.append(batch_sp)
    batch_sets = batch_sp.groupBy("subj").agg(
        F.sort_array(F.collect_set("pred")).alias("_b_preds")
    )
    touched_old = (
        old_index.join(
            F.broadcast(batch_sp.select("subj").distinct()),
            on="subj",
            how="left_semi",
        )
        .groupBy("subj")
        .agg(F.sort_array(F.collect_set("pred")).alias("_o_preds"))
    )
    j = batch_sets.join(F.broadcast(touched_old), on="subj", how="left")
    new_preds = F.array_sort(
        F.array_distinct(
            F.concat(
                F.coalesce(
                    F.col("_o_preds"), F.expr("CAST(array() AS array<string>)")
                ),
                F.col("_b_preds"),
            )
        )
    )
    moved = j.select(
        F.concat_ws(",", F.col("_o_preds")).alias("_old_set"),
        F.col("_o_preds").isNotNull().alias("_had_old"),
        F.concat_ws(",", new_preds).alias("_new_set"),
        F.size(new_preds).cast("bigint").alias("_new_n"),
        F.when(F.col("_o_preds").isNotNull(), F.size("_o_preds"))
        .cast("bigint")
        .alias("_old_n"),
    ).where(~F.col("_had_old") | (F.col("_old_set") != F.col("_new_set")))
    # ONE consumer of `moved`: emit the (+1 new shape) and (-1 old shape)
    # rows via a per-row exploded array instead of a two-select union — a
    # union would evaluate the probe subtree twice (exchange reuse does not
    # cross a union; measured 2x probe wall in the delta-scale A/B)
    inc = F.struct(
        F.col("_new_set").alias("pred_set"),
        F.lit(1).cast("bigint").alias("_d"),
        F.col("_new_n").alias("_np"),
    )
    dec = F.struct(
        F.col("_old_set").alias("pred_set"),
        F.lit(-1).cast("bigint").alias("_d"),
        F.col("_old_n").alias("_np"),
    )
    deltas = (
        moved.select(
            F.explode(
                F.when(F.col("_had_old"), F.array(inc, dec)).otherwise(
                    F.array(inc)
                )
            ).alias("_x")
        )
        .select("_x.*")
        .groupBy("pred_set")
        .agg(F.sum("_d").alias("_d"), F.first("_np").alias("_np"))
    )
    merged = old_hist.join(deltas, on="pred_set", how="full_outer")
    zero = F.lit(0).cast("bigint")
    return (
        merged.select(
            "pred_set",
            (F.coalesce("n_subj", zero) + F.coalesce("_d", zero)).alias("n_subj"),
            F.coalesce("n_preds", "_np").cast("bigint").alias("n_preds"),
        )
        .where(F.col("n_subj") > 0)
    )


def entity_cooccurrence(
    mentions: DataFrame,
    doc_col: str = "doc_id",
    entity_col: str = "entity",
    max_entities_per_doc: int | None = 64,
) -> DataFrame:
    """Co-mention edges: unordered entity pairs mentioned in the same
    document — ``(entity_a, entity_b, n_docs)`` with ``entity_a <
    entity_b`` and ``n_docs`` the number of distinct documents containing
    both.

    ``max_entities_per_doc`` guards the quadratic blowup: a document
    mentioning k entities contributes k*(k-1)/2 pairs, so a single
    pathological page (an index listing 10^5 entities) would emit 5*10^9
    rows.  Documents above the cap are DROPPED from pair building (the
    standard co-occurrence practice — such pages carry no real association
    signal anyway).  Pass ``None`` to disable.

    Scale shape: distinct (doc, entity) first (one shuffle, partial-agg'd),
    per-doc cardinality via a ``doc``-keyed count joined back (same key →
    same shuffle partitioning reused), then the pair self-join keyed on
    ``doc`` — each task joins only within its doc partitions and per-doc
    output is capped at ~k^2/2 ≤ 2016 rows by the guard.  The final
    pair-keyed count is partial-agg'd, so hot pairs (two entities
    co-mentioned everywhere) cost map-side combine, not a hot reducer.
    """
    de = _distinct_mentions(mentions, doc_col, entity_col)
    return _pairs_from_de(de, max_entities_per_doc)


def _distinct_mentions(mentions, doc_col, entity_col):
    return (
        mentions.select(
            F.col(doc_col).alias("_doc"), F.col(entity_col).alias("_ent")
        )
        .distinct()
    )


def _pairs_from_de(de, max_entities_per_doc):
    if max_entities_per_doc is not None:
        per_doc = de.groupBy("_doc").agg(F.count(F.lit(1)).alias("_k"))
        de = (
            de.join(per_doc.where(F.col("_k") <= int(max_entities_per_doc)),
                    on="_doc", how="left_semi")
        )
    a = de.select(F.col("_doc"), F.col("_ent").alias("entity_a"))
    b = de.select(F.col("_doc"), F.col("_ent").alias("entity_b"))
    pairs = a.join(b, on="_doc").where(F.col("entity_a") < F.col("entity_b"))
    return (
        pairs.groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def cooccurrence_pmi(
    mentions: DataFrame,
    doc_col: str = "doc_id",
    entity_col: str = "entity",
    max_entities_per_doc: int | None = 64,
    min_pair_docs: int = 1,
) -> DataFrame:
    """Pointwise mutual information for co-mention edges:
    ``(entity_a, entity_b, n_docs, pmi)`` with
    ``pmi = ln(n_docs * N / (df_a * df_b))`` over document frequencies —
    the standard association weight that turns raw co-occurrence counts
    into KG edge scores (downweights pairs that merely share two popular
    entities).  ``pmi`` is rounded to 6 decimals so a DuckDB oracle
    reproduces it bit-exactly (both engines use IEEE-double ``ln``).

    Scale shape: the capped pair building, the df table, and the corpus
    size all derive from the SAME lazy distinct-(doc, entity) subtree.
    Measured at sf0.1: leaving it lazy beats persist()-ing it ~2x warm
    (6.4 s -> 3.0 s) — an InMemoryRelation under AQE reports unknown
    partitioning (the repo invariant) and the materialization round-trip
    costs more than the recompute, since the df/N consumers are cheap
    aggregations of the already-shuffled frame.
    The two document-frequency lookups are BROADCAST joins — the entity
    vocabulary is orders of magnitude smaller than the corpus — and the
    corpus size ``N`` rides the same broadcast (cross-joined scalar), so
    scoring adds ZERO shuffles over the pair frame.  ``min_pair_docs``
    prunes singleton-support edges before the joins (PMI on 1-doc support
    is noise at any scale).
    """
    de = _distinct_mentions(mentions, doc_col, entity_col)
    pairs = _pairs_from_de(de, max_entities_per_doc)
    if min_pair_docs > 1:
        pairs = pairs.where(F.col("n_docs") >= F.lit(int(min_pair_docs)))
    df_tab = de.groupBy("_ent").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    n_docs_total = de.select(
        F.countDistinct("_doc").cast("bigint").alias("_n_total")
    )
    return (
        pairs.join(
            F.broadcast(df_tab.select(F.col("_ent").alias("entity_a"),
                                      F.col("_df").alias("_df_a"))),
            on="entity_a",
        )
        .join(
            F.broadcast(df_tab.select(F.col("_ent").alias("entity_b"),
                                      F.col("_df").alias("_df_b"))),
            on="entity_b",
        )
        .crossJoin(F.broadcast(n_docs_total))
        .select(
            "entity_a",
            "entity_b",
            "n_docs",
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    * F.col("_n_total").cast("double")
                    / (F.col("_df_a").cast("double") * F.col("_df_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def pattern_join_ordered(
    triples: DataFrame,
    pred_a: str,
    pred_b: str,
    stats: DataFrame | None = None,
    broadcast_threshold: int = 1_000_000,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Same-subject two-pattern join (SPARQL ``?s pa ?va . ?s pb ?vb``)
    with STATISTICS-DRIVEN physical planning — the reason an RDF store
    keeps :func:`predicate_stats` at all: ``(subj, val_a, val_b)`` for
    every subject carrying both predicates, with the smaller pattern side
    BROADCAST when the stats say it fits.

    ``stats`` is a (maintained) :func:`predicate_stats` /
    :func:`predicate_stats_incremental` table; the driver-side decision
    reads just the two predicates' ``n_triples`` from it (a pred-sized
    lookup — two rows, not a corpus scan).  When the smaller side is under
    ``broadcast_threshold`` triples it is broadcast — the selective
    pattern (``mentions_GRB220101A``, 10^3 rows) streams the huge one
    (``lang``, 10^12 rows) map-side with ZERO shuffle of the big side,
    exactly Spark's star-schema strategy but decided from KG statistics
    Spark cannot know (both inputs are filters over ONE triple table, so
    its own size estimates see the whole table on both sides).  Without
    stats (or with both sides large) the join falls back to the normal
    shuffled equi-join on ``subj``.

    Scale shape: two scan-fused filters of the triple store (a
    pred-partitioned layout prunes both to their partitions), one join
    whose strategy the caller's statistics pick.  Output is
    plan-independent — the oracle asserts bit-equality with the naive
    join either way.
    """
    a = triples.where(F.col(pred_col) == pred_a).select(
        F.col(subj_col).alias("subj"), F.col(obj_col).alias("val_a")
    )
    b = triples.where(F.col(pred_col) == pred_b).select(
        F.col(subj_col).alias("subj"), F.col(obj_col).alias("val_b")
    )
    if stats is not None:
        # project to (pred, n_triples) BEFORE the collect: the decision
        # needs only the triple counts, and the projection lets Catalyst
        # prune predicate_stats' two exact-distinct aggregates (and their
        # 3x Expand) out of the driver-side lookup job entirely
        counts = {
            r["pred"]: r["n_triples"]
            for r in stats.where(F.col("pred").isin(pred_a, pred_b))
            .select("pred", "n_triples")
            .collect()
        }
        na = counts.get(pred_a, 0)
        nb = counts.get(pred_b, 0)
        if min(na, nb) <= int(broadcast_threshold):
            if na <= nb:
                a = F.broadcast(a)
            else:
                b = F.broadcast(b)
    return a.join(b, on="subj")


def two_hop(
    edges_ab: DataFrame,
    edges_bc: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    b2_col: str = "src",
    c_col: str = "dst",
) -> DataFrame:
    """Two-triple-pattern path join (SPARQL ``?a p1 ?b . ?b p2 ?c``):
    endpoints with the number of DISTINCT middle nodes connecting them —
    ``(a, c, n_mid)``.

    Deduplicates each edge set first so parallel edges do not multiply
    path counts, and counts distinct middles (not raw paths), which is the
    question a KG user asks ("how many documents connect this source to
    this entity?").

    Scale shape: the join keys on the middle node ``b`` — both sides
    shuffle on ``b`` once (or zero times if both are bucketed by their
    join column in the catalog).  Skewed middles (one doc linking
    everything) are the co-occurrence problem again — cap upstream with
    :func:`entity_cooccurrence`'s guard pattern if ``b`` fan-outs are
    unbounded.  The final (a, c)-keyed distinct-count is planned with
    map-side partial aggregation.
    """
    ab = edges_ab.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("_b")
    ).distinct()
    bc = edges_bc.select(
        F.col(b2_col).alias("_b"), F.col(c_col).alias("c")
    ).distinct()
    return (
        ab.join(bc, on="_b")
        .groupBy("a", "c")
        .agg(F.countDistinct("_b").cast("bigint").alias("n_mid"))
    )


def star_join_ordered(
    triples: DataFrame,
    preds: list[str],
    stats: DataFrame | None = None,
    broadcast_threshold: int = 1_000_000,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    aliases: list[str] | None = None,
) -> DataFrame:
    """N-pattern same-subject star join (SPARQL ``?s p1 ?v1 . ... ?s pN
    ?vN``) with STATISTICS-DRIVEN join ordering — the N-way
    generalization of :func:`pattern_join_ordered` and the query shape the
    reference's contemplate joins chain by hand two patterns at a time
    (``/root/reference/facts/learn.py:105-156``): one output row per
    subject carrying ALL the predicates, one value column per pattern in
    caller order.

    With ``stats`` (a maintained :func:`predicate_stats` /
    :func:`predicate_stats_incremental` table) the driver reads just the N
    predicates' ``n_triples`` (a pred-sized lookup) and applies the
    star-schema strategy Spark cannot derive itself (every side is a
    filter over the SAME triple table, so Catalyst's size estimates see
    the whole table N times): the LARGEST pattern anchors and streams;
    the remaining sides fold in ascending-cardinality order, each
    broadcast when its stats say it fits under ``broadcast_threshold`` —
    the selective patterns (``mentions_GRB220101A``, 10^3 rows) then prune
    the huge anchor (``lang``, 10^12 rows) map-side with ZERO shuffle of
    any big side, and the most selective side prunes FIRST.  Without
    stats (or for sides above the threshold) the fold falls back to
    shuffled equi-joins on ``subj``.

    Scale shape: N scan-fused filters of the triple store (a
    pred-partitioned layout prunes each to its partition), N-1 joins whose
    strategies the statistics pick.  Output is plan-independent — the
    oracle asserts bit-equality with the naive chained join either way.
    """
    if len(preds) < 2:
        raise ValueError("star_join_ordered needs at least two patterns")
    if aliases is None:
        aliases = [f"val_{i}" for i in range(len(preds))]
    if len(aliases) != len(preds) or len(set(aliases)) != len(aliases):
        raise ValueError("aliases must be unique and match preds 1:1")
    sides = [
        triples.where(F.col(pred_col) == p).select(
            F.col(subj_col).alias("subj"), F.col(obj_col).alias(a)
        )
        for p, a in zip(preds, aliases)
    ]
    if stats is None:
        out = sides[0]
        for s in sides[1:]:
            out = out.join(s, on="subj")
        return out.select("subj", *aliases)
    # (pred, n_triples) projection before the collect — same pruning
    # rationale as pattern_join_ordered: no Expand/distincts in the lookup
    counts = {
        r["pred"]: r["n_triples"]
        for r in stats.where(F.col("pred").isin(list(set(preds))))
        .select("pred", "n_triples")
        .collect()
    }
    # a predicate MISSING from the stats table is unknown, not empty: a
    # stale/incomplete table must not force-broadcast an arbitrarily large
    # side (OOM at scale) — unknown sides sort last and join as plain
    # shuffled equi-joins
    _unknown = max(counts.values(), default=0) + 1
    order = sorted(
        range(len(preds)), key=lambda i: (counts.get(preds[i], _unknown), i)
    )
    out = sides[order[-1]]  # largest side anchors and streams
    for i in order[:-1]:
        side = sides[i]
        n = counts.get(preds[i])
        if n is not None and n <= int(broadcast_threshold):
            side = F.broadcast(side)
        out = out.join(side, on="subj")
    return out.select("subj", *aliases)


def triple_provenance(
    triples: DataFrame,
    doc_col: str = "doc_id",
    ts_col: str | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Per-fact provenance aggregation over raw (pre-dedup) assertion
    rows: for every distinct ``(subj, pred, obj)``, how many DISTINCT
    documents assert it (``n_docs``), how many raw assertions exist
    (``n_assertions``), and — when ``ts_col`` is given — the earliest and
    latest assertion stamps (``first_seen`` / ``last_seen``, the input
    column's type).

    The reference's graph build collapses the assertion multiset into set
    semantics and throws the evidence away
    (``/root/reference/facts/core.py:197-226``); a web-scale KG keeps it:
    support counts gate low-evidence facts, recency windows drive
    re-crawling, and first-seen stamps order contradictory facts.

    Scale shape: ONE groupBy on (subj, pred, obj) — count/min/max fold
    map-side; the distinct-doc count plans as Spark's standard two-phase
    partial distinct aggregation.  Hot facts (a triple asserted by every
    page) cost map-side combine, not a hot reducer, for every aggregate
    except the distinct-doc leg — whose partial de-dup also happens
    map-side within each task.
    """
    aggs = [
        F.countDistinct(F.col(doc_col)).cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_assertions"),
    ]
    if ts_col is not None:
        aggs += [
            F.min(F.col(ts_col)).alias("first_seen"),
            F.max(F.col(ts_col)).alias("last_seen"),
        ]
    return (
        triples.groupBy(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
        ).agg(*aggs)
    )


def path_closure(
    edges: DataFrame,
    max_depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
    cache_registry: list | None = None,
    early_exit: bool = True,
) -> DataFrame:
    """Bounded-depth transitive closure with min-hop depths — the SPARQL
    property path ``?a pred{1,k} ?b`` (e.g. ``skos:broader+`` taxonomy
    roll-ups, citation chains over the reference's ``cites`` facts,
    ``/root/reference/facts/common.py:22-35``): one row per reachable
    ``(src, dst)`` pair with the MINIMUM number of hops connecting it
    (``depth`` int in ``[1, max_depth]``).

    BFS by frontier, not by re-joining the closure: round ``d`` joins only
    the pairs FIRST reached at ``d-1`` against the (persisted, deduped)
    edge list, then anti-joins the accumulated closure so a pair is
    emitted exactly once at its minimal depth — cycles terminate naturally
    because a revisited pair is never re-expanded.  Each frontier is
    persisted (iterative-lineage rule: an unpersisted frontier would
    recompute every earlier round) and, with ``early_exit``, probed with a
    bounded ``head(1)`` so a converged graph stops before ``max_depth``
    (the probe materializes the frontier it already needs next round —
    no wasted work; pass ``early_exit=False`` for a fully lazy finite
    chain).

    Scale shape (a 10^9-edge graph): per round, ONE shuffle join keyed on
    the frontier's ``dst`` vs the edge list's ``src`` (bucketing edges by
    ``src`` in the catalog makes that side exchange-free) plus one
    anti-join keyed on the (src, dst) pair; frontier size is bounded by
    the NEW pairs discovered that round, so dense cores stop costing once
    saturated.  ``max_depth`` is a fixed small constant — the plan is a
    finite chain, and the closure (unavoidably quadratic on strongly
    connected cores) is the caller's semantic choice, not a join blow-up:
    parallel edges are deduped up front and each output pair crosses the
    network once.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    registry = cache_registry if cache_registry is not None else []
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .persist()
    )
    registry.append(e)
    # frontier d=1 is the edge list itself; reach accumulates (src, dst)
    frontier = e
    reach = e.persist()
    registry.append(reach)
    out = frontier.withColumn("depth", F.lit(1).cast("int"))
    for d in range(2, max_depth + 1):
        if early_exit and not frontier.head(1):
            break
        nxt = (
            frontier.join(
                e.select(
                    F.col("src").alias("dst"), F.col("dst").alias("_dst2")
                ),
                on="dst",
            )
            .select("src", F.col("_dst2").alias("dst"))
            .distinct()
            .join(reach, on=["src", "dst"], how="left_anti")
            .persist()
        )
        registry.append(nxt)
        reach_new = reach.unionByName(nxt).persist()
        registry.append(reach_new)
        reach = reach_new
        out = out.unionByName(nxt.withColumn("depth", F.lit(d).cast("int")))
        frontier = nxt
    return out
