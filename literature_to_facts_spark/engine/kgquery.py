"""Graph-side query operators over materialized (subj, pred, obj) triples.

The reference stores its facts in an rdflib graph and answers questions by
SPARQL over it (``/root/reference/facts/learn.py:95-157`` — the contemplate
joins are hand-written two-triple-pattern queries).  At 10^12-document scale
the triple store is a partitioned table, and those store-side operators
become DataFrame plans:

* :func:`predicate_stats` — per-predicate cardinalities (triples, distinct
  subjects, distinct objects), the statistics an RDF store keeps for join
  ordering.
* :func:`star_join_ordered` — same-subject N-pattern join with
  statistics-driven join ordering and per-side broadcast decisions.
* :func:`pattern_join_ordered` — its two-pattern case.
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


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate cardinality statistics of a ``(subj, pred, obj)``
    table: ``(pred, n_triples, n_subj, n_obj)`` with exact distinct counts.

    Scale shape: one ``pred``-keyed aggregation.  The two exact distincts
    make Spark plan an Expand (3x the input rows map-side) feeding a
    partial aggregate, so the shuffle carries only per-(pred, grouping-id)
    partials; the final state is predicate-sized (KGs have 10s-1000s of
    predicates, never 10^12).  Hot predicates (every doc has ``lang``) are
    absorbed by the map-side partials, not a hot reducer.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triples"),
            F.countDistinct("subj").cast("bigint").alias("n_subj"),
            F.countDistinct("obj").cast("bigint").alias("n_obj"),
        )
    )


def _pattern(triples: DataFrame, pred: str, alias: str) -> DataFrame:
    """``(subj, <alias>)`` for every triple of predicate ``pred``."""
    return triples.where(F.col("pred") == pred).select("subj", F.col("obj").alias(alias))


def _triple_counts(stats: DataFrame, preds) -> dict:
    """``{pred: n_triples}`` for ``preds`` from a :func:`predicate_stats`
    table.  Projecting to (pred, n_triples) before the collect lets Catalyst
    prune the two exact-distinct aggregates (and their 3x Expand) out of this
    driver-side lookup job entirely."""
    return {
        r["pred"]: r["n_triples"]
        for r in stats.where(F.col("pred").isin(list(set(preds))))
        .select("pred", "n_triples")
        .collect()
    }


def pattern_join_ordered(
    triples: DataFrame,
    pred_a: str,
    pred_b: str,
    stats: DataFrame | None = None,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Same-subject two-pattern join (SPARQL ``?s pa ?va . ?s pb ?vb``):
    ``(subj, val_a, val_b)`` for every subject carrying both predicates.

    The two-pattern case of :func:`star_join_ordered`, so ``stats`` picks
    the plan the same way: the smaller side is broadcast when it is under
    ``broadcast_threshold`` triples (the selective ``mentions_GRB220101A``
    pattern streams the huge ``lang`` one map-side with zero shuffle of
    the big side), and a predicate missing from ``stats`` counts as
    unknown, so it is never broadcast.  Without stats the join is the
    normal shuffled equi-join on ``subj``.
    """
    return star_join_ordered(
        triples, [pred_a, pred_b], stats, broadcast_threshold,
        aliases=["val_a", "val_b"],
    )


def star_join_ordered(
    triples: DataFrame,
    preds: list[str],
    stats: DataFrame | None = None,
    broadcast_threshold: int = 1_000_000,
    aliases: list[str] | None = None,
) -> DataFrame:
    """N-pattern same-subject star join (SPARQL ``?s p1 ?v1 . ... ?s pN
    ?vN``) with STATISTICS-DRIVEN join ordering — the query shape the
    reference's contemplate joins chain by hand two patterns at a time
    (``/root/reference/facts/learn.py:105-156``): one output row per
    subject carrying ALL the predicates, one value column per pattern in
    caller order.

    With ``stats`` (a :func:`predicate_stats` table) the driver reads just
    the N predicates' ``n_triples`` (a pred-sized lookup) and applies the
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
    sides = [_pattern(triples, p, a) for p, a in zip(preds, aliases)]
    if stats is None:
        out = sides[0]
        for s in sides[1:]:
            out = out.join(s, on="subj")
        return out.select("subj", *aliases)
    counts = _triple_counts(stats, preds)
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
