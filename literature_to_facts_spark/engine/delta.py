"""Incremental KG maintenance: re-extract ONLY the documents a snapshot diff
touched.

The reference's daily loop re-learns its whole corpus every cycle
(/root/reference/facts/tools.py:17-53 re-fetches and re-runs extraction); at
10^12 documents that is the O(corpus) trap every delta family in this repo
exists to avoid.  The operational shape is: diff the new corpus snapshot
against the previous one (:func:`snapshot_diff` — id + text hash only),
then

    new_triples = (old_triples  ANTI-JOIN  removed∪changed ids)
                  UNION  extract(new_docs  SEMI-JOIN  added∪changed ids)

Extraction — the expensive stage (regex batteries, pandas UDFs) — runs over
the DELTA only; the persisted triple store is never re-derived, and because
a daily delta is batch-sized its id set is BROADCAST, so the 10^12-row
triple store is filtered at its scan with ZERO shuffle (the same probe
discipline as the incremental statistics in ``engine/kgquery.py``).

Correctness contract (pinned by tests/test_delta_reextract.py): when
``old_triples == extract_fn(old_docs)`` and extraction is per-document
deterministic, the result equals ``extract_fn(new_docs)`` run from scratch.
The unit test also proves the negative space: unchanged documents keep their
STORED triples verbatim (a poisoned store surfaces in the output), i.e. the
operator provably does not re-extract outside the delta.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus versioning: what changed between two snapshots.

    Returns ``(id_col, status, old_hash, new_hash)`` for every document
    that was ``added`` (id only in ``new``), ``removed`` (only in ``old``)
    or ``changed`` (both, different ``md5(text)``; NULL text hashes as
    NULL — a NULL->NULL document is unchanged, a NULL->text transition is
    a change).  Unchanged documents are NOT emitted — the diff artifact is
    what an auditor or an incremental re-train actually reads, and at
    100 TB emitting the unchanged majority would make the diff as big as
    the corpus.

    Scale: one full outer join on ``id_col`` (both sides shuffle by id —
    inherent for an id-keyed diff); only the id and the 32-byte text hash
    flow through it, never the text.
    """
    o = old.select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("old_hash")
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("new_hash")
    ).withColumn("_in_new", F.lit(1))
    return (
        o.join(n, on="_id", how="full_outer")
        .withColumn(
            "status",
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(
                ~(
                    F.col("old_hash").eqNullSafe(F.col("new_hash"))
                ),
                F.lit("changed"),
            ),
        )
        .where(F.col("status").isNotNull())
        .select(F.col("_id").alias(id_col), "status", "old_hash", "new_hash")
    )


def delta_reextract(
    old_triples: DataFrame,
    diff: DataFrame,
    new_docs: DataFrame,
    extract_fn: Callable[[DataFrame], DataFrame],
    id_col: str = "doc_id",
    broadcast_diff: bool = True,
    cache_registry: list | None = None,
) -> DataFrame:
    """The new snapshot's triples from the old store + a diff + the new
    corpus, extracting only added/changed documents.

    ``diff`` is :func:`snapshot_diff` output (or anything with ``id_col``
    + ``status`` in {'added','removed','changed'}).  ``extract_fn`` maps a
    document frame to a triple frame carrying ``id_col`` (any schema
    otherwise — mention counts, (subj, pred, obj) melts, full extractor
    batteries).

    ``broadcast_diff=True`` (default) broadcasts both id sets — right for
    the operational daily delta (batch-sized); pass False for a bulk diff
    that would not fit a broadcast, paying the id shuffle instead.
    """
    # The diff feeds TWO consumers (stale anti-keys and fresh semi-keys);
    # Catalyst pushes each join's status predicate into its own build
    # subtree, so the builds diverge and an unpersisted snapshot_diff input
    # would run its full-outer join TWICE.  Persist the diff-sized
    # (id, status) projection instead — both broadcasts read the cache and
    # the diff computes once (pinned: the operator-plan test asserts both
    # build sides are InMemoryTableScans).  Batch-sized by the daily-delta
    # assumption; long-session callers pass ``cache_registry`` to
    # unpersist per batch, the same lifecycle as the incremental
    # statistics in engine/kgquery.py.
    ids = diff.select(F.col(id_col).alias("_diff_id"), F.col("status")).persist()
    if cache_registry is not None:
        cache_registry.append(ids)
    if broadcast_diff:
        ids = F.broadcast(ids)
    kept = old_triples.join(
        ids,
        (old_triples[id_col] == ids["_diff_id"])
        & ids["status"].isin("removed", "changed"),
        "left_anti",
    )
    delta_docs = new_docs.join(
        ids,
        (new_docs[id_col] == ids["_diff_id"])
        & ids["status"].isin("added", "changed"),
        "left_semi",
    )
    return kept.unionByName(extract_fn(delta_docs))
