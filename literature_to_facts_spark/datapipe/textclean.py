"""Corpus-level text cleaning: cross-document line dedup + PII redaction.

Two operators web-scale curation pipelines (CCNet, RefinedWeb, Dolma) run
between quality filtering and near-dup purge, re-expressed Spark-first and
fully DuckDB-oracled:

* :func:`line_dedup` — CCNet-style paragraph/line deduplication: a line that
  occurs in >= ``min_df`` distinct documents is removed from EVERY document
  (boilerplate headers, cookie banners, navigation chrome).  Lines shorter
  than ``min_line_chars`` after trim never participate (they are kept
  verbatim — dropping every blank line or ``---`` separator would destroy
  document structure, which is also CCNet's rule).
* :func:`line_dedup_incremental` / :func:`build_line_frequency_index` — the
  delta mode (fifth probe-shaped incremental family): a new batch is cleaned
  against COMBINED old+new line frequencies using only a persisted
  (line_key, df) index — history text is never re-split, and the history
  side of the probe plans with zero Exchange over a bucketed catalog table.
* :func:`pii_redact` — regex detection + masking of emails, IPv4 addresses
  and phone numbers, with per-document match counts computed on the
  ORIGINAL text (the counts are an audit artifact; masking is sequential,
  and the email pattern requires an alphabetic TLD, so ``a@1.2.3.4``
  counts as an IPv4 hit, not an email).

Portability contract (the repo-wide invariant): line keys use the md5-derived
52-bit hash family (DuckDB recomputes them bit-exactly) and every regex is
restricted to the RE2-compatible subset (no lookaround, no backreferences)
so Java's engine and DuckDB's RE2 agree match-for-match; both engines use
leftmost-first semantics and ASCII character classes here.

Scale notes (100 TB):

* ``line_dedup`` is inherently a four-Exchange job over the EXPLODED corpus
  (count(DISTINCT doc) per line key is two-phase — (key,id) then key; join
  the frequent-key set back by key; reassemble by doc) — the same shape as
  exact document dedup, one level down.  With ``min_df=2`` the frequent set
  is a large fraction of all duplicated lines, so the key-join must
  shuffle; with a high ``min_df`` (true boilerplate, say >= 1000 docs) the
  frequent set collapses to a small table — ``broadcast_frequent=True``
  then removes the corpus-side key-join shuffle (plan-pinned 4 -> 3
  Exchanges).  The exploded frame feeds two consumers
  (the frequency count and the join's left side); the upstream is a narrow
  scan + split, so two scan-fused passes beat materializing an exploded
  copy of the corpus.
* ``pii_redact`` is pure per-row expressions: zero shuffle, scan-fused,
  pushdown-transparent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from literature_to_facts_spark.datapipe.dedup import _h52

# (name, RE2-compatible pattern, mask) — masking applies IN THIS ORDER.
# Patterns deliberately ASCII-only and lookaround-free so Spark (java.util
# .regex) and DuckDB (RE2) produce identical matches.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"\+\d{1,3}[ -]?\d{2,4}[ -]?\d{2,4}[ -]?\d{2,4}|\b\d{3}[ -]\d{3}[ -]\d{4}\b",
        "<PHONE>",
    ),
]


# names _lines/_reassemble emit (or use internally): a carry column with one
# of these names would be silently REPLACED (withColumn/aggregate alias), so
# both public entry points reject them loudly.
_RESERVED_LINE_COLS = frozenset(
    {"_id", "_pos", "_line", "_key", "_fkey", "_grp", "clean_text",
     "n_lines", "n_dropped"}
)


def _check_carry(carry_cols: tuple) -> None:
    clash = sorted(_RESERVED_LINE_COLS & set(carry_cols))
    if clash:
        raise ValueError(
            f"carry_cols {clash} collide with line_dedup's output/internal "
            "columns; rename them first"
        )


def _lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_line_chars: int,
    carry_cols: tuple = (),
    group_col: str | None = None,
) -> DataFrame:
    """(_id, _pos, _line, _key[, carry...]) exploded line instances;
    ``_key`` is the md5-family 52-bit line hash, NULL for lines below
    ``min_line_chars`` (NULL never matches a join, so short lines bypass
    both the frequency count and the removal join without a separate
    branch).

    ``group_col`` SALTS the key with the row's group value
    (``H(group || US || line)``): identical lines in different groups get
    distinct keys, so every downstream frequency count / removal join /
    persisted index is group-scoped with ZERO structural change — the
    per-host boilerplate mode.  NULL-group rows get a NULL key (never
    deduped, the short-line convention)."""
    cols = [
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
        # F.col, not selectExpr interpolation: carry names may be SQL
        # reserved words or non-identifiers ('order', 'page-count')
        *[F.col(c) for c in carry_cols],
    ]
    if group_col is not None and group_col not in carry_cols:
        cols.append(F.col(group_col).alias("_grp"))
    out = docs.where(F.col(text_col).isNotNull()).select(*cols)
    if group_col is None:
        key_src = "_line"
    else:
        g = group_col if group_col in carry_cols else "_grp"
        # \x1f (unit separator) cannot appear in group values or lines
        key_src = f"concat(`{g}`, '\x1f', _line)"
    return out.withColumn(
        "_key",
        F.expr(
            f"CASE WHEN length(trim(_line)) >= {int(min_line_chars)}"
            f" THEN {_h52(key_src)} END"
        ),
    )


def _reassemble(flagged: DataFrame, id_col: str, carry_cols: tuple = ()) -> DataFrame:
    """Per-document ordered reassembly of surviving lines (rows whose
    ``_fkey`` is NULL); dropped lines still count in ``n_dropped``.
    ``carry_cols`` ride through as ``first()`` aggregates — constant per
    document by construction (they were exploded from one row), so this
    reattaches passthrough columns with ZERO extra shuffle (the naive
    alternative, joining clean text back onto the corpus by id, costs a
    corpus-wide Exchange)."""
    return flagged.groupBy(F.col("_id").alias(id_col)).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    # collect_list skips NULLs: dropped lines vanish here
                    # but still count below.
                    F.collect_list(
                        F.when(
                            F.col("_fkey").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count(F.col("_fkey")).cast("bigint").alias("n_dropped"),
        *[F.first(F.col(c)).alias(c) for c in carry_cols],
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    min_line_chars: int = 10,
    broadcast_frequent: bool = False,
    carry_cols: tuple = (),
    group_col: str | None = None,
) -> DataFrame:
    """Remove every line occurring in >= ``min_df`` distinct documents.

    Returns one row per non-NULL-text input document:
    ``(id_col, clean_text, n_lines, n_dropped)`` where ``clean_text`` joins
    the surviving lines with ``\\n`` in original order ('' when every line
    was dropped), ``n_lines`` counts the document's lines and ``n_dropped``
    the removed ones.  NULL-text documents are excluded (the datapipe
    NULL-text convention — there is nothing to clean and a NULL line set
    would otherwise alias the empty document).

    Frequency is per distinct DOCUMENT: a line repeated inside one document
    counts once toward ``min_df`` (and if the line is corpus-frequent, every
    in-document occurrence is removed).  Only lines with
    ``length(trim(line)) >= min_line_chars`` participate; shorter lines are
    kept verbatim even when identical across millions of documents.

    ``broadcast_frequent=True`` broadcasts the frequent-line key set instead
    of shuffling the exploded corpus by line key — correct always, but only
    sane when ``min_df`` is high enough that the frequent set is small
    (boilerplate mode); at ``min_df=2`` the set scales with the corpus and
    MUST use the default shuffle join.

    ``group_col`` scopes the dedup to groups (per-HOST site-template
    removal, the jusText/Dolma practice: a nav line shared by every page
    of one site is boilerplate, the same sentence on two unrelated sites
    is not): frequencies count distinct documents WITHIN each group and
    removal only ever matches in-group — implemented by salting the line
    key with the group value, so the plan is bit-identical in shape to
    the global mode (one frequency Exchange, one key join).  NULL-group
    documents are never deduped (key NULL, the short-line convention).
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    _check_carry(carry_cols)
    if group_col is not None and group_col not in docs.columns:
        raise ValueError(f"group_col {group_col!r} not in input columns")
    lines = _lines(
        docs, id_col, text_col, min_line_chars, carry_cols, group_col=group_col
    )
    freq = (
        lines.where(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(F.countDistinct("_id").alias("_df"))
        .where(F.col("_df") >= F.lit(int(min_df)))
        .select(F.col("_key").alias("_fkey"))
    )
    if broadcast_frequent:
        freq = F.broadcast(freq)
    flagged = lines.join(freq, lines["_key"] == freq["_fkey"], "left")
    return _reassemble(flagged, id_col, carry_cols)


def build_line_frequency_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """(line_key, df): one batch's per-line distinct-document counts of
    eligible lines — the PERSISTED STATE of incremental line dedup.

    APPEND-ONLY state (the delta-family convention): each batch appends its
    own partial counts, so a line seen by k batches has k rows; probes SUM
    the touched rows.  Summing per-batch distinct-document counts equals the
    distinct count over the union because batch doc-id sets are disjoint
    (the same contract every incremental family here relies on: re-crawled
    documents get fresh ids upstream).  Write it with
    ``engine.kgquery.write_bucketed(..., bucket_col="line_key")`` and the
    per-batch probe aggregation plans with zero Exchange on the history
    side (plan-pinned, same composition as the minhash band index).

    The build parameters are STAMPED into the ``line_key`` field metadata
    (``l2f_min_line_chars``, ``l2f_group_col``) — StructField metadata
    survives parquet and catalog-table round-trips, so
    :func:`line_dedup_incremental` can verify at call time that the
    probe's eligibility threshold AND group scoping match the ones the
    index was built with (a silent mismatch would combine frequencies over
    two different line populations).  ``group_col`` salts the keys for
    group-scoped (per-host) dedup — see :func:`line_dedup`."""
    key = F.col("_key").alias(
        "line_key",
        metadata={
            "l2f_min_line_chars": int(min_line_chars),
            "l2f_group_col": group_col or "",
        },
    )
    return (
        _lines(docs, id_col, text_col, min_line_chars, group_col=group_col)
        .where(F.col("_key").isNotNull())
        .groupBy(key)
        .agg(F.countDistinct("_id").cast("bigint").alias("df"))
    )


def line_dedup_incremental(
    new_docs: DataFrame,
    old_index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    min_line_chars: int = 10,
    cache_registry: list | None = None,
    carry_cols: tuple = (),
    group_col: str | None = None,
) -> DataFrame:
    """Delta line dedup: ``line_dedup(old ∪ new)`` RESTRICTED to the NEW
    batch's documents — the operational mode at 100 TB, where re-splitting
    the historical corpus per batch is the O(history) trap.

    Line frequencies are computed over the COMBINED corpus (a line with one
    historical and one new occurrence reaches ``min_df=2`` and is dropped
    from the new document), but only new documents are re-emitted.  Like
    every delta mode here the already-shipped history is immutable: a line
    that becomes frequent only because of this batch is NOT retroactively
    removed from historical documents (run the full :func:`line_dedup` for
    a from-scratch rebuild).  History text is NEVER touched — only the
    persisted :func:`build_line_frequency_index` rows (``old_index=None``
    means no history yet: the first batch degenerates to full mode over the
    batch).

    PROBE-shaped (the five-family round-5 pattern): the batch's line keys
    are BROADCAST and semi-join-filter the history index at its scan — only
    index rows for lines the batch actually contains go anywhere, the
    touched-key SUM runs directly on the filtered scan (no persist in
    between — an InMemoryRelation under AQE reports unknown partitioning
    and would force the Exchange back), and matched keys stream the
    (distributed) old counts past a broadcast of the batch aggregate;
    batch-only keys come from a scalar-keys anti join (a broadcast side can
    never be outer-preserved).  Zero shuffle of the history, and zero
    Exchange anywhere on its side over a ``write_bucketed("line_key")``
    catalog table (plan-pinned).

    The batch's exploded lines feed two consumers (the frequency aggregate
    and the reassembly join); upstream is a narrow scan + split, so two
    scan-fused passes beat materializing the exploded batch.  ``new_freq``
    and ``matched`` are persisted (batch-sized, multiple consumers) and
    appended to ``cache_registry`` when given so long-session callers can
    unpersist per batch.

    ``group_col`` gives the group-scoped (per-host) delta mode: keys are
    group-salted (see :func:`line_dedup`), so the SAME index/probe
    machinery maintains per-group frequencies; the index stamp records the
    scoping and a mismatched probe fails loudly."""
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    if old_index is None:
        old_index = new_docs.sparkSession.createDataFrame(
            [], "line_key bigint, df bigint"
        )
    elif "line_key" in old_index.columns:
        # the builder stamps its eligibility threshold into the field
        # metadata — verify the otherwise-unverifiable contract that probe
        # and index agree on which lines were counted.  An index built
        # by hand (no stamp) is accepted on the caller's word.
        built = old_index.schema["line_key"].metadata.get("l2f_min_line_chars")
        if built is not None and int(built) != int(min_line_chars):
            raise ValueError(
                f"old_index was built with min_line_chars={built} but the "
                f"probe passed min_line_chars={min_line_chars}; combined "
                "line frequencies would mix two different line populations"
            )
        built_grp = old_index.schema["line_key"].metadata.get("l2f_group_col")
        if built_grp is not None and str(built_grp) != (group_col or ""):
            raise ValueError(
                f"old_index was built with group_col={built_grp!r} but the "
                f"probe passed group_col={group_col!r}; combined line "
                "frequencies would mix two different key populations"
            )
    _check_carry(carry_cols)
    lines = _lines(
        new_docs, id_col, text_col, min_line_chars, carry_cols,
        group_col=group_col,
    )
    new_freq = (
        lines.where(F.col("_key").isNotNull())
        .groupBy(F.col("_key").alias("line_key"))
        .agg(F.countDistinct("_id").cast("bigint").alias("_new_df"))
        .persist()
    )
    touched_old = old_index.join(
        F.broadcast(new_freq.select("line_key")), on="line_key", how="left_semi"
    )
    old_agg = touched_old.groupBy("line_key").agg(F.sum("df").alias("_old_df"))
    matched = (
        old_agg.join(F.broadcast(new_freq), on="line_key", how="inner").persist()
    )
    miss = new_freq.join(
        F.broadcast(matched.select("line_key")), on="line_key", how="left_anti"
    ).withColumn("_old_df", F.lit(0).cast("bigint"))
    if cache_registry is not None:
        cache_registry.extend([new_freq, matched])
    cols = ["line_key", "_old_df", "_new_df"]
    frequent = (
        matched.select(*cols)
        .unionByName(miss.select(*cols))
        .where(F.col("_old_df") + F.col("_new_df") >= F.lit(int(min_df)))
        .select(F.col("line_key").alias("_fkey"))
    )
    flagged = lines.join(
        F.broadcast(frequent), lines["_key"] == F.col("_fkey"), "left"
    )
    return _reassemble(flagged, id_col, carry_cols)


def pii_redact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    output_col: str = "clean_text",
) -> DataFrame:
    """Detect and mask emails / IPv4 addresses / phone numbers.

    Adds ``n_email``, ``n_ipv4``, ``n_phone`` (match counts on the ORIGINAL
    text), ``has_pii`` and ``output_col`` (masks applied sequentially in
    ``PII_PATTERNS`` order).  NULL text passes through with zero counts,
    ``has_pii`` false and a NULL ``output_col``.  Pure per-row expressions —
    zero shuffle.

    Output columns REPLACE same-named input columns (``withColumns``
    semantics) rather than duplicating them, so chaining after
    :func:`line_dedup` — whose output is also named ``clean_text`` — yields
    one unambiguous column: ``pii_redact(line_dedup(docs),
    text_col="clean_text")`` redacts the deduped text in place.
    """
    counts = {
        f"n_{name}": F.coalesce(F.regexp_count(F.col(text_col), F.lit(pat)), F.lit(0))
        .cast("bigint")
        for name, pat, _ in PII_PATTERNS
    }
    clean = F.col(text_col)
    for _, pat, mask in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, mask)
    flag = None
    for name in counts:
        c = F.col(name) > 0
        flag = c if flag is None else (flag | c)
    return (
        docs.withColumns(counts)
        .withColumn(output_col, clean)
        .withColumn("has_pii", flag)
    )
