"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.  All JVM-side (built-in functions only)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}

# whitespace token + BPE-ish word/punct split
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text_col: str) -> str:
    return f"filter(split(lower({text_col}), ' '), t -> t != '')"


def lang_scores(toks_col: str = "_toks") -> list[Column]:
    """Per-language stopword-hit-ratio score columns over a PRE-PROJECTED
    token-array column (see ``_with_tokens``)."""
    cols = []
    for lang, words in LANG_STOPWORDS.items():
        arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
        cols.append(
            F.expr(
                f"size(filter({toks_col}, t -> array_contains({arr}, t)))"
                f" / greatest(size({toks_col}), 1)"
            ).alias(f"score_{lang}")
        )
    return cols


def _with_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """Project the token array ONCE as ``_toks``.  The token expression is a
    higher-order ``filter`` (CodegenFallback — evaluated interpreted), so
    repeating it textually across output columns re-tokenizes the text per
    column with no common-subexpression sharing; one projection removes the
    repeat (same fix, measured ~1.7x, as datapipe.dedup._shingle_frame)."""
    return docs.withColumn("_toks", F.expr(_tokens(text_col)))


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax stopword-hit-ratio language guess (deterministic 'und' when no
    list scores above zero)."""
    scored = _with_tokens(docs, text_col).select("*", *lang_scores("_toks")).drop("_toks")
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    guess = F.lit("und")
    # reversed so earlier languages win ties (en first)
    for lg in reversed(langs):
        guess = F.when(
            (F.col(f"score_{lg}") == best) & (best > 0), F.lit(lg)
        ).otherwise(guess)
    return scored.withColumn("lang_guess", guess).drop(
        *[f"score_{lg}" for lg in langs]
    )


# character-trigram language model: 25 distinctive trigrams per language,
# integer weights (2-3 for hallmark trigrams, 1 otherwise).  Trigram sets are
# DISJOINT across languages by construction (asserted below): a trigram's
# weight counts for exactly one language, which keeps per-doc match counting
# a plain left join (no per-position fan-out) and makes the model table a
# function — the simplification a broadcast-join language scorer needs.
# Space characters inside trigrams capture word boundaries ("he " vs "he").
LANG_TRIGRAMS = {
    "en": {"the": 3, " th": 2, "he ": 2, "ing": 2, "ng ": 1, "and": 2,
           " an": 1, "nd ": 1, " of": 2, "of ": 2, " to": 1, "to ": 1,
           " is": 1, "is ": 1, "ion": 1, "tio": 1, "ati": 1, "hat": 1,
           "tha": 1, "ere": 1, "for": 1, "ith": 1, "wit": 1, "was": 1,
           "ver": 1},
    "de": {"der": 3, "die": 2, "und": 3, " un": 1, "sch": 2, "ein": 2,
           " ei": 1, "ich": 2, "ch ": 1, "cht": 1, "das": 2, " da": 1,
           "ung": 2, "gen": 1, "ben": 1, "hen": 1, "nde": 1, " zu": 1,
           "ber": 1, "eit": 1, "mit": 1, " mi": 1, "ine": 1, "rde": 1,
           "auf": 1},
    "fr": {"les": 2, " le": 2, "le ": 1, "ent": 2, "nt ": 1, "que": 2,
           " qu": 1, "ue ": 1, "des": 2, " de": 2, "de ": 1, "la ": 1,
           " la": 1, "ait": 1, "ons": 1, "our": 1, "eur": 1, "ans": 1,
           "dan": 1, "par": 1, " pa": 1, "est": 1, " es": 1, "une": 1,
           "men": 1},
    "es": {"los": 2, " lo": 1, "el ": 1, " el": 2, "en ": 1, " en": 1,
           "ar ": 1, "ado": 1, "ada": 1, "con": 2, " co": 1, "sta": 1,
           "cio": 1, "aci": 1, "nte": 1, "por": 2, " po": 1, "era": 1,
           "res": 1, "com": 1, "ien": 1, "cia": 1, "una": 1, "as ": 1,
           "ndo": 1},
    "it": {"re ": 1, "di ": 1, " di": 1, "che": 2, " ch": 1, "no ": 1,
           "ell": 1, "lla": 1, "zio": 2, "oni": 1, "are": 1, "ono": 1,
           "per": 2, " pe": 1, "non": 1, "gli": 2, "ia ": 1, "ita": 1,
           "ato": 1, "nti": 1, "ano": 1, "ale": 1, "tta": 1, "sso": 1,
           "qui": 1},
    "pt": {"ao ": 1, "os ": 1, "ram": 1, "nao": 1, "uma": 1, "em ": 1,
           " em": 1, "do ": 1, " do": 1, "da ": 1, "sao": 1, "ois": 1,
           "nto": 1, "ade": 2, "ara": 1, "qua": 1, "ues": 1, "seu": 1,
           "sua": 1, "mos": 1, "oes": 2, "dos": 1, " os": 1, "nha": 1,
           "lho": 1},
    "nl": {"van": 3, " va": 1, "een": 3, " ee": 1, "het": 3, " he": 1,
           "aar": 1, "oor": 1, "ijk": 2, "ij ": 1, " ij": 1, "aan": 1,
           " aa": 1, "ede": 1, "eer": 1, "ket": 1, "wor": 1, "ord": 1,
           "nie": 1, "iet": 1, "zij": 2, "voo": 1, "ijn": 1, "oud": 1,
           "eli": 1},
}

TRIGRAM_LANGS = list(LANG_TRIGRAMS)

# disjointness + shape invariants the scorer and its oracle both rely on
assert all(len(t) == 3 for d in LANG_TRIGRAMS.values() for t in d)
assert len({t for d in LANG_TRIGRAMS.values() for t in d}) == sum(
    len(d) for d in LANG_TRIGRAMS.values()
), "trigram lists must be disjoint across languages"


def lang_id_trigram_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Char-trigram language ID: per-doc weighted trigram-match scores for
    the seven :data:`LANG_TRIGRAMS` languages plus an argmax guess.

    Scale shape (the 100 TB plan): normalize + explode trigrams map-side
    (O(chars) rows, never materialized as a column of arrays), broadcast
    hash join against the ~175-row model table, then ONE partial-aggregated
    groupBy per doc — the only Exchange carries one row per document
    (id + 8 longs), not the text.  ``explode_outer`` + a left join keep
    every input document in the output: NULL/short texts surface as
    n_tri=0 / lang 'und' instead of dropping out of the aggregation.

    Emits (id, n_tri, score_<lang>... , lang_trigram); scores are integer
    weight sums (bit-portable — the DuckDB oracle recomputes them exactly).
    Richer than the stopword heuristic (:func:`with_lang_id`): trigrams see
    morphology ("ung", "ijk", "zio") rather than only whole function words,
    and cover it/pt/nl which the stopword lists do not."""
    spark = docs.sparkSession
    model = spark.createDataFrame(
        [(t, lg, w) for lg, d in LANG_TRIGRAMS.items() for t, w in d.items()],
        schema="tri string, lang string, w int",
    )
    # Explicit ASCII whitespace class instead of \s: Java's \s includes
    # U+000B but RE2's (DuckDB's) does not, so \s would silently diverge
    # from the generated oracle on documents containing a vertical tab.
    # Double-backslash in the Python source -> single-backslash escapes in
    # the SQL text -> the regex engine sees [ \t\n\x0B\f\r]+ (Spark SQL
    # string literals themselves process backslash escapes; same
    # convention as document_fingerprints below).  The normalized text is
    # projected ONCE as _t before the transform lambda: inlining the
    # regexp_replace into the lambda body re-evaluates it PER ELEMENT
    # (O(chars^2) per doc — measured 54 s -> ~2 s at sf0.001 on this exact
    # query), and CollapseProject keeps the multi-referenced non-cheap
    # projection as its own layer.
    # Trigrams come from a PER-CHAR array with O(1) element_at, not from
    # substring(_t, i, 3) inside the lambda: the transform HOF is
    # interpreted, and substring's char-index scan is O(position), so the
    # substring form is O(chars^2) per document — measured 35 s for 500
    # docs vs ~1 s with the char-array form.
    norm = f"regexp_replace(lower({text_col}), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+', ' ')"
    tri_arr = (
        "CASE WHEN _cs IS NOT NULL AND size(_cs) >= 3 "
        "THEN transform(sequence(1, size(_cs) - 2), "
        "i -> concat(element_at(_cs, i), element_at(_cs, i + 1),"
        " element_at(_cs, i + 2))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    exploded = (
        docs.selectExpr(f"{id_col} AS _id", f"split({norm}, '') AS _cs")
        .selectExpr("_id", f"explode_outer({tri_arr}) AS tri")
        .join(F.broadcast(model), on="tri", how="left")
    )
    aggs = [F.expr("count(tri)").cast("bigint").alias("n_tri")] + [
        F.expr(f"sum(CASE WHEN lang = '{lg}' THEN w ELSE 0 END)")
        .cast("bigint")
        .alias(f"score_{lg}")
        for lg in TRIGRAM_LANGS
    ]
    scored = exploded.groupBy(F.col("_id").alias(id_col)).agg(*aggs)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in TRIGRAM_LANGS])
    guess = F.lit("und")
    for lg in reversed(TRIGRAM_LANGS):  # earlier languages win ties
        guess = F.when(
            (F.col(f"score_{lg}") == best) & (best > 0), F.lit(lg)
        ).otherwise(guess)
    return scored.withColumn("lang_trigram", guess)


def with_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristics.

    quality_score in [0,1]: blends length sufficiency, reasonable mean word
    length, alpha ratio and stopword presence — rounded for engine-portable
    comparison.
    """
    en = "array(" + ",".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + ")"
    out = (
        _with_tokens(docs, text_col)
        .withColumn("n_words", F.expr("size(_toks)"))
        .withColumn(
            "mean_word_len",
            F.expr(
                "CASE WHEN size(_toks) = 0 THEN 0D ELSE"
                " aggregate(_toks, 0D, (acc, t) -> acc + length(t)) / size(_toks) END"
            ),
        )
        .withColumn(
            "alpha_ratio",
            F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
            / F.greatest(F.length(F.col(text_col)), F.lit(1)),
        )
        .withColumn(
            "punct_ratio",
            F.length(F.regexp_replace(F.col(text_col), r"[^\.,;:!\?]", ""))
            / F.greatest(F.length(F.col(text_col)), F.lit(1)),
        )
        .withColumn(
            "stopword_ratio",
            F.expr(
                f"size(filter(_toks, t -> array_contains({en}, t)))"
                f" / greatest(size(_toks), 1)"
            ),
        )
        .drop("_toks")
    )
    score = (
        F.least(F.col("n_words") / F.lit(50.0), F.lit(1.0)) * 0.3
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 0.3).otherwise(0.0)
        + F.col("alpha_ratio") * 0.2
        + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.2
    )
    return out.withColumn("quality_score", F.round(score, 6))


def with_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish (word/number/punct) token count."""
    return docs.withColumn(
        "n_ws_tokens", F.expr(f"size({_tokens(text_col)})")
    ).withColumn(
        "n_bpeish_tokens",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))),
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints:

    * ``fp_md5``: md5 of the whitespace-normalized lowercased text (engine-
      portable canonical content hash);
    * ``fp_rolling``: 52-bit polynomial rolling hash over tokens
      (``acc' = (31*acc + h52(token)) mod 2^52``, where h52 is the repo's
      portable md5-derived hash family — the same family every dedup
      operator uses, so an independent SQL engine recomputes it bit-exactly)
      — order-sensitive, cheap to compute incrementally at ingest.  ANSI-safe
      by construction: acc < 2^52, so 31*acc + h52 < 2^57 + 2^52 << 2^63.
      NULL text yields a NULL fingerprint (both columns).

    The round-4 variant used ``xxhash64``, which no other engine shares —
    leaving fp_rolling the one datapipe column outside the independent-oracle
    story; the md5-family polynomial closes that (and changes persisted
    fp_rolling values — re-fingerprint or pin the old expression when
    comparing against pre-round-5 outputs).
    """
    from literature_to_facts_spark.datapipe.dedup import _h52

    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    rolling = (
        f"aggregate({_tokens(text_col)}, 0L,"
        f" (acc, t) -> (31 * acc + {_h52('t')}) % 4503599627370496)"
    )
    return docs.withColumn("fp_md5", F.md5(F.expr(norm))).withColumn(
        "fp_rolling", F.expr(rolling)
    )


def with_repetition(
    docs: DataFrame, text_col: str = "text", n_gram: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition signals — boilerplate and
    degenerate (looping) text shows up as duplicated n-grams INSIDE one
    document, which the cross-document dedup family cannot see:

    * ``dup_word_frac``: 1 - distinct(tokens)/count(tokens);
    * ``dup_ngram_frac``: 1 - distinct(n-grams)/count(n-grams) (word
      ``n_gram``-grams, duplicates counted positionally);
    * ``top_word_frac``: occurrences of the most frequent token / total
      tokens (a single token dominating the document).

    Pure per-row array expressions (no shuffle, scales as one scan); each
    ratio is rounded to 6dp for engine-portable comparison.  Empty/NULL
    texts yield 0 ratios (nothing repeats in nothing) — NULL text yields
    NULL, matching the other textstats columns.
    """
    # explicit NULL arm: without it a NULL token array falls through to the
    # empty-array ELSE, making dup_ngram_frac 0.0 while the sibling ratios
    # are NULL — an inconsistent "clean" signal for an unknown document
    grams = (
        f"CASE WHEN _toks IS NULL THEN CAST(NULL AS array<string>) "
        f"WHEN size(_toks) >= {n_gram} THEN "
        f"transform(sequence(0, size(_toks) - {n_gram}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {n_gram}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    # top-token count without a shuffle: sort the tokens, then the longest
    # run of equal adjacent values is the max frequency — computed with one
    # aggregate over the sorted array carrying (prev, run, best)
    top_run = (
        "aggregate(array_sort(_toks), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, t) -> named_struct("
        " 'prev', t,"
        " 'run', CASE WHEN acc.prev IS NOT NULL AND t = acc.prev"
        "         THEN acc.run + 1 ELSE 1L END,"
        " 'best', greatest(acc.best, CASE WHEN acc.prev IS NOT NULL AND t = acc.prev"
        "         THEN acc.run + 1 ELSE 1L END)), "
        "acc -> acc.best)"
    )
    return (
        _with_tokens(docs, text_col)
        .withColumn("_grams", F.expr(grams))
        .selectExpr(
            "*",
            "round(CASE WHEN size(_toks) = 0 THEN 0D ELSE"
            " 1D - size(array_distinct(_toks)) / size(_toks) END, 6)"
            " AS dup_word_frac",
            "round(CASE WHEN size(_grams) = 0 THEN 0D ELSE"
            " 1D - size(array_distinct(_grams)) / size(_grams) END, 6)"
            " AS dup_ngram_frac",
            f"round(CASE WHEN size(_toks) = 0 THEN 0D ELSE"
            f" CAST({top_run} AS DOUBLE) / size(_toks) END, 6)"
            " AS top_word_frac",
        )
        .drop("_toks", "_grams")
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.6,
    min_stopword_ratio: float = 0.02,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style document quality gate over the :func:`with_quality`
    signals: ``keep`` boolean plus a ``drop_reason`` code (FIRST failing
    rule, fixed evaluation order) so filter composition is auditable —
    production corpus curation reports per-reason drop counts, not a bare
    pass rate.  All thresholds compare ROUNDED (6dp) ratios so the decision
    is bit-portable across engines (an exact-threshold float in the last
    ulp cannot flip between Spark and the oracle).

    Narrow plan: with_quality is pure per-row expressions, the gate adds a
    CASE ladder — no shuffle, scales as one scan.
    """
    q = with_quality(docs, text_col)
    mwl = F.round(F.col("mean_word_len"), 6)
    al = F.round(F.col("alpha_ratio"), 6)
    sw = F.round(F.col("stopword_ratio"), 6)
    pr = F.round(F.col("punct_ratio"), 6)
    reason = (
        F.when(F.col("n_words") < min_words, "too_few_words")
        .when(F.col("n_words") > max_words, "too_many_words")
        .when(mwl < min_mean_word_len, "mean_word_len_low")
        .when(mwl > max_mean_word_len, "mean_word_len_high")
        .when(al < min_alpha_ratio, "low_alpha_ratio")
        .when(sw < min_stopword_ratio, "no_stopwords")
        .when(pr > max_punct_ratio, "too_much_punct")
        .otherwise(F.lit(None).cast("string"))
    )
    return q.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def blocklist_filter(
    docs: DataFrame,
    terms: list,
    text_col: str = "text",
) -> DataFrame:
    """C4-style token blocklist: flag documents containing any blocked term.

    Adds ``n_blocked_terms`` (DISTINCT blocklist terms present in the
    document's lowercased whitespace tokens — both engines' array
    intersection dedups, so the count is term-distinct, not
    occurrence-count) and ``blocked``.  NULL text -> 0 / false.  Matching
    is exact-token, case-insensitive — the C4 rule; substring hits
    ("class" vs "ass") deliberately do NOT match.

    Scale: a pure per-row expression (token projection + array_intersect
    against an inline literal array) — zero shuffle, scan-fused.  Sized for
    blocklists up to a few thousand terms (the inline array rides the
    expression tree); a 10^5-term list should instead explode tokens and
    broadcast-semi-join the term table (one extra narrow join, still no
    corpus shuffle).
    """
    if not terms:
        # array() compiles as array<void> and array_intersect(_toks, array())
        # fails analysis — an empty blocklist blocks nothing
        return docs.withColumns(
            {
                "n_blocked_terms": F.lit(0).cast("bigint"),
                "blocked": F.lit(False),
            }
        )
    # escape backslashes BEFORE quotes: a raw backslash inside the SQL
    # string literal would be read as an escape sequence, silently turning
    # the compiled term into something the caller never passed
    arr = (
        "array("
        + ",".join(
            "'" + t.lower().replace("\\", "\\\\").replace("'", "\\'") + "'"
            for t in sorted(set(terms))
        )
        + ")"
    )
    out = _with_tokens(docs, text_col).withColumn(
        "n_blocked_terms",
        F.coalesce(
            F.expr(f"size(array_intersect(_toks, {arr}))"), F.lit(0)
        ).cast("bigint"),
    )
    return out.withColumn("blocked", F.col("n_blocked_terms") > 0).drop("_toks")


def token_topk(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide heavy hitters: the ``k`` most frequent whitespace tokens
    (lowercased, empty-filtered) with occurrence and document counts —
    vocabulary/boilerplate audit stats every corpus report ships.

    Scale shape: the token distribution is maximally skewed (Zipf — 'the'
    appears in every doc), which is exactly where map-side partial
    aggregation wins: the explode feeds ``groupBy(token)`` whose partial
    HashAggregate collapses each partition's hot tokens to ONE row before
    the Exchange, so the shuffle carries vocab-sized data per partition, not
    token-instance-sized, and no single reducer sees the raw 'the' stream
    (the salting the canonicalize operator needs is unnecessary here —
    partial aggregation IS the skew handling for algebraic aggregates).
    The final top-k is a ``TakeOrderedAndProject`` over the vocab-sized
    aggregate — no global sort.  Deterministic tie-break on the token.
    """
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_doc"),
        F.explode(F.expr(_tokens(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("_doc").cast("bigint").alias("n_docs"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(int(k))


# default token weights for quality_classifier: a tiny DEMONSTRATION model
# (function words vote quality-up, web-chrome/boilerplate tokens vote down).
# A production model is the same shape — (token, weight) rows learned
# offline (fastText-style linear bag-of-tokens) — passed in as a DataFrame;
# integer weights keep the per-doc sums bit-portable across engines.
QUALITY_CLF_WEIGHTS = {
    "the": 1, "a": 1, "of": 1, "and": 1, "to": 1, "in": 1, "is": 1,
    "for": 1, "with": 1, "that": 1, "was": 1, "as": 1,
    "click": -2, "subscribe": -2, "cookie": -2, "cookies": -2,
    "login": -1, "javascript": -2, "menu": -1, "copyright": -1,
    "advertisement": -2, "lorem": -3, "ipsum": -3, "buy": -1,
    "free": -1, "winner": -2, "unsubscribe": -2, "password": -1,
}


def quality_classifier(
    docs: DataFrame,
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    threshold: float = 0.0,
) -> DataFrame:
    """Linear bag-of-tokens quality classifier (the fastText-linear shape
    web-corpus pipelines use for model-based quality filtering, e.g. the
    CCNet/LLaMA wikiref classifiers): per document,

    ``clf_score = round(bias + sum(w(token)) / max(n_toks, 1), 6)`` and
    ``clf_keep = clf_score >= threshold`` (compared on the ROUNDED score, so
    the keep decision is engine-portable).

    ``model`` is a ``(token string, w int)`` DataFrame — integer weights by
    contract so the weighted sum is exact; ``None`` uses the built-in
    :data:`QUALITY_CLF_WEIGHTS` demo model.  Tokens are the repo-wide
    lowercased split-on-space convention; out-of-vocabulary tokens weigh 0.
    Every input document is emitted (NULL text scores ``bias`` with
    ``n_toks = 0``).

    Scale shape (100 TB): tokens explode MAP-SIDE (never materialized as an
    array column), the model joins as a BROADCAST hash join (a learned
    vocab of even ~10M rows is broadcast-able; beyond that, bucket both
    sides by token), and the single Exchange is the per-doc partial-agg'd
    groupBy carrying (id, two longs) per document — the same plan family as
    :func:`lang_id_trigram_scores`.  Zipf skew on hot tokens is absorbed by
    the map-side partial aggregation."""
    spark = docs.sparkSession
    if model is None:
        model = spark.createDataFrame(
            list(QUALITY_CLF_WEIGHTS.items()), schema="token string, w int"
        )
    inst = docs.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.expr(_tokens(text_col))).alias("token"),
    ).join(F.broadcast(model), on="token", how="left")
    agg = inst.groupBy(F.col("_id").alias(id_col)).agg(
        F.count("token").cast("bigint").alias("n_toks"),
        F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("w_sum"),
    )
    score = F.round(
        F.lit(float(bias))
        + F.col("w_sum") / F.greatest(F.col("n_toks"), F.lit(1)),
        6,
    )
    return agg.withColumn("clf_score", score).withColumn(
        "clf_keep", F.col("clf_score") >= F.lit(float(threshold))
    )


def source_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_mean_quality: float = 0.0,
    max_doc_share: float = 1.0,
    total_docs: int | None = None,
) -> DataFrame:
    """Host/source-level curation stats (the RefinedWeb/Dolma domain-filter
    stage: whole low-quality or over-represented hosts are dropped, not
    individual pages): per source —

    * ``n_docs`` and ``doc_share = round(n_docs / total, 6)``;
    * ``mean_quality``: mean of the per-doc :func:`with_quality` scores in
      FIXED POINT (scores quantized to integer micro-units, summed exactly,
      divided and floor-rounded once — order-independent, so the mean is
      bit-portable across engines; NULL-text docs are excluded from the
      mean, NULL when the source has no scored docs);
    * ``keep``: ``mean_quality >= min_mean_quality AND doc_share <=
      max_doc_share`` (sources with no scored docs are dropped).

    Apply back with :func:`filter_by_source` (broadcast semi-join — the
    stats table is host-cardinality, tiny next to the corpus).

    Scale shape: ONE partial-agg'd Exchange at source granularity (the
    quality features are per-row expressions fused into the scan).  The
    corpus total defaults to a windowed sum over the aggregated frame —
    fine up to millions of sources; at extreme host cardinality pass
    ``total_docs`` (known from pipeline metrics) and the window disappears.
    """
    from pyspark.sql import Window

    scored = with_quality(docs, text_col).select(
        F.col(source_col).alias("source"), "quality_score"
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("quality_score").cast("bigint").alias("n_scored"),
        F.sum(
            F.floor(F.col("quality_score") * F.lit(1_000_000.0) + F.lit(0.5))
        ).alias("_s"),
    )
    if total_docs is None:
        agg = agg.withColumn(
            "_tot", F.sum("n_docs").over(Window.partitionBy())
        )
    else:
        agg = agg.withColumn("_tot", F.lit(int(total_docs)).cast("bigint"))
    mean_q = F.when(
        F.col("n_scored") > 0,
        F.floor(F.col("_s") / F.col("n_scored") + F.lit(0.5))
        / F.lit(1_000_000.0),
    )
    out = (
        agg.withColumn("mean_quality", mean_q)
        .withColumn(
            "doc_share",
            F.round(F.col("n_docs") / F.greatest(F.col("_tot"), F.lit(1)), 6),
        )
        .withColumn(
            "keep",
            F.coalesce(
                F.col("mean_quality") >= F.lit(float(min_mean_quality)),
                F.lit(False),
            )
            & (F.col("doc_share") <= F.lit(float(max_doc_share))),
        )
    )
    return out.select("source", "n_docs", "doc_share", "mean_quality", "keep")


def filter_by_source(docs: DataFrame, stats: DataFrame, source_col: str = "source") -> DataFrame:
    """Keep only documents whose source survived :func:`source_stats` —
    a broadcast LEFT SEMI join against the kept-source set (zero corpus
    shuffle; NULL-source docs drop, as NULL never matches a join)."""
    kept = stats.where(F.col("keep")).select(F.col("source").alias("_keep_src"))
    return docs.join(
        F.broadcast(kept), docs[source_col] == F.col("_keep_src"), "left_semi"
    )


def lm_perplexity(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_gram: int = 2,
    oov_lp_micro: int = -12_000_000,
    head_max: float = 8.0,
    middle_max: float = 12.0,
) -> DataFrame:
    """CCNet-style n-gram LM perplexity scoring + head/middle/tail
    bucketing (Wenzek et al. 2020: documents are kept/weighted by which
    perplexity tercile of a Wikipedia-trained KenLM they land in — the
    model-based quality stage between the heuristic gate and a learned
    classifier).

    ``model`` is a ``(gram string, lp_micro bigint)`` DataFrame: log10
    probabilities in INTEGER MICRO-UNITS (the repo-wide fixed-point
    contract — sums stay exact and engine-portable; a real KenLM table
    quantizes to micro-units at export).  Grams are lowercased
    space-joined word ``n_gram``-grams; documents shorter than ``n_gram``
    tokens have no grams and score the OOV penalty once (a too-short doc
    is maximally surprising, matching CCNet's treatment of empty lines).
    Out-of-vocabulary grams score ``oov_lp_micro``.

    Outputs per document: ``n_grams``, ``lp_sum_micro`` (exact integer),
    ``log_ppl = round(-lp_sum_micro / 1e6 / max(n_grams, 1), 6)`` (base-10
    negative mean log-prob — the log of perplexity) and ``ppl_bucket``
    ('head' <= ``head_max`` < 'middle' <= ``middle_max`` < 'tail'),
    compared on the ROUNDED value so the bucket is bit-portable.

    Scale shape (100 TB): same plan family as :func:`quality_classifier` —
    grams explode MAP-SIDE from a once-projected token array, the model is
    a BROADCAST hash join (KenLM-pruned web vocabularies broadcast fine;
    beyond that, bucket both sides by gram), and the one Exchange is the
    per-doc partial-agg'd groupBy carrying (id, two longs).  Zipf skew on
    hot grams is absorbed by map-side partial aggregation."""
    if n_gram < 1:
        raise ValueError(f"n_gram must be >= 1, got {n_gram}")
    g = int(n_gram)
    gram_expr = (
        f"CASE WHEN _toks IS NULL THEN CAST(array() AS array<string>) "
        f"WHEN size(_toks) >= {g} THEN "
        f"transform(sequence(1, size(_toks) - {g} + 1), "
        f"i -> concat_ws(' ', slice(_toks, i, {g}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    inst = (
        _with_tokens(docs.select(F.col(id_col), F.col(text_col)), text_col)
        .withColumn("_grams", F.expr(gram_expr))
        .select(
            F.col(id_col).alias("_id"),
            F.explode_outer("_grams").alias("gram"),
        )
        .join(F.broadcast(model), on="gram", how="left")
    )
    agg = inst.groupBy(F.col("_id").alias(id_col)).agg(
        F.count("gram").cast("bigint").alias("n_grams"),
        F.coalesce(
            F.sum(F.coalesce(F.col("lp_micro"), F.lit(int(oov_lp_micro)))),
            # zero grams (short/NULL doc): one OOV penalty, not zero
            F.lit(int(oov_lp_micro)),
        )
        .cast("bigint")
        .alias("lp_sum_micro"),
    )
    log_ppl = F.round(
        -F.col("lp_sum_micro")
        / F.lit(1_000_000.0)
        / F.greatest(F.col("n_grams"), F.lit(1)),
        6,
    )
    out = agg.withColumn("log_ppl", log_ppl)
    bucket = (
        F.when(F.col("log_ppl") <= F.lit(float(head_max)), "head")
        .when(F.col("log_ppl") <= F.lit(float(middle_max)), "middle")
        .otherwise("tail")
    )
    return out.withColumn("ppl_bucket", bucket)


def tokenize_encode(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "token",
    token_id_col: str = "token_id",
    oov_id: int = 0,
    method: str = "broadcast_map",
) -> DataFrame:
    """Encode each document's token stream into integer ids against a
    ``(token, token_id)`` vocabulary — the text -> model-input stage.
    Tokens are the same lowercased non-empty whitespace splits as
    :func:`token_topk` (build the vocab with it and the normalization
    matches by construction); out-of-vocabulary tokens encode as
    ``oov_id``.  Adds ``token_ids array<bigint>`` (position-ordered) and
    ``n_oov bigint``; NULL text -> NULL in both, zero-token text -> empty
    array / 0.

    Two physical strategies, results identical (tested):

    * ``method='broadcast_map'`` (default, the 10^12-document shape): the
      vocab is collected (EAGER — vocabularies are bounded: 10^4-10^6
      rows, the same contract as the gazetteer broadcast) and shipped once
      per executor as a broadcast dict; encoding is one Arrow-batched
      ``mapInPandas`` pass — ZERO shuffle, the corpus is never exploded.
      Python-side ``str.split(' ')``/``str.lower()`` mirror the JVM
      expressions (ASCII-exact; exotic-locale casing is out of scope for
      the fixture corpora, same caveat as every lower() oracle).
    * ``method='join'`` (pure-JVM declarative alternative): posexplode ->
      broadcast left join on the token -> per-doc regroup via
      ``array_sort(collect_list(struct(pos, id)))``.  Lazy, whole-plan
      optimizable, but the regroup Exchange carries every token instance —
      at web scale that shuffle is the corpus; prefer the default.
    """
    if method not in ("broadcast_map", "join"):
        raise ValueError(f"unknown method {method!r}")
    for out_name in ("token_ids", "n_oov"):
        if out_name in docs.columns:
            raise ValueError(
                f"output column {out_name!r} already exists; rename it first"
            )
    oov = int(oov_id)
    if method == "join":
        toks = docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("_eid"),
            F.posexplode(F.expr(_tokens(text_col))).alias("_pos", "_tok"),
        )
        v = vocab.select(
            F.col(token_col).alias("_tok"),
            F.col(token_id_col).cast("bigint").alias("_tid"),
        )
        enc = (
            toks.join(F.broadcast(v), on="_tok", how="left")
            .groupBy("_eid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(_pos, "
                    f"coalesce(_tid, {oov}L) AS tid))), x -> x.tid)"
                ).alias("_ids"),
                F.sum(
                    F.when(F.col("_tid").isNull(), 1).otherwise(0)
                ).cast("bigint").alias("_noov"),
            )
        )
        joined = docs.join(
            enc, on=docs[id_col] == enc["_eid"], how="left"
        ).drop("_eid")
        has_text = F.col(text_col).isNotNull()
        return joined.withColumns(
            {
                "token_ids": F.when(
                    has_text,
                    F.coalesce(
                        F.col("_ids"),
                        F.expr("CAST(array() AS array<bigint>)"),
                    ),
                ),
                "n_oov": F.when(
                    has_text, F.coalesce(F.col("_noov"), F.lit(0).cast("bigint"))
                ),
            }
        ).drop("_ids", "_noov")

    # broadcast_map: vocab dict on executors, one Arrow pass, zero shuffle
    from pyspark.sql.types import ArrayType, LongType, StructType

    rows = vocab.select(token_col, token_id_col).collect()
    vmap = {r[0]: int(r[1]) for r in rows}
    bc = docs.sparkSession.sparkContext.broadcast(vmap)
    # copy the field list: StructType.add mutates it in place, and
    # StructType(df.schema.fields) would alias the input frame's own schema
    schema = StructType(list(docs.schema.fields)).add(
        "token_ids", ArrayType(LongType())
    ).add("n_oov", LongType())

    def _encode(batches):
        m = bc.value
        for pdf in batches:
            ids, noov = [], []
            for t in pdf[text_col]:
                if t is None:
                    ids.append(None)
                    noov.append(None)
                    continue
                ws = [w for w in t.lower().split(" ") if w != ""]
                ids.append([m.get(w, oov) for w in ws])
                noov.append(sum(1 for w in ws if w not in m))
            pdf = pdf.assign(token_ids=ids, n_oov=noov)
            yield pdf

    return docs.mapInPandas(_encode, schema=schema)
