"""The extraction pipeline: documents -> (subj, pred, obj) triples.

Spark shape (SURVEY.md §3.1):

    spark.read(... documents ...)                      # url, text pruned scan
      .filter(kind != 'other')                         # pushable url prefixes
      .mapInPandas(batch_extract, TRIPLE_SCHEMA)       # Arrow batches, one
                                                       #   pass: prep -> all
                                                       #   extractors -> melt
                                                       #   -> valuable filter
      .repartition(pred).dropDuplicates(...)           # dedup_triples: the
                                                       #   one shuffle
      ... dict view / linking downstream

Design notes for 100 TB scale:
* the valuable filter (facts/core.py:121-123) is computed *inside* the batch
  — all triples of a doc are produced together, so the filter needs NO
  shuffle (the declarative window variant exists in engine/valuable.py for
  the oracle checks);
* side tables ride along as Spark broadcast variables (driver-fetched,
  executor-local joins — the reference fetched them per doc over HTTP);
* ``html`` is never read: the pipeline selects only (url, text), letting
  Parquet/Iceberg column pruning skip the heavy binary column.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import weakref
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark import Broadcast, SparkContext, TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from literature_to_facts_spark.extractors.arxiv import ARXIV_BATCH_EXTRACTORS, prepare_arxiv
from literature_to_facts_spark.extractors.atel import ATEL_BATCH_EXTRACTORS, prepare_atel
from literature_to_facts_spark.extractors.base import DYNAMIC, Sides
from literature_to_facts_spark.extractors.gcn import (
    GCN_BATCH_EXTRACTORS,
    prepare_ads_side,
    prepare_amon_side,
    prepare_gcn,
)
from literature_to_facts_spark.engine.kinds import (
    ARXIV_URL_PREFIX,
    ATEL_URL_PREFIX,
    GCN_URL_PREFIX,
    KIND_ARXIV,
    KIND_ATEL,
    KIND_GCN,
    kind_column,
)
from literature_to_facts_spark.functions.literals import (
    lexical_and_dtype,
    n3_from_lexical,
)

TRIPLE_COLS = ["url", "subj", "pred", "obj", "dtype", "obj_n3"]
TRIPLE_SCHEMA = ", ".join(f"{c} string" for c in TRIPLE_COLS)
TRIPLE_KEY = ["pred", "subj", "obj_n3"]
LINEAGE_PRED = "__lineage__"

_PREPARERS = {
    KIND_GCN: prepare_gcn,
    KIND_ATEL: prepare_atel,
    KIND_ARXIV: prepare_arxiv,
}

_DEFAULT_BATTERIES = {
    KIND_GCN: GCN_BATCH_EXTRACTORS,
    KIND_ATEL: ATEL_BATCH_EXTRACTORS,
    KIND_ARXIV: ARXIV_BATCH_EXTRACTORS,
}


def snapshot_batteries() -> dict:
    """Plan-time snapshot of the (possibly plugin-extended) batteries.

    Executors run separate Python processes that re-import the modules, so
    driver-side registry mutations (extractors/registry.py) must travel with
    the job — the snapshot is cloudpickled into the mapInPandas closure.
    Includes plugin kinds registered via registry.register_kind."""
    from literature_to_facts_spark.extractors import registry

    out = {k: list(v) for k, v in _DEFAULT_BATTERIES.items()}
    for kind in registry._BATTERIES:
        if kind not in out:
            out[kind] = registry.battery(kind)
    return out


def snapshot_preparers() -> dict:
    """Plan-time snapshot of preparers: built-in module preparers + plugin
    preparers (incl. the problematic-identity fallback closures)."""
    from literature_to_facts_spark.extractors import registry

    out = dict(_PREPARERS)
    out.update(registry.plugin_preparers())
    return out


def _is_null(v) -> bool:
    if v is None:
        return True
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        return False
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _pyval(v):
    if isinstance(v, np.generic):
        return v.item()
    return v


# the four characters quote_encode escapes (functions/literals.py) — the
# clean/dirty split below fast-paths strings needing no escaping; the
# crosscheck property test (tests/test_literals.py) pins the two paths equal
_NEEDS_ESCAPE = re.compile(r'[\\\n"\r]')


def _flatten_values(idx: np.ndarray, kept: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """List values fan out (facts/core.py:96-101): (row positions, flat values).

    Scalars pass through; list/tuple/ndarray values repeat their row position
    once per element (an empty list therefore emits nothing).
    """
    n = len(kept)
    islist = np.fromiter(
        (isinstance(v, (list, tuple, np.ndarray)) for v in kept), bool, n
    )
    if not islist.any():
        return idx, kept
    lens = np.ones(n, np.int64)
    lens[islist] = [len(v) for v in kept[islist]]
    out: list = []
    for v, l in zip(kept, islist):
        if l:
            out.extend(v)
        else:
            out.append(v)
    flat = np.empty(len(out), dtype=object)
    flat[:] = out
    return np.repeat(idx, lens), flat


def _render_values(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (lexical, dtype, n3) rendering of an object value array.

    Semantics are exactly ``lexical_and_dtype`` + ``n3_from_lexical`` applied
    per value (pinned by tests/test_literals.py + the parity/fuzz suites);
    this columnar form replaces the per-fact Python call chain that was the
    hottest loop in the extraction batch (~45% of batch CPU profiled).
    """
    n = len(vals)
    gen = np.fromiter((isinstance(x, np.generic) for x in vals), bool, n)
    if gen.any():  # np scalar -> python scalar first (mirrors _pyval)
        vals = vals.copy()
        vals[gen] = [x.item() for x in vals[gen]]
    is_b = np.fromiter((isinstance(x, bool) for x in vals), bool, n)
    is_i = np.fromiter((isinstance(x, int) for x in vals), bool, n) & ~is_b
    is_f = np.fromiter((isinstance(x, float) for x in vals), bool, n)
    lex = np.empty(n, dtype=object)
    lex[:] = [str(x) for x in vals]
    if is_b.any():
        lex[is_b] = [s.lower() for s in lex[is_b]]
    from literature_to_facts_spark.functions.literals import (
        DTYPE_BOOLEAN,
        DTYPE_DOUBLE,
        DTYPE_INTEGER,
        DTYPE_STRING,
        XSD_BOOLEAN,
        XSD_DOUBLE,
        XSD_INTEGER,
        quote_encode,
    )

    dtypes = np.full(n, DTYPE_STRING, dtype=object)
    dtypes[is_b] = DTYPE_BOOLEAN
    dtypes[is_i] = DTYPE_INTEGER
    dtypes[is_f] = DTYPE_DOUBLE
    n3 = np.empty(n, dtype=object)
    for mask, xsd in ((is_b, XSD_BOOLEAN), (is_i, XSD_INTEGER), (is_f, XSD_DOUBLE)):
        if mask.any():
            n3[mask] = '"' + lex[mask] + '"^^<' + xsd + ">"
    is_s = ~(is_b | is_i | is_f)
    if is_s.any():
        search = _NEEDS_ESCAPE.search
        s_idx = np.flatnonzero(is_s)
        dirty = np.fromiter((search(lex[i]) is not None for i in s_idx), bool, len(s_idx))
        clean_idx = s_idx[~dirty]
        n3[clean_idx] = '"' + lex[clean_idx] + '"'
        for i in s_idx[dirty]:
            n3[i] = quote_encode(lex[i])
    return lex, dtypes, n3


def _rowwise_fallback(spec, prep: pd.DataFrame, sides: Sides) -> dict:
    """Bisecting re-run of a batch extractor that raised: each failing ROW
    contributes nothing (reference semantics, facts/core.py:114-115),
    surviving rows keep their facts.

    The batch is split recursively — a half that succeeds is kept wholesale,
    a half that fails splits again — so p poisoned rows in a batch of n cost
    O(p * log n) extractor re-runs instead of the previous n single-row
    pandas-frame constructions.  Sub-batches are visited left to right, so
    predicate discovery order (and therefore emission order downstream)
    matches the old per-row loop.  Results are re-assembled into the normal
    {pred: Series-on-prep.index} shape."""
    pieces: list[tuple] = []

    def run(frame: pd.DataFrame) -> None:
        if len(frame) == 0:
            return
        try:
            out = spec.fn(frame, sides)
        except Exception:
            if len(frame) == 1:
                return  # the poisoned row: contributes nothing
            mid = len(frame) // 2
            run(frame.iloc[:mid])
            run(frame.iloc[mid:])
            return
        if out:
            pieces.append((frame.index, out))

    run(prep)
    collected: dict[str, dict] = {}
    for idx, out in pieces:
        for pred, series in out.items():
            if hasattr(series, "to_numpy"):
                # POSITIONAL alignment, like the normal batch path's
                # series.to_numpy(): a default-indexed Series (legal on the
                # happy path) must not be matched by label or its facts land
                # on the wrong documents
                vals = series.to_numpy(dtype=object)
                for i, v in zip(idx, vals):
                    if not _is_null(v):
                        collected.setdefault(pred, {})[i] = v
            elif not _is_null(series):
                # scalar return (reference-style row functions): the old
                # per-row loop assigned it to EVERY row it re-ran, so a
                # multi-row half gets it on every row too
                for i in idx:
                    collected.setdefault(pred, {})[i] = series
    return {
        pred: pd.Series(vals, dtype=object).reindex(prep.index)
        for pred, vals in collected.items()
    }


def extract_kind_batch(
    kind: str,
    docs: pd.DataFrame,
    sides: Sides,
    extractors: Optional[list] = None,
    preparer=None,
) -> tuple[pd.DataFrame, int]:
    """Run the full extractor battery for one kind over one batch.

    Returns (long-format triples incl. non-valuable, n_identity_failures);
    the valuable filter is applied by the caller per document.
    """
    prepare = preparer if preparer is not None else _PREPARERS[kind]
    if extractors is None:
        extractors = _DEFAULT_BATTERIES[kind]
    prep, n_bad = prepare(docs)
    if len(prep) == 0:
        return pd.DataFrame(columns=TRIPLE_COLS), n_bad

    urls = prep["url_page"] if "url_page" in prep.columns else prep["url"]
    subjs = prep["subj"]
    u = urls.to_numpy(dtype=object)
    s = subjs.to_numpy(dtype=object)
    rowids = prep.index.to_numpy()  # per-input-row identity for the filter

    # columnar accumulation: (row positions, pred array, flat values) chunks,
    # rendered in ONE vectorized pass at the end; emission order is extractor,
    # then pred, then row, then list element.
    chunk_pos: list = []
    chunk_pred: list = []
    chunk_val: list = []

    for spec in extractors:
        try:
            out = spec.fn(prep, sides)
        except Exception:
            # The reference swallows per-DOCUMENT extractor exceptions
            # (facts/core.py:114-115).  A vectorized extractor can only fail
            # for the whole batch, so isolate the offender: re-run row by
            # row, keeping the rows that succeed.  Slow, but only on the
            # failure path — and one poisoned document must never kill a
            # whole task at 100 TB scale.
            out = _rowwise_fallback(spec, prep, sides)
        if not out:
            continue
        dynamic = out.pop(DYNAMIC, None)
        for pred, series in out.items():
            vals = series.to_numpy(dtype=object)
            keep = ~pd.isna(vals)  # lists/dicts/arrays are "present"
            idx = np.flatnonzero(keep)
            if len(idx) == 0:
                continue
            pos, flat = _flatten_values(idx, vals[idx])
            if len(pos) == 0:
                continue
            chunk_pos.append(pos)
            chunk_pred.append(np.full(len(pos), pred, dtype=object))
            chunk_val.append(flat)
        if dynamic is not None:
            dvals = dynamic.to_numpy(dtype=object)
            d_pos: list = []
            d_pred: list = []
            d_val: list = []
            for i in range(len(dvals)):
                d = dvals[i]
                if not isinstance(d, dict):
                    continue
                for pred, v in d.items():
                    if _is_null(v):
                        continue
                    vs = v if isinstance(v, (list, tuple, np.ndarray)) else [v]
                    for _v in vs:
                        d_pos.append(i)
                        d_pred.append(pred)
                        d_val.append(_v)
            if d_pos:
                chunk_pos.append(np.asarray(d_pos, dtype=np.int64))
                p_arr = np.empty(len(d_pred), dtype=object)
                p_arr[:] = d_pred
                v_arr = np.empty(len(d_val), dtype=object)
                v_arr[:] = d_val
                chunk_pred.append(p_arr)
                chunk_val.append(v_arr)

    if not chunk_pos:
        return pd.DataFrame(columns=TRIPLE_COLS + ["_rowid"]), n_bad
    pos = np.concatenate(chunk_pos)
    preds = np.concatenate(chunk_pred)
    vals = np.concatenate(chunk_val)
    lex, dtypes, n3 = _render_values(vals)
    triples = pd.DataFrame(
        {
            "url": u[pos],
            "subj": s[pos],
            "pred": preds,
            "obj": lex,
            "dtype": dtypes,
            "obj_n3": n3,
            "_rowid": rowids[pos],
        }
    )
    return triples, n_bad


def apply_valuable_filter(triples: pd.DataFrame) -> pd.DataFrame:
    """facts/core.py:121-123: keep a doc's facts only if 'mentions' occurs in
    any joined triple line.

    Grouped by the per-input-row id (the reference's filtering unit is the
    *document row*: crawl duplicates sharing a NUMBER — or even a url — are
    each filtered independently; both cases caught by the hypothesis
    fuzzer).  Local per batch — all triples of a doc are emitted together."""
    if len(triples) == 0:
        return triples
    has = triples["pred"].str.contains("mentions", regex=False) | triples[
        "obj_n3"
    ].str.contains("mentions", regex=False)
    valuable_rows = set(triples.loc[has, "_rowid"])
    return triples[triples["_rowid"].isin(valuable_rows)]


def extract_batch(
    docs: pd.DataFrame,
    sides: Sides,
    batteries: Optional[dict] = None,
    preparers: Optional[dict] = None,
    metrics: Optional[dict] = None,
) -> pd.DataFrame:
    """documents batch (url, text, kind) -> valuable triples batch.

    ``metrics``, when given, accumulates the lineage counters
    ``docs_by_kind`` and ``identity_failures`` in place.
    """
    parts = []
    kinds = [KIND_GCN, KIND_ATEL, KIND_ARXIV]
    if batteries:  # plugin kinds after the built-ins, registration order
        kinds += [k for k in batteries if k not in kinds]
    for kind in kinds:
        sub = docs[docs["kind"] == kind]
        if len(sub) == 0:
            continue
        extractors = batteries.get(kind) if batteries else None
        preparer = preparers.get(kind) if preparers else None
        triples, n_bad = extract_kind_batch(kind, sub, sides, extractors, preparer)
        if metrics is not None:
            by_kind = metrics["docs_by_kind"]
            by_kind[kind] = by_kind.get(kind, 0) + len(sub)
            metrics["identity_failures"] += n_bad
        parts.append(apply_valuable_filter(triples))
    if not parts:
        return pd.DataFrame(columns=TRIPLE_COLS)
    return pd.concat(parts, ignore_index=True)[TRIPLE_COLS]


def make_sides(
    balrog: Optional[pd.DataFrame] = None,
    amon_notices: Optional[pd.DataFrame] = None,
    ads_authors: Optional[pd.DataFrame] = None,
) -> Sides:
    """Pre-parse raw side tables into executor-ready form (AMON notices are
    parsed ONCE here, not per document as the reference does)."""
    return Sides(
        balrog=balrog if balrog is not None else pd.DataFrame(columns=["url_json"]),
        amon=prepare_amon_side(amon_notices)
        if amon_notices is not None and len(amon_notices)
        else pd.DataFrame(columns=["url", "fields", "isot", "invalid"]),
        ads=prepare_ads_side(ads_authors),
    )


_extract_calls = itertools.count()
# id(sides) -> (weak reference to the Sides, its SparkContext, its broadcast)
_side_broadcasts: dict[int, tuple] = {}
# (SparkContext, broadcast) whose Sides is gone; a plan may still hold it
_retired: list[tuple] = []
# (JVM weak reference to a retired broadcast, the driver file of its value)
_released: list[tuple] = []


def side_broadcast(sc: SparkContext, sides: Sides) -> Broadcast:
    """The one broadcast of ``sides`` on ``sc``: every ``extract_triples``
    call with the same Sides object reuses it, so a driver that extracts
    bucket after bucket, tick after tick, pickles its side tables once.

    A broadcast is released only when nothing can still execute against it:
    its Sides object has been collected, so no new plan takes it, and the
    JVM has collected its broadcast object, so no plan holds it (Spark's
    ContextCleaner drops the broadcast's blocks on the same cue).  Then the
    pickled value, a file in ``sc._temp_dir``, is deleted.  Checked on every
    call; a stopped context keeps its files until the JVM exits."""
    while _retired:
        old_sc, bc = _retired.pop()
        if old_sc._jsc is not None:
            ref = old_sc._jvm.java.lang.ref.WeakReference(bc._jbroadcast)
            _released.append((ref, bc._path))
    for entry in list(_released):
        if entry[0].get() is None:
            _released.remove(entry)
            if os.path.exists(entry[1]):
                os.unlink(entry[1])

    key = id(sides)
    hit = _side_broadcasts.get(key)
    if hit is not None and hit[0]() is sides and hit[1] is sc:
        return hit[2]
    bc = sc.broadcast(sides)

    def retire(ref, key=key, sc=sc, bc=bc):
        if _side_broadcasts.get(key, (None,))[0] is ref:
            del _side_broadcasts[key]
        _retired.append((sc, bc))

    _side_broadcasts[key] = (weakref.ref(sides, retire), sc, bc)
    return bc


def relevant_docs(docs: DataFrame) -> DataFrame:
    """Prune to extractable kinds with pushable url-prefix predicates and
    prune columns to (url, text) — never reads ``html``.  Plugin-kind
    prefixes participate (snapshotted at plan time)."""
    from literature_to_facts_spark.engine.kinds import PLUGIN_KINDS

    cond = (
        F.col("url").startswith(GCN_URL_PREFIX)
        | F.col("url").startswith(ATEL_URL_PREFIX)
        | F.col("url").startswith(ARXIV_URL_PREFIX)
    )
    for meta in PLUGIN_KINDS.values():
        cond = cond | F.col("url").startswith(meta["prefix"])
    return (
        docs.where(cond)
        .select("url", "text")
        .withColumn("kind", kind_column(F.col("url")))
    )


def extract_triples(
    spark: SparkSession,
    docs: DataFrame,
    sides: Optional[Sides] = None,
    dedup: bool = True,
    run_id: Optional[str] = None,
) -> DataFrame:
    """documents DataFrame -> triples DataFrame (the KG-construction core).

    ``dedup=True`` adds the rdflib-Graph set semantics
    (facts/core.py:197-219) via ``dedup_triples`` — the only shuffle in the
    extraction phase, hash-partitioned on ``pred`` so ``write_triples``
    commits one file per predicate; AQE coalesces its partitions.

    ``run_id`` appends one lineage row per task (pred ``LINEAGE_PRED``,
    subj ``run_id``) whose ``obj`` is the JSON of the task's metrics

        {partition_id, docs_in, docs_by_kind, identity_failures,
         docs_valuable, triples_out}

    counted in the same single pass as the data.  The row's ``obj_n3`` is
    ``partition:<pid>``, so it is unique per task and survives the dedup.
    """
    bc = side_broadcast(spark.sparkContext, sides or make_sides())
    batteries = snapshot_batteries()  # carries driver-registered plugins
    preparers = snapshot_preparers()  # incl. problematic-identity fallbacks

    # ``_call`` keeps each call its own computation, as when every call had
    # its own broadcast: a function pickled identically to a cached frame's
    # would be answered from that cache, hiding the extraction's plan and jobs
    def run(
        batches: Iterator[pd.DataFrame], _call: int = next(_extract_calls)
    ) -> Iterator[pd.DataFrame]:
        local_sides = bc.value
        m = {
            "docs_in": 0,
            "docs_by_kind": {},
            "identity_failures": 0,
            "docs_valuable": 0,
            "triples_out": 0,
        }
        for pdf in batches:
            out = extract_batch(pdf, local_sides, batteries, preparers, m)
            m["docs_in"] += len(pdf)
            m["docs_valuable"] += out["subj"].nunique()
            m["triples_out"] += len(out)
            if len(out):
                yield out
        if run_id is not None:
            ctx = TaskContext.get()
            m["partition_id"] = pid = ctx.partitionId() if ctx is not None else -1
            key = f"partition:{pid}"
            row = (key, run_id, LINEAGE_PRED, json.dumps(m, sort_keys=True), "json", key)
            yield pd.DataFrame([row], columns=TRIPLE_COLS)

    triples = relevant_docs(docs).mapInPandas(run, schema=TRIPLE_SCHEMA)
    return dedup_triples(triples) if dedup else triples


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Graph set semantics (facts/core.py:197-219): distinct on
    ``TRIPLE_KEY``, computed in ONE shuffle hash-partitioned on ``pred``.

    Hashing on a subset of the dedup key satisfies the aggregate's
    distribution, so ``repartition("pred")`` is that aggregate's own
    exchange, not a second one.  Every predicate then lives in exactly one
    task, and ``engine.graph.write_triples`` commits one file per ``pred=``
    directory instead of one per (task, predicate).  ``pred`` leads the
    key: the aggregate over string columns is a sort aggregate, and its
    sort then already orders each task's rows by ``pred``, so the
    pred-partitioned write plans no ``Sort`` of its own and each file comes
    out sorted by ``subj``.  No partition count is given: AQE still
    coalesces post-shuffle partitions by size.  Every graph-table dedup
    goes through here."""
    return triples.repartition("pred").dropDuplicates(TRIPLE_KEY)
