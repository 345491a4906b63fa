"""Vectorized extractor framework.

The reference registers row-at-a-time ``@workflow`` functions in a global
list and dispatches on input type (facts/core.py:29-39,79-84).  Here each
extractor is a *batch* function over a prepared pandas DataFrame (one Arrow
batch of documents of a single kind), returning ``{predicate: pd.Series}``:

* a Series element may be None/NaN (no fact), a scalar (one triple), or a
  list (one triple per element — facts/core.py:96-101);
* the special key ``DYNAMIC`` maps to a Series of dicts for extractors whose
  predicate names are data-dependent (the AMON notice fields,
  facts/gcn.py:373).

Everything heavy (regex scans, date parsing) runs through pandas ``.str``
ops / ``to_datetime`` over the whole batch — no per-row Python in the scan
path, per BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import pandas as pd

# Parity-critical: without this, ``fillna`` chains over all-NaN extract
# results silently downcast object -> float64 and break ``.str`` accessors
# in sparsely-matching batches (small Arrow batches routinely contain no
# match for a given extractor).
pd.set_option("future.no_silent_downcasting", True)

DYNAMIC = "__dynamic__"


@dataclass(frozen=True)
class Sides:
    """Pre-fetched side tables (pandas), broadcast to executors.

    Replaces the reference's in-extractor HTTP calls with broadcast joins
    (SURVEY.md §2.1 "network side-lookups").  Frozen: a Sides object is
    broadcast once and every extraction with it reuses that broadcast
    (``pipeline.side_broadcast``).
    """

    balrog: pd.DataFrame = field(default_factory=pd.DataFrame)
    amon: pd.DataFrame = field(default_factory=pd.DataFrame)  # pre-parsed
    ads: pd.DataFrame = field(default_factory=pd.DataFrame)


@dataclass
class ExtractorSpec:
    name: str
    fn: Callable[[pd.DataFrame, Sides], dict]


def empty_obj(index) -> pd.Series:
    return pd.Series([None] * len(index), index=index, dtype=object)


def gated(p: pd.DataFrame, mask: pd.Series, compute: Callable) -> dict:
    """Run ``compute`` on the masked row subset only; reindex outputs back.

    For extractors whose every output is None unless a cheap literal marker
    is present in the text (e.g. "INTEGRAL", "IceCube"), this turns K
    expensive regex passes over the whole batch into one ``contains`` pass
    plus K passes over the (usually small) candidate subset.  Semantically
    invisible: non-candidates get NaN, exactly what the ungated extractor
    emitted for them (pinned by the parity + fuzz suites)."""
    mask = mask.fillna(False).astype(bool)
    if not mask.any():
        return {}
    out = compute(p[mask])
    return {k: v.reindex(p.index) for k, v in out.items()}


def make_problematic_preparer(type_name: str) -> Callable:
    """Preparer for a plugin kind with NO identity extractor.

    The reference mints ``paper#problematic<TypeName><sha224(repr(v))[:8]>``
    as the subject when no identity workflow exists for an input type
    (facts/core.py:54 ``workflow_id`` default); built-in kinds never hit it
    (their identities are registered and re-raise on failure), but plugin
    kinds without identity must keep emitting facts under the problematic
    subject rather than being dropped.
    """
    import hashlib

    from literature_to_facts_spark.functions.literals import PAPER_NS

    ns = PAPER_NS + "#problematic"

    def prepare(docs: pd.DataFrame) -> tuple[pd.DataFrame, int]:
        prep = pd.DataFrame(index=docs.index)
        prep["url"] = docs["url"]
        prep["text"] = docs["text"]
        prep["subj"] = [
            ns + type_name + hashlib.sha224(repr(t).encode()).hexdigest()[:8]
            for t in docs["text"]
        ]
        return prep, 0

    return prepare
