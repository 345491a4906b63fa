"""Public API facade — everything a reference user needs, in one import.

    from literature_to_facts_spark import api

    triples = api.extract_triples(spark, docs_df, sides)     # learn
    dv      = api.dict_view(raw_triples)                     # dict output
    api.export_n3(triples, "knowledge.n3")                  # n3 output
    api.counterpart_summary(...); api.grb_reaction_summary(...)  # contemplate
    api.parse_document("gcn", text)                          # point query
                                                             # (tests/test_gcn.py shape)
"""

from __future__ import annotations

from typing import Optional

from literature_to_facts_spark.engine.canonicalize import (  # noqa: F401
    canonical_entities,
)
from literature_to_facts_spark.engine.contemplate import (  # noqa: F401
    counterpart_matches,
    counterpart_summary,
    grb_reaction_summary,
)
from literature_to_facts_spark.engine.dictview import (  # noqa: F401
    dict_view,
    rows_to_python,
)
from literature_to_facts_spark.engine.graph import (  # noqa: F401
    export_n3,
    export_turtle,
    n3_lines,
    publish_batches,
    read_triples,
    turtle_blocks,
    write_triples,
)
from literature_to_facts_spark.engine.linking import (  # noqa: F401
    link_entities,
    link_triples,
)
from literature_to_facts_spark.engine.pipeline import (  # noqa: F401
    extract_triples,
    make_sides,
)
from literature_to_facts_spark.extractors.registry import (  # noqa: F401
    battery,
    register_extractor,
    register_kind,
    unregister_extractor,
    unregister_kind,
)
from literature_to_facts_spark.shim import reference_shim as _shim
from literature_to_facts_spark.streaming.incremental import (  # noqa: F401
    run_incremental,
)


def parse_document(
    kind: str,
    text: str,
    sides: Optional[_shim.SideTables] = None,
    output: str = "dict",
):
    """Point query: one document through the reference's
    ``workflows_for_input(..., output=...)`` surface (facts/core.py:70-143).

    * ``output='dict'`` -> predicate dict (scalar / sorted set, the shape the
      reference's own tests consume — tests/test_gcn.py:10-21);
    * ``output='list'`` -> the space-joined triple lines (facts/core.py:126);
    * ``output='n3'``   -> N-Triples-style serialization of the doc's facts.

    Runs driver-side through the parity oracle; for bulk use go through
    :func:`extract_triples`."""
    doc = _shim.decode_doc(kind, text)
    _, triples = _shim.extract_doc_facts(kind, doc, sides or _shim.SideTables())
    if output == "dict":
        return _shim.dict_view_of_facts(triples)
    if output == "list":
        return [" ".join(t) for t in triples]
    if output == "n3":
        return "\n".join(sorted(f"{s} {p} {o} ." for s, p, o in triples)) + "\n"
    raise ValueError(f"unknown output {output!r}")  # facts/core.py:143
