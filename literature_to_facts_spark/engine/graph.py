"""Graph materialization: partitioned triples table + N3 export.

The reference accumulates every fact into one in-memory ``rdflib.Graph`` via
per-fact SPARQL INSERT (facts/core.py:197-226) and serializes N3; the sink is
a single file (facts/learn.py:70).  At 10^12-doc scale the graph is a
partitioned table:

* storage layout partitioned by ``pred`` — the predicate vocabulary is small
  and bounded (~60 local names), queries like `contemplate` filter on
  predicate, so partition pruning skips everything else;
* graph set-semantics = ``pipeline.dedup_triples``: ``dropDuplicates(pred,
  subj, obj_n3)`` inside its own ``Exchange hashpartitioning(pred)``
  (applied by the extraction pipeline, ``compact_graph`` and
  ``linking.link_triples``), so each predicate lives in one task and the
  pred-partitioned write commits one file per ``pred=`` directory, not one
  per (task, predicate); the dedup's sort already orders rows by ``pred``,
  so the write adds no ``Sort`` and each file is sorted by ``subj``;
* every file written also costs a ``.crc`` sidecar and, without Hadoop
  native IO, a ``chmod`` that Hadoop's ``Shell`` forks for each data file,
  ``.crc`` and directory: the 59,569 deduplicated triples of perfbench's
  dense seed 1, written warm on a 4-core host, fork about 530 processes
  and cost 2.65-2.79 CPU-s as 85 ``pred=`` files, against 23 processes and
  0.58-0.83 CPU-s as one file.  A flatter layout is blocked by the
  benchmark, not the engine: perfbench's ``DuckOracle`` reads
  ``graph/*/*.parquet`` with ``hive_types={'pred': VARCHAR}``, which
  matches no file of a flat graph and raises ``Unknown hive_type: "pred"
  does not appear to be a partition`` over files one level down in
  non-``pred=`` directories, so a layout change needs a benchmark change
  first;
* the price is ONE writer per predicate: the largest predicate bounds the
  write stage.  It is 6.2% of dense seed 14's 58,658 triples (perfbench
  ``dense_oneshot``), so writers stay balanced up to about 16 shuffle
  partitions.  Past that, add a ``subj``-derived spread term (e.g.
  ``pmod(xxhash64(subj), k)``) to both the partition key and the dedup key:
  equal triples still meet, so set semantics hold, and each predicate gets
  ``k`` files.  Left out until a measured input needs it;
* N3 export is N-Triples-style lines (a subset of N3; the reference's rdflib
  pretty-printing with ``;``/``,`` shorthand is a formatting, not semantic,
  difference) written distributed via ``write.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from literature_to_facts_spark.engine.pipeline import TRIPLE_SCHEMA, dedup_triples
from literature_to_facts_spark.functions.literals import PAPER_NS

N3_PREFIX_HEADER = f"@prefix paper: <{PAPER_NS}#> .\n"


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize the graph table, partitioned by predicate local name."""
    triples.write.mode(mode).partitionBy("pred").parquet(path)


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    """Read a triples table with the pinned schema: no schema-inference job,
    and ``pred`` stays a string even where a partition value looks numeric."""
    return spark.read.schema(TRIPLE_SCHEMA).parquet(path)


def n3_lines(triples: DataFrame) -> DataFrame:
    """One N-Triples-style line per triple (``learn`` output form,
    facts/core.py:125-126 joins the token triple with spaces)."""
    subj_tok = F.concat(F.lit("<"), F.col("subj"), F.lit(">"))
    pred_tok = F.concat(
        F.lit("<" + PAPER_NS + "#"), F.col("pred"), F.lit(">")
    )
    return triples.select(
        F.concat_ws(" ", subj_tok, pred_tok, F.col("obj_n3"), F.lit(".")).alias("line")
    )


def export_n3(triples: DataFrame, path: str | None = None) -> str | None:
    """Small-graph driver-side export (tests / knowledge.n3 parity); for the
    large-scale path use ``n3_lines(t).write.text(path)``."""
    lines = [r["line"] for r in n3_lines(triples).collect()]
    text = N3_PREFIX_HEADER + "\n".join(sorted(lines)) + "\n"
    if path is not None:
        with open(path, "w") as f:
            f.write(text)
        return None
    return text


def _qname(uri: str) -> str:
    """Compact a URI into the ``paper:`` prefix where possible (rdflib qname
    behaviour for the single bound namespace), else angle-bracket it."""
    if uri.startswith(PAPER_NS + "#"):
        local = uri[len(PAPER_NS) + 1 :]
        # Turtle PN_LOCAL: may contain '-'/'.' but must not START with
        # '-'/'.' nor END with '.' — 'paper:foo.' would be unparseable
        if (
            local
            and (local[0].isalnum() or local[0] == "_")
            and not local.endswith(".")
            and all(c.isalnum() or c in "_-." for c in local)
        ):
            return "paper:" + local
    return f"<{uri}>"


def _render_turtle_block(subj: str, po: list) -> str:
    """One Turtle statement block for a subject: predicates joined with
    ``;`` (4-space continuation indent), repeated-predicate objects joined
    with ``,`` (8-space indent) — the rdflib turtle serializer's shorthand
    shape (facts/core.py:221 serializes via rdflib; exact byte parity with
    rdflib is not asserted — rdflib is absent here — but the grammar and
    grouping match)."""
    parts = []
    cur_pred = None
    objs: list = []
    groups: list = []
    for pred, obj in po:
        if pred != cur_pred:
            if cur_pred is not None:
                groups.append((cur_pred, objs))
            cur_pred, objs = pred, []
        objs.append(obj)
    if cur_pred is not None:
        groups.append((cur_pred, objs))
    for pred, objs in groups:
        obj_txt = (",\n" + " " * 8).join(objs)
        parts.append(f"{_qname(PAPER_NS + '#' + pred)} {obj_txt}")
    body = (" ;\n" + " " * 4).join(parts)
    return f"{_qname(subj)} {body} ."


def turtle_blocks(triples: DataFrame) -> DataFrame:
    """(block string) per subject — rdflib-style Turtle shorthand, computed
    distributed: ONE groupBy(subj) shuffle, deterministic ordering
    (predicates and objects sorted), rendering in an Arrow-batched
    mapInPandas (string formatting only — subj is already unique after the
    aggregate, so a second groupBy(subj).applyInPandas would re-shuffle
    unique keys for nothing)."""
    import pandas as pd

    grouped = triples.groupBy("subj").agg(
        F.sort_array(
            F.collect_set(F.struct(F.col("pred"), F.col("obj_n3")))
        ).alias("po")
    )

    def render(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "subj": pdf["subj"],
                    "block": [
                        _render_turtle_block(s, [(x["pred"], x["obj_n3"]) for x in po])
                        for s, po in zip(pdf["subj"], pdf["po"])
                    ],
                }
            )

    return grouped.mapInPandas(render, "subj string, block string")


def export_turtle(triples: DataFrame, path: str | None = None) -> str | None:
    """Turtle text with rdflib-style ``;``/``,`` shorthand and the ``paper:``
    prefix (the reference's knowledge.n3 shape, facts/learn.py:70).  Driver-
    side for small graphs; the distributed path is
    ``turtle_blocks(t).select("block").write.text(dir)``."""
    blocks = [r["block"] for r in turtle_blocks(triples).collect()]
    text = N3_PREFIX_HEADER + "\n" + "\n\n".join(sorted(blocks)) + "\n"
    if path is not None:
        with open(path, "w") as f:
            f.write(text)
        return None
    return text


def compact_graph(spark: SparkSession, bucketed_triples_glob: str, out_path: str) -> int:
    """Graph-table maintenance: merge incremental bucket outputs
    (streaming/incremental.py layout; ``incremental.buckets_glob`` names
    exactly one run's buckets) into one globally-deduplicated,
    pred-partitioned table.  Returns the compacted triple count.

    Cross-bucket duplicates exist when the same fact is re-derived from
    crawl duplicates landing in different buckets; this is the periodic
    compaction a production deployment schedules (Iceberg rewrite_data_files
    + the dedup in one pass here).  The count is observed on the write:
    the table is never read back."""
    obs = Observation()
    deduped = dedup_triples(read_triples(spark, bucketed_triples_glob))
    write_triples(deduped.observe(obs, F.count(F.lit(1)).alias("n")), out_path)
    return obs.get["n"]


def publish_batches(triples: DataFrame, chunk_size: int = 1000):
    """The reference publishes facts to a SPARQL store in chunks of 1000
    (facts/learn.py:83-91).  Distributed equivalent: ``foreachPartition``
    with partition-local chunking; the sink callback is injectable (no
    network in this sandbox).

    Returns a function  run(sink_fn)  where sink_fn(list_of_lines) is called
    per chunk on executors.
    """
    lines_df = n3_lines(triples)

    def run(sink_fn):
        def per_partition(rows):
            buf = []
            for r in rows:
                buf.append(r["line"])
                if len(buf) >= chunk_size:
                    sink_fn(buf)
                    buf = []
            if buf:
                sink_fn(buf)

        lines_df.foreachPartition(per_partition)

    return run
