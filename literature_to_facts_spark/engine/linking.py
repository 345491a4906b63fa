"""Entity linking: detected mentions -> canonical URIs via broadcast gazetteer.

North-rule stage 2: "entity linking of detected mentions against a broadcast
gazetteer of canonical source/event URIs".  The reference's URI vocabulary is
the ODA namespace (facts/common.py:7-8, facts/gcn.py:471); the gazetteer maps
surface forms (incl. aliases like ``IC211125A`` -> ``IceCube-211125A``) to
canonical event URIs.

The gazetteer is small by definition -> ``F.broadcast`` hash join, no shuffle
of the (huge) triples side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from literature_to_facts_spark.engine.pipeline import dedup_triples

# predicates whose objects are entity surface forms
MENTION_PREDS = (
    "mentions_named_event",
    "mentions_named_grb",
    "reports_event",
    "reports_icecube_event",
    "reports_hawc_event",
    "integral_grb_report",
)

LINK_PRED = "links_to_entity"


def link_entities(triples: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Triples -> entity_links(subj, url, mention, canonical_uri, entity_type).

    Only mention-bearing predicates are scanned (predicate pruning); the join
    is an inner broadcast-hash join on the surface form.
    """
    mentions = triples.where(F.col("pred").isin(*MENTION_PREDS)).select(
        "subj", "url", F.col("obj").alias("mention")
    )
    return (
        mentions.join(F.broadcast(gazetteer), on="mention", how="inner")
        .select("subj", "url", "mention", "canonical_uri", "entity_type")
    )


def link_triples(links: DataFrame) -> DataFrame:
    """Entity links re-expressed as graph triples (dtype 'uri') so they can be
    unioned into the materialized graph alongside literal triples."""
    return dedup_triples(links.select(
        "url",
        "subj",
        F.lit(LINK_PRED).alias("pred"),
        F.col("canonical_uri").alias("obj"),
        F.lit("uri").alias("dtype"),
        F.concat(F.lit("<"), F.col("canonical_uri"), F.lit(">")).alias("obj_n3"),
    ))
