"""Resumable incremental extraction over a bucketed document table.

The reference's "streaming" is a daily poll loop (facts/tools.py:17-53) that
re-fetches and re-learns.  At 10^12-doc scale the equivalent is incremental
batch over table snapshots: the input keyspace is split into deterministic
url-hash buckets; each bucket is extracted and committed independently, and a
ledger records completed buckets with their lineage metrics.  A re-run under
the same run id (after a crash) skips completed buckets — resumability from
checkpoint per the north rule.  ``scripts/run_pipeline.py --period`` is the
poll loop: one run id per tick, each tick compacted into ``graph/``.

Layout under ``output_dir``:
    triples/bucket=<b>/...parquet     per-bucket triple output
    ledger/...parquet                 one row per completed bucket

A run writes only ``bucket=0..n_buckets-1``; a directory left by an earlier
run with more buckets stays on disk, so readers of a run's triples go
through :func:`buckets_glob`, never a ``bucket=*`` glob.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from literature_to_facts_spark.extractors.base import Sides
from literature_to_facts_spark.engine.graph import read_triples
from literature_to_facts_spark.engine.pipeline import LINEAGE_PRED, extract_triples

LEDGER_SCHEMA = (
    "bucket int, n_buckets int, run_id string, committed_at double, "
    "n_triples long, docs_in long, identity_failures long, metrics_json string"
)


def bucket_of(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def buckets_glob(output_dir: str, n_buckets: int) -> str:
    """Hadoop glob of the triples of buckets ``0..n_buckets-1`` under
    ``output_dir``: exactly the buckets a run with ``n_buckets`` writes."""
    ids = ",".join(str(b) for b in range(n_buckets))
    return os.path.join(output_dir, "triples", f"bucket={{{ids}}}")


def write_observed(combined: DataFrame, path: str) -> dict:
    """Write the triples of an ``extract_triples(..., run_id=...)`` frame
    to ``path`` in one write, observing the triple count and the per-task
    lineage rows on that write.  Returns

        {n_triples, tasks: [parsed lineage metrics per task], metrics_json}

    where ``metrics_json`` is the JSON list of the raw lineage strings.  The
    observation sits above the dedup, so it counts exactly the rows written,
    and a retried task's lineage row is collapsed before it is observed."""
    obs = Observation()
    is_lineage = F.col("pred") == LINEAGE_PRED
    combined.observe(
        obs,
        F.count(F.when(~is_lineage, 1)).alias("n"),
        F.collect_list(F.when(is_lineage, F.col("obj"))).alias("lineage"),
    ).where(~is_lineage).write.mode("overwrite").parquet(path)
    m = obs.get
    return {
        "n_triples": m["n"],
        "tasks": [json.loads(x) for x in m["lineage"]],
        "metrics_json": json.dumps(m["lineage"]),
    }


def completed_buckets(
    spark: SparkSession, output_dir: str, run_id: str, n_buckets: Optional[int] = None
) -> set[int]:
    """Buckets already committed FOR THIS RUN.

    The ledger is scoped per run_id: resuming a crashed run (same run_id)
    skips its committed buckets, while a NEW run_id (a fresh snapshot /
    ``scripts/run_pipeline.py --period`` tick) reprocesses everything —
    otherwise a second tick over a grown table would skip all buckets
    forever.

    A bucket id means something only under the bucket count it was hashed
    with, so given ``n_buckets`` this raises ``ValueError`` when the run's
    committed rows carry another count, or none (a ledger written before
    rows recorded it).

    Only a missing ledger, or one holding no data files yet (a crash during
    the first ledger append leaves just ``_temporary``; the pinned schema
    reads it as empty), means "nothing committed"; any other read error — a
    corrupt ledger file — raises instead of silently reprocessing every
    bucket.
    """
    ledger_path = os.path.join(output_dir, "ledger")
    try:
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    rows = (
        ledger.where(F.col("run_id") == run_id)
        .select("bucket", "n_buckets")
        .distinct()
        .collect()
    )
    other = {r["n_buckets"] for r in rows} - {n_buckets}
    if n_buckets is not None and other:
        raise ValueError(
            f"run id {run_id!r} has buckets committed under n_buckets "
            f"{', '.join('unrecorded' if c is None else str(c) for c in other)}, "
            f"not {n_buckets}; resume it with that bucket count or start a new run id"
        )
    return {r["bucket"] for r in rows}


def run_incremental(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    sides: Optional[Sides] = None,
    n_buckets: int = 8,
    run_id: str = "incremental",
) -> dict:
    """Extract bucket-by-bucket with a commit ledger; returns a summary dict.

    Each bucket is one atomic unit: triples land under ``bucket=<b>`` and the
    ledger row is appended only after the triple write succeeds, so a crash
    mid-bucket re-processes just that bucket (idempotent overwrite).  The
    resume scope is ``run_id``: rerunning with the same run_id skips its
    completed buckets; a new run_id reprocesses the (new) snapshot.  A
    resume must use the run's bucket count: each ledger row records it, and
    another count raises (``completed_buckets``).

    Each bucket is one write job that runs the battery once: the triple
    count and the lineage metrics for the ledger are observed on that write
    (``write_observed``), never counted, collected or re-read afterwards.
    """
    done = completed_buckets(spark, output_dir, run_id, n_buckets)
    triples_root = os.path.join(output_dir, "triples")
    ledger_path = os.path.join(output_dir, "ledger")
    docs_b = docs.withColumn("_bucket", bucket_of(F.col("url"), n_buckets))

    n_done_now = 0
    for b in range(n_buckets):
        if b in done:
            continue
        chunk = docs_b.where(F.col("_bucket") == b).drop("_bucket")
        m = write_observed(
            extract_triples(spark, chunk, sides, run_id=f"{run_id}/b{b}"),
            os.path.join(triples_root, f"bucket={b}"),
        )
        ledger_row = pd.DataFrame([{
            "bucket": b,
            "n_buckets": n_buckets,
            "run_id": run_id,
            "committed_at": time.time(),
            "n_triples": m["n_triples"],
            "docs_in": sum(t["docs_in"] for t in m["tasks"]),
            "identity_failures": sum(t["identity_failures"] for t in m["tasks"]),
            "metrics_json": m["metrics_json"],
        }])
        # a pandas frame goes through Arrow into a local relation: no
        # Python-worker tasks, unlike a list of tuples
        spark.createDataFrame(ledger_row, schema=LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(ledger_path)
        n_done_now += 1

    return {
        "buckets_total": n_buckets,
        "buckets_skipped": len(done),
        "buckets_processed": n_done_now,
    }


def read_all_triples(spark: SparkSession, output_dir: str, n_buckets: int) -> DataFrame:
    """The per-bucket triples of a run with ``n_buckets`` buckets."""
    return read_triples(spark, buckets_glob(output_dir, n_buckets))
