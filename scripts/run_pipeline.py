#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north rule: spark-submit --py-files on a multi-executor
cluster):

    python scripts/make_pyfiles.py                 # -> dist/l2f_spark.zip
    spark-submit --py-files dist/l2f_spark.zip \\
        --conf "spark.driver.defaultJavaOptions=$CLUSTER_DRIVER_OPTS -XX:TieredStopAtLevel=1" \\
        --conf spark.sql.adaptive.enabled=true \\
        scripts/run_pipeline.py \\
        --documents s3://bucket/documents/ \\
        --output   s3://bucket/graph/ \\
        --sides    s3://bucket/sides/ \\
        --buckets  256

The C1-only JIT option (``config.DRIVER_JAVA_OPTIONS``) goes to the driver
only: spark-submit starts the driver JVM before ``get_spark`` runs, so it
must be passed here, and executors, which live for the whole job, keep C2.
``--conf`` replaces the cluster's own ``spark.driver.defaultJavaOptions``
from spark-defaults.conf instead of adding to it, so ``$CLUSTER_DRIVER_OPTS``
stands for that value (empty when the cluster sets none).

A tick extracts the documents table bucket by bucket under the resume
ledger (``run_incremental``), then compacts exactly those buckets into
``graph/`` (``compact_graph``), and prints one JSON summary line.  Without
``--period`` the driver runs one tick under ``--run-id`` and exits, non-zero
if the tick failed; re-running it with the same run id resumes, skipping
committed buckets.  With ``--period SECONDS`` it is the reference's
``daily`` loop (facts/tools.py:17-53): every period it re-reads the table
and runs a tick under run id ``<run-id>-<tick start>``; a failed tick is
retried after ``BACKOFF_S`` under the same run id, so the buckets it
already committed are skipped.  A looping driver runs many ticks in one JVM
and keeps C2 (``config.LONG_LIVED_DRIVER_CONF``), so its spark-submit
command leaves the C1-only option out.

Local smoke:

    python scripts/run_pipeline.py --synthesize 5000 --output /tmp/l2f_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# failed-tick backoff of the loop (reference facts/tools.py:29)
BACKOFF_S = 13.0


def tick(spark, docs, output: str, sides, n_buckets: int, run_id: str) -> dict:
    """Extract the buckets ``run_id`` has not committed, then compact the
    run's ``n_buckets`` buckets into ``<output>/graph``.  Buckets dedup only
    within themselves; compaction applies the global set semantics, so
    ``total_triples`` counts distinct triples."""
    from literature_to_facts_spark.engine.graph import compact_graph
    from literature_to_facts_spark.streaming.incremental import (
        buckets_glob,
        run_incremental,
    )

    summary = run_incremental(
        spark, docs, output, sides, n_buckets=n_buckets, run_id=run_id
    )
    summary["total_triples"] = compact_graph(
        spark, buckets_glob(output, n_buckets), os.path.join(output, "graph")
    )
    return summary


def _attempt(run_tick, run_id: str) -> bool:
    """Run one tick and print its JSON line; a failure prints an error line
    (and the traceback on stderr) instead of raising."""
    try:
        summary = run_tick(run_id)
    except Exception as e:
        traceback.print_exc()
        print(json.dumps({"run_id": run_id, "error": str(e)[:300]}), flush=True)
        return False
    print(json.dumps({"run_id": run_id, **summary}), flush=True)
    return True


def run_ticks(run_tick, run_id: str, period: float | None,
              sleep=time.sleep, clock=time.time) -> int:
    """Drive ``run_tick(run_id) -> summary``: once under ``run_id`` when
    ``period`` is None (returns the exit status), else forever, one tick per
    ``period`` seconds under ``<run_id>-<tick start>``, each failure retried
    after ``BACKOFF_S`` under the same run id."""
    if period is None:
        return 0 if _attempt(run_tick, run_id) else 1
    while True:
        start = clock()
        tick_id = f"{run_id}-{int(start)}"
        while not _attempt(run_tick, tick_id):
            sleep(BACKOFF_S)
        sleep(max(0.0, start + period - clock()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", help="path of the documents table (parquet/iceberg)")
    ap.add_argument("--output", required=True,
                    help="output root (triples/ + ledger/ + compacted graph/)")
    ap.add_argument("--sides", help="dir with balrog/amon/ads parquet side tables")
    ap.add_argument("--buckets", type=int, default=16, help="resume-ledger buckets")
    ap.add_argument("--master", default=None, help="override master (local[N] for smoke)")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic docs instead of --documents")
    ap.add_argument("--run-id", default="pipeline")
    ap.add_argument("--period", type=float, default=None,
                    help="loop: one tick every PERIOD seconds (reference learn "
                    "period: 1800), run id <run-id>-<tick start>")
    ap.add_argument(
        "--plugin",
        action="append",
        default=[],
        help="import MODULE and call its register() before planning (the "
        "reference's `l2f -m <module>` plugin pattern, facts/learn.py:42-44); "
        "ship the module via --py-files",
    )
    args = ap.parse_args()
    if not args.synthesize and not args.documents:
        ap.error("--documents or --synthesize required")

    import pandas as pd

    from literature_to_facts_spark.config import LONG_LIVED_DRIVER_CONF, get_spark
    from literature_to_facts_spark.engine.pipeline import make_sides

    # a loop re-runs ticks in one warm JVM: from the third 40,000-doc
    # re-extraction on, C1-only ticks cost 34-37 CPU-s, C2 ones 24-30
    spark = get_spark(
        app_name="l2f-kg-pipeline", master=args.master,
        extra_conf=None if args.period is None else LONG_LIVED_DRIVER_CONF,
    )

    # plugin modules mutate the driver-side registry; snapshot_batteries()
    # carries the result to executors inside the mapInPandas closure
    import importlib

    for mod_name in args.plugin:
        mod = importlib.import_module(mod_name)
        if hasattr(mod, "register"):
            mod.register()

    if args.synthesize:
        from literature_to_facts_spark.sources.corpus import build_corpus

        corpus = build_corpus(n_docs=args.synthesize, seed=42)
        pdf = corpus.documents.copy()
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        synthesized = spark.createDataFrame(pdf)
        sides = make_sides(corpus.balrog, corpus.amon_notices, corpus.ads_authors)

        def load_docs():
            return synthesized
    else:
        if args.sides:
            sides = make_sides(
                pd.read_parquet(os.path.join(args.sides, "balrog.parquet")),
                pd.read_parquet(os.path.join(args.sides, "amon.parquet")),
                pd.read_parquet(os.path.join(args.sides, "ads.parquet")),
            )
        else:
            sides = make_sides()

        def load_docs():
            # read per tick: the file listing is taken when the frame is built
            return spark.read.parquet(args.documents)

    try:
        status = run_ticks(
            lambda run_id: tick(spark, load_docs(), args.output, sides, args.buckets, run_id),
            args.run_id, args.period,
        )
    finally:
        spark.stop()
    sys.exit(status)


if __name__ == "__main__":
    main()
