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

Local smoke:

    python scripts/run_pipeline.py --synthesize 5000 --output /tmp/l2f_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    ap.add_argument(
        "--plugin",
        action="append",
        default=[],
        help="import MODULE and call its register() before planning (the "
        "reference's `l2f -m <module>` plugin pattern, facts/learn.py:42-44); "
        "ship the module via --py-files",
    )
    args = ap.parse_args()

    import pandas as pd

    from literature_to_facts_spark.config import get_spark
    from literature_to_facts_spark.engine.graph import compact_graph
    from literature_to_facts_spark.engine.pipeline import make_sides
    from literature_to_facts_spark.streaming.incremental import run_incremental

    spark = get_spark(app_name="l2f-kg-pipeline", master=args.master)

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
        docs = spark.createDataFrame(pdf)
        sides = make_sides(corpus.balrog, corpus.amon_notices, corpus.ads_authors)
    else:
        if not args.documents:
            ap.error("--documents or --synthesize required")
        docs = spark.read.parquet(args.documents)
        if args.sides:
            sides = make_sides(
                pd.read_parquet(os.path.join(args.sides, "balrog.parquet")),
                pd.read_parquet(os.path.join(args.sides, "amon.parquet")),
                pd.read_parquet(os.path.join(args.sides, "ads.parquet")),
            )
        else:
            sides = make_sides()

    summary = run_incremental(
        spark, docs, args.output, sides, n_buckets=args.buckets, run_id=args.run_id
    )
    # buckets dedup only within themselves; compaction applies the global set
    # semantics, so the count is of distinct triples
    summary["total_triples"] = compact_graph(
        spark,
        os.path.join(args.output, "triples", "bucket=*"),
        os.path.join(args.output, "graph"),
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
