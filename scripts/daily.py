#!/usr/bin/env python
"""Periodic incremental driver (``l2f tools daily`` equivalent,
/root/reference/facts/tools.py:13-53).

The reference loops forever: per-task periods (fetch 8h/1h, learn 30min,
publish 1h), a 301 s main-loop sleep and a 13 s failure backoff.  Two tick
modes here:

* ``--mode stream``  (default): checkpointed AvailableNow streaming pass —
  only document files that landed since the last tick are extracted;
* ``--mode snapshot``: full bucketed re-extraction of the current table per
  tick (the reference's re-learn-everything behavior), resumable within the
  tick via the run-scoped ledger.

    python scripts/daily.py --documents <path> --output <dir> --once
    python scripts/daily.py --documents <path> --output <dir> \\
        --period 1800 --sleep 301 --backoff 13
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--sides", default=None)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--master", default=None)
    ap.add_argument("--period", type=float, default=1800.0,
                    help="learn period seconds (reference: 30 min)")
    ap.add_argument("--sleep", type=float, default=301.0,
                    help="main-loop sleep (reference facts/tools.py:26)")
    ap.add_argument("--backoff", type=float, default=13.0,
                    help="failure backoff (reference facts/tools.py:29)")
    ap.add_argument("--once", action="store_true", help="single tick, then exit")
    ap.add_argument("--mode", choices=["stream", "snapshot"], default="stream")
    args = ap.parse_args()

    import pandas as pd

    from literature_to_facts_spark.config import LONG_LIVED_DRIVER_CONF, get_spark
    from literature_to_facts_spark.engine.pipeline import make_sides
    from literature_to_facts_spark.streaming.incremental import run_incremental
    from literature_to_facts_spark.streaming.stream import stream_documents_to_graph

    # the loop re-runs ticks in one warm JVM: from the third 40,000-doc
    # re-extraction on, C1-only ticks cost 34-37 CPU-s, C2 ones 24-30
    loop_conf = None if args.once else LONG_LIVED_DRIVER_CONF
    spark = get_spark(app_name="l2f-daily", master=args.master, extra_conf=loop_conf)
    if args.sides:
        sides = make_sides(
            pd.read_parquet(os.path.join(args.sides, "balrog.parquet")),
            pd.read_parquet(os.path.join(args.sides, "amon.parquet")),
            pd.read_parquet(os.path.join(args.sides, "ads.parquet")),
        )
    else:
        sides = make_sides()

    def tick(now: float) -> dict:
        if args.mode == "stream":
            q = stream_documents_to_graph(spark, args.documents, args.output, sides)
            q.awaitTermination()
            return {"mode": "stream", "progress": str(q.lastProgress or "")[:200]}
        docs = spark.read.parquet(args.documents)
        return run_incremental(
            spark, docs, args.output, sides,
            n_buckets=args.buckets, run_id=f"daily-{int(now)}",
        )

    last_run = 0.0
    while True:
        now = time.time()
        if now - last_run >= args.period or args.once:
            try:
                summary = tick(now)
                print(json.dumps({"tick": int(now), **summary}), flush=True)
                last_run = now
            except Exception as e:
                print(json.dumps({"tick": int(now), "error": str(e)[:300]}), flush=True)
                if args.once:
                    spark.stop()
                    sys.exit(1)  # signal failure to cron/systemd callers
                time.sleep(args.backoff)
                continue
        if args.once:
            break
        time.sleep(args.sleep)
    spark.stop()


if __name__ == "__main__":
    main()
