#!/usr/bin/env python
"""``l2f learn contemplate`` equivalent: analytic joins over the graph table,
writing the two JSON summaries (facts/learn.py:95-157).

    spark-submit --py-files dist/l2f_spark.zip \\
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \\
        scripts/contemplate.py --triples /path/to/graph --out-dir ./summaries
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--triples", required=True, help="triples parquet path")
    ap.add_argument("--out-dir", default=".")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from literature_to_facts_spark.config import get_spark
    from literature_to_facts_spark.engine.contemplate import (
        counterpart_matches,
        counterpart_summary,
        grb_reaction_summary,
    )
    from literature_to_facts_spark.engine.graph import read_triples

    spark = get_spark(app_name="l2f-contemplate", master=args.master)
    triples = read_triples(spark, args.triples)

    cp = counterpart_summary(counterpart_matches(triples)).orderBy("event").collect()
    cp_rows = [
        {
            "event": r["event"],
            "event_gcn_time": r["event_gcn_time"],
            "counterpart_gcn_time": r["counterpart_gcn_time"],
            "event_t0": r["event_t0"],
            "instrument": list(r["instrument"]),
        }
        for r in cp
    ]
    with open(os.path.join(args.out_dir, "counterpart_gcn_reaction_summary.json"), "w") as f:
        json.dump(cp_rows, f, indent=2)

    grb = grb_reaction_summary(triples).orderBy("event").collect()
    grb_rows = [
        {"event": r["event"], "event_t0": r["event_t0"], "event_gcn_time": r["event_gcn_time"]}
        for r in grb
    ]
    with open(os.path.join(args.out_dir, "grb_gcn_reaction_summary.json"), "w") as f:
        json.dump(grb_rows, f, indent=2)

    print(json.dumps({"counterpart_rows": len(cp_rows), "grb_rows": len(grb_rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
