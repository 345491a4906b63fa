#!/usr/bin/env python
"""Run every __spark_entry__ query against its DuckDB oracle and report
rows/schema/value-hash equality — the external driver's correctness gate,
runnable standalone at any scale factor.

Usage: python scripts/check_oracles.py [sf_dir]   (default /root/testdata/sf0.01)
Set SPARK_GRAFT_ONLY=name1,name2 to check a subset (iteration aid).
Frames a query caches (listed on its result's ``_l2f_cache_registry``) are
unpersisted after its comparison; the sweep then reports the session's
persistent RDD count (after the reclaimable local checkpoints are freed).
Exit code 0 iff every checked query matches and no RDD stays persisted.
"""

from __future__ import annotations

import gc
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["documents", "events"]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


# Forced JVM collections before the count is read: the fewest that read 0.
# Measured at sf0.01 on 4 cores, reading Spark's weak-valued persistentRdds
# map (which pins nothing) after each collection: a sweep of
# dedup_clusters_cc alone (3 runs) or curation_pipeline_full (since
# deleted) alone (2 runs) read 4, 4, 0 after 0, 1, 2 collections, and 0
# up to 5; the full 104-query sweep (2 runs) read 0 before the first.
_GC_ROUNDS = 2


def _persistent_rdds(spark) -> int:
    """The session's persistent RDD count once unreachable ones are freed.

    ``localCheckpoint`` (the connected-components fixpoint behind the
    dedup_clusters_cc queries) persists RDDs that no cache entry owns;
    Spark's ContextCleaner unpersists them after the JVM collects their
    last reference, so ``_GC_ROUNDS`` forced collections run first.  The
    count is read once, at the end: ``getPersistentRDDs()`` returns a copy
    of the map that holds every RDD strongly for as long as py4j keeps
    it, so polling it would pin what it counts.  A cached DataFrame stays
    registered with the CacheManager whatever the collector does, so a
    query that never releases a ``persist()`` is still counted."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(_GC_ROUNDS):
        jvm.System.gc()
        time.sleep(1.0)
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as em
    from literature_to_facts_spark.config import LONG_LIVED_DRIVER_CONF, get_spark

    # every query runs in this one JVM: keep the C2 JIT
    spark = get_spark(
        app_name="check-oracles", master=f"local[{os.cpu_count()}]",
        extra_conf=LONG_LIVED_DRIVER_CONF,
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries, oracles = em.queries(), em.oracle_sql()
    only = [s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if s]
    if only:
        unknown = [n for n in only if n not in queries]
        if unknown:  # a typo must not make the gate vacuously pass
            print(f"unknown query name(s) in SPARK_GRAFT_ONLY: {unknown}")
            return 1
        queries = {k: v for k, v in queries.items() if k in only}
    n_fail = 0
    t_total = time.monotonic()
    for name in sorted(queries):
        t0 = time.monotonic()
        sdf = None
        try:
            sdf = queries[name](spark, sf_dir)
            srows = sdf.collect()
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            rows_ok = len(srows) == len(orows)
            cols_ok = sorted(sdf.columns) == sorted(ocols)
            vals_ok = _rowset(sdf.columns, srows) == _rowset(ocols, orows)
            ok = rows_ok and cols_ok and vals_ok
        except Exception as e:  # noqa: BLE001 — report, keep checking
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:120]}")
            n_fail += 1
            continue
        finally:
            for df in getattr(sdf, "_l2f_cache_registry", ()):
                df.unpersist()
        status = "ok  " if ok else "FAIL"
        print(
            f"{status} {name}: rows={len(srows)} cols={cols_ok} vals={vals_ok}"
            f" sec={time.monotonic() - t0:.2f}"
        )
        if not ok:
            n_fail += 1
    sdf = None
    n_persisted = _persistent_rdds(spark)
    spark.stop()
    print(
        f"{len(queries) - n_fail}/{len(queries)} queries match at {sf_dir}"
        f" in {time.monotonic() - t_total:.1f}s"
    )
    print(f"{n_persisted} persistent RDDs after the sweep")
    return 1 if n_fail or n_persisted else 0


if __name__ == "__main__":
    sys.exit(main())
