"""Table layout for the 100 TB deployment: bucketed and partitioned writes.

Two storage decisions dominate join/scan cost at corpus scale, and both are
declared at WRITE time so every later query gets them for free:

* **Bucketing** (`engine.kgquery.write_bucketed`): pre-hash-partition
  (and optionally sort) a table on its join key.  Two tables bucketed on the same key with the
  same bucket count join with ZERO Exchange — the single most expensive
  operator in a repeated big-big join (doc joins, signature-index joins)
  disappears from every downstream plan.  Spark persists the bucket spec in
  the catalog; `spark.table()` reads recover it (a bare `spark.read.parquet`
  of the same files does NOT — always read bucketed tables through the
  catalog).
* **Partitioning** (`write_partitioned`): directory-partition on a
  low-cardinality predicate column (ingest date, source).  Filters on the
  partition column prune entire directories at planning time
  (`PartitionFilters` in the scan, zero I/O for pruned partitions) — the
  difference between scanning a day and scanning a decade.

Both are thin wrappers over the DataFrameWriter; their value is the pinned
contract: tests assert the exchange-free join plan and the partition-pruned
scan, so a layout regression fails CI instead of silently costing a shuffle
per query at deploy scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` directory-partitioned by ``partition_cols`` (low
    cardinality — dates, sources; never ids).  Readers filtering on these
    columns prune whole directories at planning time."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def co_located_join(
    spark: SparkSession, left_table: str, right_table: str, on: str | list
) -> DataFrame:
    """Join two CATALOG tables (so their bucket specs are visible to the
    planner).  When both are bucketed on the join key with equal bucket
    counts, the plan contains no Exchange — pinned by
    tests/test_datapipe.py::test_bucketed_join_is_exchange_free."""
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on=keys)
