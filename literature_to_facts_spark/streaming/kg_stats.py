"""Streaming maintenance of KG predicate statistics.

The micro-batch face of
:func:`~literature_to_facts_spark.engine.kgquery.predicate_stats_incremental`:
a triple stream keeps the ``(pred, n_triples, n_subj, n_obj)`` table exact
at every batch boundary without ever rescanning historical triples — the
store-side statistics an RDF store keeps for join ordering, maintained at
crawl-ingest cadence (reference analog: the rdflib graph the reference
re-learns per run, /root/reference/facts/learn.py:49-70).

State layout under ``state_dir``:

* ``pair_index/_batch=<id>`` — APPEND-keyed per-batch
  :func:`build_predicate_pair_index` partials; replay of batch N
  overwrites its own dir (idempotent), and reads prune ``_batch >= N`` so
  a replay never sees its own half-written past.
* ``stats/_batch=<id>`` — SNAPSHOT-keyed: the full (pred-sized) stats
  table AFTER batch N.  Unlike the append stores, a reader wants only the
  LATEST snapshot strictly before the current batch; old snapshots are
  replay insurance.

Crash/replay safety: both writes are ``_batch=<id>``-keyed overwrites, and
batch N's outputs are pure functions of state strictly before N, so
re-running a half-written batch heals it bit-exactly.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _is_missing_state(e: AnalysisException) -> bool:
    """True iff the read failure means "nothing committed here yet":

    * ``PATH_NOT_FOUND`` — the directory does not exist (first batch);
    * ``UNABLE_TO_INFER_SCHEMA`` — the directory exists but holds no
      readable parquet footers, i.e. a crash left only an uncommitted
      ``_temporary`` dir behind.  A committed parquet write always leaves
      footers, so this state is equivalent to "no state"; re-raising it
      would turn a first-batch crash into a permanent replay crash-loop.

    Everything else (permissions, FS listing errors, corrupt committed
    files) is NOT missing state and must propagate to fail the batch —
    swallowing those would silently treat the committed history as empty
    and recount values it already counted: the overwritten ``_batch``
    snapshot would look committed, so a replay never repairs it."""
    cond = getattr(e, "getCondition", getattr(e, "getErrorClass", lambda: ""))()
    for marker in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
        if (cond or "").startswith(marker) or marker in str(e):
            return True
    return False


def _read_state(spark, root: str, before_batch: int) -> DataFrame | None:
    """All `_batch=*` partitions of ``root`` strictly before ``before_batch``
    (None when no state exists yet — see :func:`_is_missing_state`).
    basePath keeps `_batch` visible as a partition column so the < filter
    prunes directories at planning time."""
    try:
        df = (
            spark.read.option("basePath", root)
            .parquet(os.path.join(root, "_batch=*"))
        )
    except AnalysisException as e:
        if _is_missing_state(e):
            return None
        raise
    return df.where(F.col("_batch") < before_batch).drop("_batch")


def _list_batch_ids(spark, root: str) -> list:
    """Sorted ``_batch=<id>`` ids present under ``root``, listed via the
    JVM Hadoop FileSystem (works for any supported scheme, sees EMPTY
    directories).  Needs the py4j JVM bridge, so not under Spark Connect."""
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
    except AttributeError as e:  # Spark Connect session
        raise NotImplementedError(
            "state-dir listing needs the py4j JVM bridge, absent under "
            "Spark Connect; list/compact the _batch dirs out-of-band"
        ) from e
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = hpath.getFileSystem(hconf)
    if not fs.exists(hpath):
        return []
    ids = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("_batch="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(ids)


def _read_latest_snapshot(spark, root: str, before_batch: int):
    """The single newest ``_batch=<id>`` snapshot with ``id < before_batch``
    (None when no committed snapshot exists yet)."""
    ids = [b for b in _list_batch_ids(spark, root) if b < before_batch]
    if not ids:
        return None
    return spark.read.parquet(os.path.join(root, f"_batch={max(ids)}"))


def make_kg_stats_batch_fn(
    state_dir: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
):
    """Build the ``foreachBatch`` function maintaining exact predicate
    statistics over a triple stream.  Kept separate from the writeStream
    wiring so batch jobs and tests can drive it directly.

    Per batch: probe the append-only pair index (zero history Exchange
    over a bucketed layout — the engine-side operator's shape), merge
    pred-sized deltas into the latest stats snapshot, write the new
    snapshot and the batch's index partial, both ``_batch``-keyed.
    """
    index_root = os.path.join(state_dir, "pair_index")
    stats_root = os.path.join(state_dir, "stats")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from literature_to_facts_spark.engine.kgquery import (
            build_predicate_pair_index,
            predicate_stats_incremental,
        )

        spark = batch_df.sparkSession
        batch = batch_df.select(subj_col, pred_col, obj_col)
        old_index = _read_state(spark, index_root, batch_id)
        old_stats = _read_latest_snapshot(spark, stats_root, batch_id)
        reg: list = []
        new_stats = predicate_stats_incremental(
            batch,
            old_index,
            old_stats,
            subj_col=subj_col,
            pred_col=pred_col,
            obj_col=obj_col,
            cache_registry=reg,
        )
        try:
            # snapshot first: if we crash between the two writes, a replay
            # of this batch recomputes from state < batch_id and overwrites
            # both dirs — no torn state is ever read (reads prune >= id)
            new_stats.write.mode("overwrite").parquet(
                os.path.join(stats_root, f"_batch={batch_id}")
            )
            build_predicate_pair_index(
                batch, subj_col=subj_col, pred_col=pred_col, obj_col=obj_col
            ).write.mode("overwrite").parquet(
                os.path.join(index_root, f"_batch={batch_id}")
            )
        finally:
            for df in reg:
                df.unpersist()

    return process


def read_current_stats(spark, state_dir: str) -> DataFrame | None:
    """The latest committed stats snapshot (None before the first batch)."""
    return _read_latest_snapshot(
        spark, os.path.join(state_dir, "stats"), before_batch=1 << 62
    )
