"""Stateful / watermarked Structured Streaming operators.

Two stream-native operators on top of the documents stream (the batch
pipeline stays in streaming/stream.py's foreachBatch — extraction itself is
stateless per document; these cover the semantics that genuinely need
streaming state):

* :func:`windowed_doc_counts` — event-time windowed aggregation with a
  watermark, so late-arriving pages (crawl replays, out-of-order WARC
  timestamps) update the right window and state is dropped once the
  watermark passes (bounded state at 100 TB/day ingest).

* :func:`dedup_stream_first_seen` — cross-batch exact dedup via
  ``applyInPandasWithState``: the first document per text hash ever seen is
  emitted, every later duplicate (same batch, later batch, later RESTART —
  state lives in the checkpoint) is dropped, keyed by md5(text); state
  per key is one boolean-sized marker, partitioned by the shuffle on the
  group key, so it scales horizontally with executors.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_SCHEMA = "url string, warc_ts timestamp, text string, text_hash string"
DEDUP_STATE_SCHEMA = "seen byte"


def windowed_doc_counts(
    docs: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
    key_col: str = "lang",
) -> DataFrame:
    """Rows per (event-time window, key) with late-data handling.

    The watermark bounds both lateness tolerated and state retained; rows
    later than the watermark are dropped (documented, standard semantics).
    Works on a streaming OR batch DataFrame (batch ignores the watermark),
    so the same definition serves the oracle test and the stream.
    """
    return (
        docs.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "key",
            "n_docs",
        )
    )


def _make_dedup_fn(ttl_ms: int):
    def _dedup_fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit the first row for this text_hash unless state says it was
        already seen in an earlier batch/run; then mark seen.  With a TTL the
        key's timer is (re)armed on every sighting, so a hash expires only
        after ``ttl_ms`` without any occurrence."""
        if state.hasTimedOut:
            state.remove()
            return
        emitted = state.exists
        for pdf in pdfs:
            if not emitted and len(pdf):
                yield pdf.iloc[[0]]
                emitted = True
        if emitted and not state.exists:
            state.update((1,))
        if ttl_ms > 0 and state.exists:
            state.setTimeoutDuration(ttl_ms)

    return _dedup_fn


def dedup_stream_first_seen(docs: DataFrame, state_ttl: str | None = None) -> DataFrame:
    """Streaming exact dedup: first occurrence per md5(text) passes, all
    later duplicates are dropped — across batches and restarts (state is
    checkpointed).  Input: streaming documents (url, warc_ts, text, ...).

    ``state_ttl`` (e.g. ``"7 days"``, ``"24 hours"``; default None =
    dedup-forever): with NoTimeout one state entry per distinct hash
    accumulates for the life of the checkpoint — at 100 TB/day ingest that
    state grows without bound.  A TTL switches to ProcessingTimeTimeout and
    drops keys not seen for the given duration, bounding checkpoint state to
    the dedup horizon a deployment actually needs."""
    keyed = docs.select(
        "url", "warc_ts", "text", F.md5("text").alias("text_hash")
    ).groupBy("text_hash")
    ttl_ms = _parse_duration_ms(state_ttl) if state_ttl else 0
    if state_ttl is not None and ttl_ms <= 0:
        # a typo'd TTL ('0 ms') must not silently mean dedup-forever —
        # that is unbounded state growth with no signal
        raise ValueError(
            f"state_ttl={state_ttl!r} parses to {ttl_ms} ms; a provided TTL "
            "must be positive (omit state_ttl for dedup-forever)"
        )
    return keyed.applyInPandasWithState(
        _make_dedup_fn(ttl_ms),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms > 0
            else GroupStateTimeout.NoTimeout
        ),
    )


_DURATION_UNITS_MS = {
    "ms": 1,
    "millisecond": 1,
    "milliseconds": 1,
    "second": 1000,
    "seconds": 1000,
    "minute": 60_000,
    "minutes": 60_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "day": 86_400_000,
    "days": 86_400_000,
}


def _parse_duration_ms(s: str) -> int:
    """'7 days' / '24 hours' / '500 ms' / compound '1 hour 30 minutes' ->
    milliseconds (CalendarInterval-style strings, the same shape watermarks
    take)."""
    toks = s.strip().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"expected '<n> <unit> [<n> <unit> ...]', got {s!r}")
    total = 0.0
    for n, unit in zip(toks[::2], toks[1::2]):
        ms = _DURATION_UNITS_MS.get(unit.lower())
        if ms is None:
            raise ValueError(f"unsupported duration unit {unit!r} in {s!r}")
        total += float(n) * ms
    return int(total)
