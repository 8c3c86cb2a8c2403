"""Streaming exact deduplication with bounded state (pipeline op,
streaming counterpart of operators/dedup.exact_duplicates).

A batch `dropDuplicates` over an unbounded stream keeps every key ever
seen — state grows without bound and a year-long ingest OOMs the state
store. `dropDuplicatesWithinWatermark` bounds state by TIME instead:
a key's state expires once the event-time watermark passes
(first_seen_event_time + delay), so the store holds only the dedup
horizon's worth of keys. The contract is the one real ingest pipelines
want: "the same document re-sent within `delay` is a duplicate; the
same id appearing far later is a new occurrence" (re-crawls,
re-publishes).

Semantics pinned by test (Spark 4.1, same measured mechanics as
streaming/window_stream.py): duplicates within the horizon drop whether
they arrive in the same or a later micro-batch; rows later than the
watermark drop; a key re-arriving after its state expired emits again.
All state-store-side — no Python per row, exactly-once under
checkpointing.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """First occurrence of each key wins; re-occurrences within
    ``watermark`` of the first event time are dropped; state is evicted
    afterwards (bounded by horizon × key arrival rate, not stream
    length). Start with ``.writeStream`` in append mode."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
