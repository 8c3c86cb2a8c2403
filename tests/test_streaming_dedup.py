"""Streaming dedup with bounded state (dropDuplicatesWithinWatermark):
same-batch and cross-batch duplicates within the horizon drop, and a key
re-arriving after its state expired emits again — the time-bounded dedup
contract an unbounded ingest needs.

Deterministic layout (one file per micro-batch, availableNow, memory
sink — same measured Spark 4.1 mechanics as test_streaming_window.py;
state eviction uses the watermark derived from PRIOR batches, so the
re-occurrence arrives two watermark-advancing batches after the
original):

  batch0: A@10:00, B@10:05, B@10:20  → A, B emit; B@10:20 same-batch dup
  batch1: A@10:10 (dup within 30-min horizon of A@10:00 → dropped),
          C@12:00 (advances the watermark)
  batch2: D@14:00 (advances the watermark well past A's expiry 10:30)
  batch3: A@15:00 → A's state evicted → emits as a NEW occurrence

Expected emitted rows: exactly {A@10:00, B@10:05, C@12:00, D@14:00,
A@15:00}.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from random_cut_forest_by_aws_spark.streaming.dedup_stream import (
    streaming_dedup,
)

BASE = pd.Timestamp("2026-01-01 00:00:00")


def _ts(hhmm: str) -> pd.Timestamp:
    h, m = hhmm.split(":")
    return BASE + pd.Timedelta(hours=int(h), minutes=int(m))


def _write_batches(src_dir: str, batches: list[list[tuple[str, str]]]) -> None:
    base_mtime = 1_700_000_000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {"doc_id": [d for d, _ in rows],
             "ts": pd.Series([_ts(s) for _, s in rows]).astype("datetime64[us]")}
        )
        path = os.path.join(src_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (base_mtime + i * 10, base_mtime + i * 10))


def test_streaming_dedup_horizon_and_eviction(spark, tmp_path):
    src_dir = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    batches = [
        [("A", "10:00"), ("B", "10:05"), ("B", "10:20")],
        [("A", "10:10"), ("C", "12:00")],
        [("D", "14:00")],
        [("A", "15:00")],
    ]
    _write_batches(src_dir, batches)

    stream = (
        spark.readStream.schema("doc_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    out = streaming_dedup(stream, keys=("doc_id",), watermark="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "query did not finish in 300 s"
    finally:
        q.stop()
    res = spark.sql("SELECT * FROM dedup_stream_out").toPandas()
    got = {(r.doc_id, r.ts.strftime("%H:%M")) for r in res.itertuples()}
    assert got == {
        ("A", "10:00"), ("B", "10:05"), ("C", "12:00"),
        ("D", "14:00"), ("A", "15:00"),
    }
    # exactly the two horizon duplicates were suppressed
    assert len(res) == 5
