"""Streaming session windows (gap-based) under watermarks: cross-batch
session extension, state-store SESSION MERGING via a bridging late row,
finalize-once in append mode, open sessions never emitted.

Deterministic layout (gap = watermark = 30 min; one file per micro-batch,
availableNow; eviction watermark for batch N derives from max event time
through batch N−1 — same Spark 4.1 mechanics pinned in
tests/test_streaming_window.py):

  batch0: u1 10:00, 10:20          → open session A [10:00, 10:50)
          u2 10:00, 10:50          → open sessions B [10:00,10:30),
                                      C [10:50,11:20)
  batch1: u1 10:40                 → extends A to [10:00, 11:10)
          u2 10:25                 → bridges B and C: the state store
                                      MERGES them into [10:00, 11:20)
          u1 13:00                 → new session D; max ET 13:00
          (eviction WM during batch1 is still 10:20 → nothing emits)
  batch2: u1 15:00                 → eviction WM now 12:30: A (end 11:10)
                                      and the merged u2 session (end
                                      11:20) FINALIZE; D (end 13:30)
                                      stays open
  batch3: u1 15:10                 → eviction WM 14:30: D finalizes;
                                      [15:00, …) still open → never emits
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from random_cut_forest_by_aws_spark.streaming.window_stream import (
    streaming_session_agg,
)

BASE = pd.Timestamp("2026-01-01 00:00:00")


def _ts(hhmm: str) -> pd.Timestamp:
    h, m = hhmm.split(":")
    return BASE + pd.Timedelta(hours=int(h), minutes=int(m))


def _epoch_ms(hhmm: str) -> int:
    return int(_ts(hhmm).value // 1_000_000)


def _write_batches(src_dir: str, batches: list[list[tuple[str, str]]]) -> None:
    base_mtime = 1_700_000_000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "ts": pd.Series([_ts(s) for _, s in rows]).astype("datetime64[us]"),
                "user_id": [u for u, _ in rows],
                "value": [1.0] * len(rows),
            }
        )
        path = os.path.join(src_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (base_mtime + i * 10, base_mtime + i * 10))


def test_streaming_session_merge_and_finalize_once(spark, tmp_path):
    src_dir = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    batches = [
        [("u1", "10:00"), ("u1", "10:20"), ("u2", "10:00"), ("u2", "10:50")],
        [("u1", "10:40"), ("u2", "10:25"), ("u1", "13:00")],
        [("u1", "15:00")],
        [("u1", "15:10")],
    ]
    _write_batches(src_dir, batches)

    schema = "ts timestamp, user_id string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    out = streaming_session_agg(
        stream, ts_col="ts", keys=("user_id",),
        gap="30 minutes", watermark="30 minutes",
    )
    q = (
        out.writeStream.format("memory").queryName("sess_stream_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "query did not finish in 300 s"
    finally:
        q.stop()
    res = spark.sql("SELECT * FROM sess_stream_out").toPandas()
    got = {
        (r["user_id"], int(r["ws"]), int(r["we"])): int(r["n_events"])
        for _, r in res.iterrows()
    }
    assert got == {
        # u1's first session: 10:00 + 10:20 + cross-batch 10:40
        ("u1", _epoch_ms("10:00"), _epoch_ms("11:10")): 3,
        # u2: two open sessions MERGED by the bridging 10:25 row
        ("u2", _epoch_ms("10:00"), _epoch_ms("11:20")): 3,
        # u1's 13:00 singleton, finalized by the flush batch
        ("u1", _epoch_ms("13:00"), _epoch_ms("13:30")): 1,
    }
    # each session emitted exactly once
    assert len(res) == 3
    # the still-open trailing session never emits in append mode
    assert _epoch_ms("15:00") not in set(res["ws"].astype(int))
