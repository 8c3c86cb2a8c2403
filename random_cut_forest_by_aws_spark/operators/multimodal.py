"""Multimodal (image/audio/video) columns as opaque binaries + metadata.

Training-data pipelines carry media as ``binary`` columns with typed
metadata; Spark's job is the plumbing — schema, partitioning, Arrow batch
shape — while codec work happens in vectorized Python stages. The codec
libraries are not available in this container, so the decode kernels are
deterministic STUBS (clearly marked); everything around them — the
``mapInPandas`` iterator protocol, batch sizing, schema contracts,
metadata validation — is real and tested.

Stages:
* ``media_metadata_violations`` — pure-DataFrame checks on (mime, bytes,
  declared dims/duration) consistency;
* ``decode_features`` — mapInPandas: binary → fixed-size float feature
  vector (stub: deterministic bytes-histogram "embedding"; swap
  ``_decode_stub`` for a real decoder);
* ``sample_frames`` — mapInPandas: video binary → N frame features
  (stub frame extraction at uniform offsets);
* ``resize_plan`` — metadata-only computation of target dims (pure JVM).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA_DOC = (
    "media(doc_id string, mime string, payload binary, width int, "
    "height int, duration_ms int)"
)


def synth_media(spark, n_rows: int = 200, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded pseudo-bytes) —
    the container has no codecs, so payloads are opaque test bytes with
    self-consistent metadata (plus a few planted violations)."""
    base = spark.range(n_rows).select(
        F.format_string("m-%06d", F.col("id")).alias("doc_id"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
        ).alias("mime"),
        F.col("id"),
    )
    payload = F.encode(
        F.concat(
            F.lit("BLOB"),
            F.repeat(
                F.format_string("%08x", F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1 << 30))),
                (F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(64)) + 8).cast("int"),
            ),
        ),
        "utf-8",
    )
    bad = F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(100)) < 3
    return base.select(
        "doc_id",
        "mime",
        payload.alias("payload"),
        F.when(F.col("mime") == "image/png", F.lit(64)).otherwise(F.lit(None)).alias("width"),
        F.when(F.col("mime") == "image/png",
               F.when(bad, F.lit(-1)).otherwise(F.lit(64))).otherwise(F.lit(None)).alias("height"),
        F.when(F.col("mime") != "image/png", F.lit(30_000)).otherwise(F.lit(None)).alias(
            "duration_ms"
        ),
    )


def media_metadata_violations(df: DataFrame) -> DataFrame:
    """Typed-metadata invariants (pure DataFrame, codegen'd)."""
    from .constraints import row_invariant_violations

    return row_invariant_violations(
        df,
        {
            "payload_not_null": F.col("payload").isNotNull(),
            "payload_not_empty": F.length("payload") > 0,
            "image_dims_positive": (F.col("mime") != "image/png")
            | ((F.col("width") > 0) & (F.col("height") > 0)),
            "av_duration_positive": (~F.col("mime").isin("audio/wav", "video/mp4"))
            | (F.col("duration_ms") > 0),
        },
        ["doc_id", "mime"],
    )


_FEAT_DIM = 16


def docs_as_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Adapter: a text table as a media table (payload = utf-8 bytes of
    the text, mime label derived from the text length). Deterministic and
    SQL-reproducible byte content — this is what lets the media decode
    plumbing be oracle-checked against DuckDB byte math over the same
    parquet table instead of staying a rows-only sketch check."""
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.pmod(F.length(F.col(text_col)), F.lit(3)) + 1).cast("int"),
    )
    n = F.length(F.col(text_col))
    is_img = F.pmod(n, F.lit(3)) == 0
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        mime.alias("mime"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        # deterministic typed metadata derived from the text length, so
        # dims-based stages (resize planning, metadata checks) are also
        # SQL-reproducible
        F.when(is_img, (F.pmod(n, F.lit(64)) + 32).cast("int")).alias("width"),
        F.when(is_img, (F.pmod(n * 7, F.lit(64)) + 32).cast("int")).alias("height"),
        F.when(~is_img, (n * 100).cast("int")).alias("duration_ms"),
    )


def _decode_stub(payload: bytes, mime: str) -> np.ndarray:
    """STUB decoder: deterministic 16-d byte-histogram 'embedding'
    (float64; callers cast). Replace with a real decoder (PIL /
    torchaudio / pyav) in production — NotImplementedError semantics are
    intentionally NOT raised here so the Spark plumbing stays exercisable
    end-to-end in this container.
    """
    arr = np.frombuffer(payload or b"\x00", np.uint8)
    hist = np.bincount(arr % _FEAT_DIM, minlength=_FEAT_DIM).astype(np.float64)
    return hist / max(arr.size, 1)


def decode_features(df: DataFrame, precise: bool = False) -> DataFrame:
    """binary payload → float feature vector via mapInPandas (Arrow
    batches; payloads never land in driver memory; executors stream
    batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows).
    ``precise=True`` keeps float64 features (exact p/q rationals —
    oracle-comparable); default float32 matches production embedding
    width."""
    ftype = "double" if precise else "float"
    out_schema = f"doc_id string, mime string, features array<{ftype}>"
    np_t = np.float64 if precise else np.float32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_stub(p, m).astype(np_t).tolist()
                for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "mime": pdf["mime"], "features": feats}
            )

    conf_df = df.select("doc_id", "mime", "payload")
    return conf_df.mapInPandas(fn, out_schema)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video → n uniformly-spaced 'frames' (stub: payload slices), one
    output row per frame — the explode-shaped mapInPandas pattern used by
    real frame samplers."""
    out_schema = "doc_id string, frame int, features array<float>"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = payload or b"\x00"
                step = max(1, len(b) // n_frames)
                for k in range(n_frames):
                    seg = bytes(b[k * step : (k + 1) * step]) or b"\x00"
                    rows.append(
                        (doc_id, k, _decode_stub(seg, "frame").astype(np.float32).tolist())
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame", "features"])

    return df.filter(F.col("mime") == "video/mp4").select("doc_id", "payload").mapInPandas(
        fn, out_schema
    )


def resize_plan(df: DataFrame, target: int = 224) -> DataFrame:
    """Metadata-only resize planning (aspect-preserving short side →
    target): stays entirely JVM-side; the actual pixel work would follow
    in a decode stage."""
    scale = F.lit(target) / F.least("width", "height").cast("double")
    return df.filter(F.col("mime") == "image/png").select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )
