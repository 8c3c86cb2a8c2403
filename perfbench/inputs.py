"""Seeded input generation for the benchmark, cached per (size, seed).

Inputs are made with NumPy and PyArrow only, so generating them needs no
Spark session and a change to the engine (including its own synthesizer
in ``sources/sequences.py``) never changes what the benchmark feeds it.
Each generator also returns the facts it planted (duplicate keys, null
ids, broken token counts), which the workloads use as an oracle.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "books", "code", "wiki", "forums")
SOURCE_CDF = (0.80, 0.85, 0.91, 0.96, 1.0)  # web-heavy skew
VOCAB = 50_000
N_DUP_KEYS = 32
DUP_FRAC, NULL_FRAC, MISMATCH_FRAC = 0.001, 0.0005, 0.0005


def _publish(tmp: str, final: str) -> None:
    """Atomic directory publish: a reader sees the whole input or none."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def sequences_table(cache: str, rows: int, seed: int, files: int = 8) -> tuple[str, dict]:
    """Tokenized-sequence table ``doc_id, tokens, n_tok, source, seq``.

    Planted: duplicate and null ``doc_id``s, ``n_tok`` off by one on a few
    rows, and drift in the second half of ``source='code'`` (longer
    sequences, flatter token distribution). Written as ``files`` parquet
    files so the scan splits across cores.
    """
    path = os.path.join(cache, f"sequences_n{rows}_s{seed}")
    facts_path = os.path.join(path, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as fh:
            return os.path.join(path, "data"), json.load(fh)
    rng = np.random.default_rng([seed, 1])
    seq = np.arange(rows, dtype=np.int64)
    src_idx = np.searchsorted(np.array(SOURCE_CDF), rng.random(rows), side="right")
    src_idx = np.minimum(src_idx, len(SOURCES) - 1)
    drifted = (src_idx == SOURCES.index("code")) & (seq >= rows // 2)
    mu = np.where(drifted, 5.0, 4.0)
    n_true = np.clip(np.exp(mu + 0.8 * rng.standard_normal(rows)), 1, 8192).astype(np.int32)
    offsets = np.zeros(rows + 1, np.int64)
    np.cumsum(n_true, out=offsets[1:])
    expo = np.repeat(np.where(drifted, 1.0, 3.0), n_true)
    tokens = np.minimum(VOCAB - 1, (rng.random(offsets[-1]) ** expo * VOCAB)).astype(np.int32)

    u_null, u_dup, u_mis = rng.random(rows), rng.random(rows), rng.random(rows)
    dup_pick = rng.integers(0, N_DUP_KEYS, rows)
    src_names = np.array(SOURCES, dtype=object)[src_idx]
    doc_id = np.array([f"{s}-{i:012d}" for s, i in zip(src_names, seq)], dtype=object)
    is_dup = u_dup < DUP_FRAC
    doc_id[is_dup] = np.array([f"dup-{k:03d}" for k in dup_pick[is_dup]], dtype=object)
    is_null = u_null < NULL_FRAC
    doc_id[is_null] = None
    mismatch = u_mis < MISMATCH_FRAC
    n_tok = n_true + mismatch.astype(np.int32)

    table = pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(tokens)),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(src_names, pa.string()),
        "seq": pa.array(seq, pa.int64()),
    })
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "data"), exist_ok=True)
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for f in range(files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(tmp, "data", f"part-{f:03d}.parquet"))

    keys = doc_id[~is_null]
    uniq, counts = np.unique(keys.astype(str), return_counts=True)
    facts = {
        "rows": rows,
        "seed": seed,
        "dup_keys": {k: int(c) for k, c in zip(uniq, counts) if c > 1},
        "null_ids": {s: int((is_null & (src_idx == i)).sum()) for i, s in enumerate(SOURCES)},
        "mismatch_seqs": seq[mismatch].tolist(),
        "rows_per_source": {s: int((src_idx == i).sum()) for i, s in enumerate(SOURCES)},
        "n_tok_min": {s: int(n_tok[src_idx == i].min()) for i, s in enumerate(SOURCES)
                      if (src_idx == i).any()},
        "n_tok_max": {s: int(n_tok[src_idx == i].max()) for i, s in enumerate(SOURCES)
                      if (src_idx == i).any()},
    }
    with open(os.path.join(tmp, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    _publish(tmp, path)
    return os.path.join(path, "data"), facts


WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "index cache page disk node task shard tree leaf cut forest score drift "
    "sample point model token text word doc corpus clean dedup pack split"
).split()


def corpus(cache: str, docs: int, seed: int) -> str:
    """Text corpus ``doc_id, text, lang, source, n_chars`` in ONE parquet
    file with ONE row group (the shape that makes the engine's spread
    guard fire). Planted: e-mails, phone numbers, IPs, URLs and digit
    runs in some documents, and near-duplicate documents for minhash."""
    path = os.path.join(cache, f"corpus_n{docs}_s{seed}")
    data = os.path.join(path, "documents.parquet")
    if os.path.exists(data):
        return data
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(w))
            continue
        w = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        r = rng.random()
        at = int(rng.integers(0, len(w)))
        if r < 0.05:
            w.insert(at, f"user{int(rng.integers(0, 999))}@example.com")
        elif r < 0.08:
            w.insert(at, f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}")
        elif r < 0.10:
            w.insert(at, "10.%d.%d.%d" % tuple(int(v) for v in rng.integers(0, 255, 3)))
        elif r < 0.12:
            w.insert(at, f"https://site{int(rng.integers(0, 99))}.org/p/{i}")
        elif r < 0.14:
            w.insert(at, str(int(rng.integers(10_000, 10_000_000))))
        texts.append(" ".join(w))
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(["en", "de", "fr", "zh"], dtype=object)[
            rng.integers(0, 4, docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "documents.parquet"), row_group_size=docs)
    _publish(tmp, path)
    return data
