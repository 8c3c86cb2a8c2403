"""Full rehearsal of the driver's correctness gate under ANSI mode.

The external driver runs every ``queries()`` entry at sf0.01 with
``spark.sql.ansi.enabled=true`` and canonicalizes ALL columns (so a
crashing expression in any column fails the gate even if ``.count()``
would hide it). The pytest rehearsal (tests/test_entry_oracle.py) runs
under the default session; this script is the ANSI-ON replica of the
whole gate — run it after a batch of new gate entries and before a
round ends.

Usage: python scripts/replay_gate.py [--sf-dir /root/testdata/sf0.01]
                                     [--only name1,name2]
Exit 0 iff every oracle matches and every rows-only query runs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        else:
            # The driver sorts object columns AS-IS (pandas factorize),
            # which CRASHES on unhashable values (lists/arrays/dicts).
            # Round 5 masked exactly that failure class by stringifying
            # first — the replay certified "0 failures" while the driver
            # recorded one. Fail here like the driver fails.
            head = pdf[c].head(100)
            if any(isinstance(v, (list, np.ndarray, dict, set)) for v in head):
                raise TypeError(
                    f"column {c!r} holds unhashable values (list/array) — "
                    "the driver canonicalizer cannot sort it; flatten the "
                    "query output (concat_ws / posexplode)"
                )
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (default: all)")
    args = ap.parse_args()

    # replay the checkout this script lives in, whatever the working
    # directory: on the driver's path and, through PYTHONPATH, on the
    # Python workers' path (UDFs import the package there)
    root = str(Path(__file__).resolve().parents[1])
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as em
    from random_cut_forest_by_aws_spark import get_spark

    spark = get_spark(
        app_name="gate-replay", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.sql.ansi.enabled": "true"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs, oracles = em.queries(), em.oracle_sql()
    names = sorted(qs) if not args.only else args.only.split(",")
    n_pass = n_rows_only = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            got = _normalize(qs[name](spark, args.sf_dir).toPandas())
            if name not in oracles:
                n_rows_only += 1
                print(f"ROWS-ONLY {name}: {len(got)} rows "
                      f"({time.time()-t0:.1f}s)", flush=True)
                continue
            exp = _normalize(con.execute(oracles[name]).fetchdf())
            assert list(got.columns) == list(exp.columns), \
                f"schema {list(got.columns)} vs {list(exp.columns)}"
            assert len(got) == len(exp), f"rows {len(got)} vs {len(exp)}"
            for c in got.columns:
                a, b = got[c].to_numpy(), exp[c].to_numpy()
                if a.dtype.kind == "f":
                    ok = np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
                else:
                    ok = np.array_equal(a, b)
                assert ok, f"column {c} differs"
            n_pass += 1
            print(f"PASS      {name}: {len(got)} rows "
                  f"({time.time()-t0:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 - report and continue
            n_fail += 1
            print(f"FAIL      {name}: {exc}", flush=True)
    print(f"\ngate replay (ANSI ON): {n_pass} oracle-green / "
          f"{n_rows_only} rows-only / {n_fail} failures "
          f"of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
