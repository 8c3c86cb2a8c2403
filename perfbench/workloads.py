"""The benchmark's workloads: inputs, one op, and its correctness check.

Each op runs the engine's public functions on the generated inputs and
collects their outputs. ``check`` compares them with facts the input
generator planted and with the reference hash stored for that seed, and
raises ``CheckFailed`` on a mismatch.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import inputs
from layers import SUITE_PHASES

# rows (table) / docs (corpus) per scale; "tiny" is the smoke scale
SCALES = {
    "small": {"rows": 30_000, "docs": 200, "resume_buckets": 8},
    "tiny": {"rows": 4_000, "docs": 100, "resume_buckets": 2},
}
RESUME_FRAC = 0.9  # drift_resume: checkpoint covers seq < RESUME_FRAC * rows


class CheckFailed(Exception):
    """An op's output disagrees with the oracle or the seed's reference."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _canon(v, exact: bool) -> str:
    if isinstance(v, float):
        return repr(v) if exact else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "(" + ",".join(_canon(x, exact) for x in v) + ")"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k], exact)}" for k in sorted(v)) + "}"
    return repr(v)


def digest(rows, exact: bool = False) -> str:
    """Order-free hash of collected rows. Floats are rounded to 9
    significant digits unless ``exact`` (Spark may sum them in any order)."""
    lines = sorted(_canon(tuple(r), exact) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Workload:
    name = ""
    measures_drift = False  # its Python stages are the drift operator's
    ops_per_run = 2  # measured ops; a fixed count, sized for ~10-20 s

    def __init__(self, ctx):
        self.ctx = ctx
        self.scale = SCALES[ctx.scale]
        self.extra_layer: dict[str, float] = {}

    @property
    def ref_path(self) -> str:
        sc = self.scale
        return os.path.join(self.ctx.cache, f"ref_{self.name}_n{sc['rows']}_d{sc['docs']}"
                                            f"_s{self.ctx.seed}.json")

    def check_reference(self, hashes: dict[str, str]) -> None:
        """Every op of a seed must reproduce the first op's hashes; the
        first op is stored only after it passed the oracle checks."""
        if os.path.exists(self.ref_path):
            with open(self.ref_path) as fh:
                ref = json.load(fh)
            bad = [k for k in hashes if ref.get(k) != hashes[k]]
            expect(not bad, f"output hash differs from the seed's reference: {bad}")
        else:
            with open(self.ref_path + ".tmp", "w") as fh:
                json.dump(hashes, fh)
            os.replace(self.ref_path + ".tmp", self.ref_path)

    def reset(self) -> None:
        self.ctx.spark.catalog.clearCache()

    def prepare(self) -> None:
        """Untimed, after setup and before the first op."""

    def state_bytes(self) -> int:
        """Checkpoint bytes the last op wrote."""
        return 0

    def after_op(self, traced: bool) -> None:
        """Untimed, after each op: per-layer figures that need extra reads."""


class _TableWorkload(Workload):
    """Workloads over the generated sequences table."""

    def inputs(self) -> None:
        self.path, self.facts = inputs.sequences_table(
            self.ctx.cache, self.scale["rows"], self.ctx.seed)
        self.rows = self.scale["rows"]

    def load(self) -> None:
        from random_cut_forest_by_aws_spark.sources import sources_dim

        self.seqs = self.ctx.spark.read.parquet(self.path)
        self.dim = sources_dim(self.ctx.spark)

    def warm(self) -> None:
        from pyspark.sql import functions as F

        self.seqs.select(F.sum(F.size("tokens"))).collect()


class Suite(_TableWorkload):
    name = "suite"

    def load(self) -> None:
        super().load()
        from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
        from random_cut_forest_by_aws_spark.plans import SuiteConfig

        self.cfg = SuiteConfig(
            drift=DriftConfig(num_trees=30, sample_size=256, rows_per_bucket=12_500),
            concurrent=False,
            max_violation_rows=1_000_000,  # no truncation: the hash sees every row
        )

    def op(self) -> dict:
        from random_cut_forest_by_aws_spark.plans import ValidationSuite

        t = self.ctx.tracer
        with t.span("suite.run", "plans.suite"):
            self.res = ValidationSuite(self.ctx.spark, self.cfg).run(self.seqs, ref_dim=self.dim)
        with t.span("suite.collect", "plans.suite"):
            return {"verdicts": self.res.verdicts.collect(),
                    "violations": self.res.violations.collect()}

    def check(self, out: dict) -> None:
        f = self.facts
        got = {(r["check"], r["scope"]): r["violation_count"] for r in out["verdicts"]}
        expect(got[("uniqueness", "<table>")] == len(f["dup_keys"]), "uniqueness count")
        expect(got[("token_array_equality", "<table>")] == len(f["mismatch_seqs"]), "invariants")
        expect(got[("referential", "<table>")] == 1, "referential (forums is missing)")
        for src, n in f["null_ids"].items():
            expect(got[("doc_id_not_null", src)] == n, f"null ids of {src}")
        self.check_reference({k: digest(v) for k, v in out.items()})

    def after_op(self, traced: bool) -> None:
        if not traced:
            return
        phases = {r["check"]: r["duration_sec"] for r in self.res.metrics.collect()}
        self.extra_layer = {f"suite.phase.{p}_s": phases.get(p, 0.0) for p in SUITE_PHASES}
        self.extra_layer["_phase_sum"] = sum(phases.values())


class Operators(_TableWorkload):
    """The non-suite operators called one by one: the JVM column checks on
    the sequences table, then the text operators on the corpus."""

    name = "operators"
    # its ops warm up for longer than the suite's: the median of three
    # leaves out the slowest, most often the first
    ops_per_run = 3

    def inputs(self) -> None:
        super().inputs()
        self.corpus_path = inputs.corpus(self.ctx.cache, self.scale["docs"], self.ctx.seed)
        self.docs_n = self.scale["docs"]
        self.rows += self.docs_n  # documents count as rows
        self.quota = max(1, self.docs_n // 50)

    def load(self) -> None:
        super().load()
        self.docs = self.ctx.spark.read.parquet(self.corpus_path)

    def warm(self) -> None:
        from pyspark.sql import functions as F

        super().warm()
        self.docs.select(F.sum(F.length("text"))).collect()

    def calls(self) -> dict:
        from pyspark.sql import functions as F

        from random_cut_forest_by_aws_spark.operators import (
            column_stats,
            referential_violations,
            token_equality_violations,
            uniqueness_violations,
        )
        from random_cut_forest_by_aws_spark.operators.checks import Check
        from random_cut_forest_by_aws_spark.operators.contamination import ngram_contamination
        from random_cut_forest_by_aws_spark.operators.dedup import minhash_candidates
        from random_cut_forest_by_aws_spark.operators.diff import snapshot_diff_summary
        from random_cut_forest_by_aws_spark.operators.distdrift import snapshot_drift_multi
        from random_cut_forest_by_aws_spark.operators.packing import pack_sequences
        from random_cut_forest_by_aws_spark.operators.sampling import quota_sample
        from random_cut_forest_by_aws_spark.operators.scrub import pii_profile
        from random_cut_forest_by_aws_spark.operators.textqc import (
            BPE_ISH_PATTERN,
            repetition_profile,
        )

        seqs, docs = self.seqs, self.docs
        return {
            "stats.column_stats": lambda: column_stats(
                seqs, ["n_tok"], key_cols=["doc_id", "source"], group_by=["source"]),
            "uniqueness.uniqueness_violations": lambda: uniqueness_violations(seqs, ["doc_id"]),
            "referential.referential_violations": lambda: referential_violations(
                seqs, self.dim, ["source"]),
            "constraints.token_equality_violations": lambda: token_equality_violations(seqs),
            "checks.check_run": lambda: (
                Check("bench_rules").is_complete("doc_id")
                .satisfies("n_tok >= 1", "ntok_pos", min_fraction=1.0)
                .has_mean("n_tok", at_least=0.0)
                .has_correlation("n_tok", "seq", at_least=-1.0)
                .is_unique("doc_id").run(seqs)),
            "distdrift.snapshot_drift_multi": lambda: snapshot_drift_multi(
                seqs.filter(F.col("seq") % 2 == 0), seqs.filter(F.col("seq") % 2 == 1),
                {"n_tok": 8.0, "source": None}),
            "diff.snapshot_diff_summary": lambda: snapshot_diff_summary(
                seqs.filter(F.col("seq") % 10 != 0).withColumn(
                    "n_tok", F.when(F.col("seq") % 7 == 0, F.col("n_tok") + 1)
                    .otherwise(F.col("n_tok"))),
                seqs, "doc_id"),
            "scrub.pii_profile": lambda: pii_profile(docs),
            "packing.pack_sequences": lambda: pack_sequences(docs.select(
                "source", "doc_id",
                F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).cast("bigint")
                .alias("n_tok")), 2048, "n_tok"),
            "sampling.quota_sample": lambda: quota_sample(
                docs.select("source", "doc_id"), self.quota),
            "dedup.minhash_candidates": lambda: minhash_candidates(docs),
            "textqc.repetition_profile": lambda: repetition_profile(docs),
            "contamination.ngram_contamination": lambda: ngram_contamination(
                docs.filter(F.col("doc_id") % 97 != 0), docs.filter(F.col("doc_id") % 97 == 0),
                n=3),
        }

    def op(self) -> dict:
        t, out = self.ctx.tracer, {}
        for name, fn in self.calls().items():
            with t.span(name, "operators." + name.split(".")[0]):
                out[name] = fn().collect()
        return out

    def check(self, out: dict) -> None:
        f = self.facts
        stats = {r["source"]: r for r in out["stats.column_stats"]}
        for src, n in f["rows_per_source"].items():
            if n:
                expect(stats[src]["n_rows"] == n, f"column_stats rows of {src}")
                expect(stats[src]["n_tok_min"] == f["n_tok_min"][src], f"n_tok_min of {src}")
                expect(stats[src]["n_tok_max"] == f["n_tok_max"][src], f"n_tok_max of {src}")
        dups = {r["doc_id"]: r["dup_count"] for r in out["uniqueness.uniqueness_violations"]}
        expect(dups == f["dup_keys"], "uniqueness_violations keys")
        ref = [(r["source"], r["fact_rows"]) for r in out["referential.referential_violations"]]
        expect(ref == [("forums", f["rows_per_source"]["forums"])], "referential_violations")
        bad = sorted(r["seq"] for r in out["constraints.token_equality_violations"])
        expect(bad == sorted(f["mismatch_seqs"]), "token_equality_violations rows")

        if not hasattr(self, "pii_expect"):
            import pyarrow.parquet as pq

            from random_cut_forest_by_aws_spark.operators.scrub import PII_PATTERNS

            texts = pq.read_table(self.corpus_path, columns=["text"]).column("text").to_pylist()
            self.pii_expect = {
                k: sum(len(re.findall(p, s)) for s in texts) for k, p in PII_PATTERNS.items()}
        pii = out["scrub.pii_profile"]
        expect(len(pii) == self.docs_n, "pii_profile rows")
        for k, n in self.pii_expect.items():
            expect(sum(r[f"n_{k}"] for r in pii) == n, f"pii_profile n_{k}")
        per_src: dict = {}
        for r in out["sampling.quota_sample"]:
            per_src[r["source"]] = per_src.get(r["source"], 0) + 1
        expect(set(per_src.values()) == {self.quota}, "quota_sample per-source counts")
        expect(len(out["textqc.repetition_profile"]) == self.docs_n, "repetition_profile rows")
        self.check_reference({k: digest(v) for k, v in out.items()})


class DriftResume(_TableWorkload):
    """Drift resumed from a restored checkpoint of ``seq < cut``, over the
    full table. Not a workload of its own: the suite's traced runs run it
    after their ops and take the drift operator's layer figures from it."""

    name = "drift_resume"
    measures_drift = True
    ops_per_run = 3

    def inputs(self) -> None:
        super().inputs()
        self.cut = int(RESUME_FRAC * self.rows)
        self.pristine = os.path.join(
            self.ctx.cache,
            f"resume_n{self.scale['rows']}_b{self.scale['resume_buckets']}_s{self.ctx.seed}")
        self.ckpt = os.path.join(self.ctx.work, "checkpoint")

    def _cfg(self, ckpt: str | None):
        from random_cut_forest_by_aws_spark.operators.drift import DriftConfig

        # a fixed bucket count: the adaptive count follows the group's row
        # count, so more rows on resume would re-key the groups
        return DriftConfig(num_trees=30, sample_size=256,
                           buckets=self.scale["resume_buckets"], checkpoint_dir=ckpt)

    def load(self) -> None:
        super().load()
        from random_cut_forest_by_aws_spark.functions import token_features

        self.feat = self.seqs.withColumn("features", token_features()).select(
            "source", "seq", "features")

    def _canon_raw(self, rows) -> dict[str, str]:
        """Resume contract: rows at or past the cut, plus the summaries."""
        fresh = [r for r in rows if r["row_kind"] != "summary" and r["seq"] >= self.cut]
        summ = [r for r in rows if r["row_kind"] == "summary"]
        return {"fresh": digest(fresh, exact=True), "summary": digest(summ, exact=True)}

    def prepare(self) -> None:
        """Untimed: build the pristine checkpoint if the cache lacks it, and
        run the uninterrupted pass the resume contract is checked against."""
        from pyspark.sql import functions as F

        from random_cut_forest_by_aws_spark.operators.drift import drift_scores, drift_verdicts

        counts = self.pristine + ".json"
        if not os.path.exists(counts):
            tmp = self.pristine + f".tmp{os.getpid()}"
            part = drift_scores(self.feat.filter(F.col("seq") < self.cut), cfg=self._cfg(tmp))
            scored = sum(r["n_scored"] for r in part.collect() if r["row_kind"] == "summary")
            shutil.rmtree(self.pristine, ignore_errors=True)
            os.replace(tmp, self.pristine)
            with open(counts + ".tmp", "w") as fh:
                json.dump({"n_scored": scored}, fh)
            os.replace(counts + ".tmp", counts)
        with open(counts) as fh:
            self.pristine_scored = json.load(fh)["n_scored"]
        full = drift_scores(self.feat, cfg=self._cfg(None)).localCheckpoint(eager=True)
        self.ref = self._canon_raw(full.collect())
        self.ref["verdicts"] = digest(drift_verdicts(full, cfg=self._cfg(None)).collect())

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.pristine, self.ckpt)

    def op(self) -> dict:
        from random_cut_forest_by_aws_spark.operators.drift import drift_scores, drift_verdicts

        t, cfg = self.ctx.tracer, self._cfg(self.ckpt)
        with t.span("drift.scores", "operators.drift"):
            raw = drift_scores(self.feat, cfg=cfg).localCheckpoint(eager=True)
        with t.span("drift.verdicts", "operators.drift"):
            verdicts = drift_verdicts(raw, cfg=cfg).collect()
        with t.span("drift.collect", "operators.drift"):
            return {"raw": raw.collect(), "verdicts": verdicts}

    def check(self, out: dict) -> None:
        got = self._canon_raw(out["raw"])
        for k in ("fresh", "summary"):
            expect(got[k] == self.ref[k], f"resumed {k} rows differ from the uninterrupted run")
        expect(digest(out["verdicts"]) == self.ref["verdicts"], "resumed verdicts differ")
        self.last_scored = sum(r["n_scored"] for r in out["raw"] if r["row_kind"] == "summary")

    def state_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.ckpt, f)) for f in os.listdir(self.ckpt))

    def after_op(self, traced: bool) -> None:
        self.extra_layer = {
            "drift.state_files_read": float(len(os.listdir(self.pristine))),
            "drift.state_bytes_written": float(self.state_bytes()),
            "drift.rows_scored": float(self.last_scored - self.pristine_scored),
        }


WORKLOADS = {w.name: w for w in (Suite, Operators)}
# run after the workload's ops in its traced runs only
TRACED_EXTRA = {"suite": DriftResume}
