"""Tracing and per-layer metrics, measured from outside the package.

Spans are recorded by the benchmark around its own calls into the
package's modules (none inside the package). Spark work is attributed to a
span by time window: the benchmark runs one op at a time, so every job
submitted inside a span's window belongs to it. Job, stage and task
figures come from Spark's event log, which the traced run turns on.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# Every layer a span can name; the self-time table reports each of them on
# every workload (0 where the workload does not call that module).
LAYERS = (
    "plans.suite", "operators.drift", "operators.stats", "operators.uniqueness",
    "operators.referential", "operators.constraints", "operators.checks",
    "operators.distdrift", "operators.diff", "operators.scrub",
    "operators.packing", "operators.sampling", "operators.dedup",
    "operators.textqc", "operators.contamination",
)
CHECK_CALLS = (
    "stats.column_stats", "uniqueness.uniqueness_violations",
    "referential.referential_violations", "constraints.token_equality_violations",
    "checks.check_run", "distdrift.snapshot_drift_multi", "diff.snapshot_diff_summary",
)
TEXT_CALLS = (
    "scrub.pii_profile", "packing.pack_sequences", "sampling.quota_sample",
    "dedup.minhash_candidates", "textqc.repetition_profile",
    "contamination.ngram_contamination",
)
SUITE_PHASES = ("drift", "column_stats", "uniqueness", "referential", "token_invariants")
PY_SENT = "data sent to Python workers"


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    m = [(f"suite.phase.{p}_s", "s", "lower") for p in SUITE_PHASES]
    m += [("suite.compose_s", "s", "lower")]
    m += [
        ("drift.scores_s", "s", "lower"), ("drift.verdicts_s", "s", "lower"),
        ("drift.jobs", "count", "lower"), ("drift.tasks", "count", "lower"),
        ("drift.task_s_p50", "s", "lower"), ("drift.task_s_max", "s", "lower"),
        ("drift.rows_shipped", "rows", "lower"), ("drift.python_bytes_sent", "B", "lower"),
        ("drift.rows_scored", "rows", "higher"), ("drift.useful_frac", "ratio", "higher"),
        ("drift.state_files_read", "count", "lower"),
        ("drift.state_bytes_written", "B", "lower"),
        ("core.forest.to_state_ms", "ms", "lower"), ("core.forest.from_state_ms", "ms", "lower"),
        ("core.forest.update_us_per_pt", "us", "lower"),
        ("core.forest.score_us_per_pt", "us", "lower"),
        ("core.forest.attribution_us_per_pt", "us", "lower"),
    ]
    for c in CHECK_CALLS:
        m += [(f"{c}_s", "s", "lower"), (f"{c}.shuffle_write_bytes", "B", "lower"),
              (f"{c}.spill_bytes", "B", "lower")]
    for c in TEXT_CALLS:
        m += [(f"{c}_s", "s", "lower"), (f"{c}.scan_tasks", "count", "higher")]
    m += [
        ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"), ("spark.tasks_failed", "count", "lower"),
        ("spark.task_s_sum", "s", "lower"), ("spark.busy_frac", "ratio", "higher"),
        ("setup.session_s", "s", "lower"), ("setup.import_s", "s", "lower"),
        ("setup.input_s", "s", "lower"), ("setup.warm_s", "s", "lower"),
        ("state_bytes", "B", "lower"), ("failed_op_frac", "ratio", "lower"),
    ]
    m += [(f"self.{layer}_s", "s", "lower") for layer in LAYERS]
    m += [("self.uncovered_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
    return m


class Tracer:
    """In-memory spans: name, layer, start, end (epoch s), parent, op id.

    With ``enabled`` false, ``span`` records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, op: int) -> dict[str, float]:
        """Per-layer self time of one op: each span's duration minus the
        part its child spans cover. The op's root span has layer "op"; its
        self time is the part of the op no layer span covers."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op]
        dur = {i: self.spans[i]["end"] - self.spans[i]["start"] for i in idx}
        child = dict.fromkeys(idx, 0.0)
        for i in idx:
            p = self.spans[i]["parent"]
            if p is not None:
                child[p] += dur[i]
        out: dict[str, float] = {}
        for i in idx:
            layer = self.spans[i]["layer"]
            out[layer] = out.get(layer, 0.0) + dur[i] - child[i]
        return out


# ---------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs {id: {submit_ms, stages}} and completed stage attempts
    {(id, attempt): {tasks, acc: {name: value}, task_s: [..], failed}}."""
    jobs: dict = {}
    stages: dict = {}
    task_s: dict = {}
    failed: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"submit_ms": e["Submission Time"],
                                         "stages": e["Stage IDs"]}
                elif ev == "SparkListenerTaskEnd":
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    ti = e["Task Info"]
                    task_s.setdefault(key, []).append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
                    failed[key] = failed.get(key, 0) + int(bool(ti.get("Failed")))
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc: dict[str, float] = {}
                    for a in si.get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
                    stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                        "tasks": si["Number of Tasks"], "acc": acc}
    for key, st in stages.items():
        st["task_s"] = task_s.get(key, [])
        st["failed"] = failed.get(key, 0)
    return jobs, stages


def window_work(jobs: dict, stages: dict, start: float, end: float) -> dict:
    """Jobs submitted in [start, end] (epoch s) and the stages they ran."""
    ids = sorted(j for j, v in jobs.items() if start * 1e3 <= v["submit_ms"] <= end * 1e3 + 1)
    want = {s for j in ids for s in jobs[j]["stages"]}
    return {"jobs": ids, "stages": [stages[k] for k in sorted(stages) if k[0] in want]}


def spark_figures(work: dict, wall: float, cores: int) -> dict[str, float]:
    st = work["stages"]
    task_s = sum(sum(s["task_s"]) for s in st)
    return {
        "spark.jobs": len(work["jobs"]),
        "spark.stages": len(st),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.tasks_failed": sum(s["failed"] for s in st),
        "spark.task_s_sum": task_s,
        "spark.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
    }


def acc_sum(stage_list: list[dict], *names: str) -> float:
    return sum(s["acc"].get(n, 0.0) for s in stage_list for n in names)


def python_stage_figures(work: dict) -> dict[str, float]:
    """Grouped-map (Python) stages: task spread, rows and bytes shipped."""
    py = [s for s in work["stages"] if PY_SENT in s["acc"]]
    durs = sorted(d for s in py for d in s["task_s"])
    return {
        "drift.tasks": sum(s["tasks"] for s in py),
        "drift.task_s_p50": statistics.median(durs) if durs else 0.0,
        "drift.task_s_max": durs[-1] if durs else 0.0,
        "drift.rows_shipped": acc_sum(py, "internal.metrics.shuffle.read.recordsRead"),
        "drift.python_bytes_sent": acc_sum(py, PY_SENT),
    }


def call_figures(name: str, work: dict) -> dict[str, float]:
    """A text call's scan width: the task count of its first stage (1 on the
    one-file corpus, the input the spread guard acts on); a column check's
    shuffle bytes written and bytes spilled."""
    st = work["stages"]
    if name in TEXT_CALLS:
        return {f"{name}.scan_tasks": st[0]["tasks"] if st else 0}
    return {
        f"{name}.shuffle_write_bytes": acc_sum(st, "internal.metrics.shuffle.write.bytesWritten"),
        f"{name}.spill_bytes": acc_sum(st, "internal.metrics.memoryBytesSpilled",
                                       "internal.metrics.diskBytesSpilled"),
    }


def medians(per_op: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in per_op for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in per_op) for k in keys}
