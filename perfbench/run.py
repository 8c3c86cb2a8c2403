#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (cached under ``.perfbench/``, untimed), sets up a Spark session on
``local[<cores>]`` and runs a first op, then runs ops one at a time (a
closed loop): the workload's fixed op count, and more while ``--seconds``
have not passed. Every op's output is checked. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (alternate ops run with spans on, and the
suite's traced runs then also resume drift from a checkpoint; see
``layers.py`` and ``workloads.py``). A sidecar JSON with the spans, per-op
figures and the run's execution shape is written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
END_TO_END = (("rows_per_s", "rows/s"), ("first_op_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MiB"))
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env() -> None:
    """Single-threaded BLAS, and every temp/local dir inside the checkout
    (inherited by the JVM and the Python workers it starts)."""
    for v in BLAS_VARS:
        os.environ[v] = "1"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: temp files here and no
    # perf-data files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def tree_hwm() -> tuple[float, dict[str, float]]:
    """Peak RSS (VmHWM, MiB) summed over this process and all its
    descendants, the JVM and the Python workers it forks; and per process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    per: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                st = dict(line.split(":", 1) for line in fh if ":" in line)
            per[f"{st['Name'].strip()}:{pid}"] = int(st["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return sum(per.values()), per


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


def import_engine() -> None:
    import random_cut_forest_by_aws_spark  # noqa: F401
    import random_cut_forest_by_aws_spark.core.forest  # noqa: F401
    import random_cut_forest_by_aws_spark.operators  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.checks  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.contamination  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.dedup  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.diff  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.distdrift  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.drift  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.packing  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.sampling  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.scrub  # noqa: F401
    import random_cut_forest_by_aws_spark.operators.textqc  # noqa: F401
    import random_cut_forest_by_aws_spark.plans  # noqa: F401


def start_session(cores: int, event_log: str | None):
    from random_cut_forest_by_aws_spark import get_spark

    conf = {
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb is then
        # the same on every run and the metric moves with the Python side
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (its Python workers
    stop with the SparkContext)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def ensure_ckernel() -> None:
    """Compile the engine's C kernel into the cached temp dir (untimed), so
    the first op pays for loading it, not for a one-off compile."""
    subprocess.run([sys.executable, "-c", "import random_cut_forest_by_aws_spark.core.ckernel"],
                   check=True, cwd=ROOT)


def shape(spark, cores: int) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "cores": cores,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "blas_threads": {v: os.environ.get(v) for v in BLAS_VARS},
        "RCF_FORCE_PY": os.environ.get("RCF_FORCE_PY"),
        "SPARK_GRAFT_SUITE_CONCURRENT": os.environ.get("SPARK_GRAFT_SUITE_CONCURRENT"),
        "suite_concurrent": False,
    }


def forest_micro() -> dict[str, float]:
    """In-process RCF kernels on a fixed 12,500 x 4 sample, 30 trees,
    sample size 256: microseconds per point for update, score, attribution."""
    import numpy as np

    from random_cut_forest_by_aws_spark.core.forest import RCFForest

    X = np.random.default_rng(12345).normal(size=(12_500, 4)).astype(np.float32)
    f = RCFForest(4, num_trees=30, sample_size=256, time_decay=0.0, seed=42)
    t = time.perf_counter()
    for i in range(0, len(X), 4096):
        f.update_batch(X[i:i + 4096])
    out = {"core.forest.update_us_per_pt": (time.perf_counter() - t) / len(X) * 1e6}
    t = time.perf_counter()
    f.score(X)
    out["core.forest.score_us_per_pt"] = (time.perf_counter() - t) / len(X) * 1e6
    t = time.perf_counter()
    f.attribution(X)
    out["core.forest.attribution_us_per_pt"] = (time.perf_counter() - t) / len(X) * 1e6
    return out


def state_round_trip(ckpt_dir: str) -> dict[str, float]:
    """Forest to_state / from_state time summed over a checkpoint's files."""
    from random_cut_forest_by_aws_spark.core.forest import RCFForest
    # the checkpoint file format is the drift operator's own; its reader
    # yields the forests whose public to_state/from_state are timed
    from random_cut_forest_by_aws_spark.operators.drift import _load_group_state

    to_s = from_s = 0.0
    for name in sorted(os.listdir(ckpt_dir)):
        forest = _load_group_state(os.path.join(ckpt_dir, name))[0]
        t = time.perf_counter()
        st = forest.to_state()
        to_s += time.perf_counter() - t
        t = time.perf_counter()
        RCFForest.from_state(st)
        from_s += time.perf_counter() - t
    return {"core.forest.to_state_ms": to_s * 1e3, "core.forest.from_state_ms": from_s * 1e3}


class Ctx:
    def __init__(self, a, tracer):
        self.seed, self.scale = a.seed, a.scale
        self.work, self.cache = WORK, os.path.join(WORK, "cache")
        self.tracer, self.spark = tracer, None
        os.makedirs(self.cache, exist_ok=True)


def layer_metrics(tracer, ops: list[dict], event_log: str, cores: int) -> dict[str, float]:
    """Medians over the traced ops. The drift.* figures come from the extra
    (drift-resume) ops when the run had them, everything else from the
    workload's own ops."""
    import layers

    jobs, stages = layers.read_event_log(event_log)
    per_op: dict[bool, list] = {False: [], True: []}
    for op in ops:
        if not op["traced"] or not op["ok"]:
            continue
        k, spans = op["k"], [s for s in tracer.spans if s["op"] == op["k"]]
        root = next(s for s in spans if s["layer"] == "op")
        work = layers.window_work(jobs, stages, root["start"], root["end"])
        m = layers.spark_figures(work, op["wall"], cores)
        if op["drift"]:
            m.update(layers.python_stage_figures(work))
        selfs = tracer.self_times(k)
        m.update({f"self.{layer}_s": selfs.get(layer, 0.0) for layer in layers.LAYERS})
        m["self.uncovered_s"] = selfs.get("op", 0.0)
        for s in spans:
            dur = s["end"] - s["start"]
            sw = layers.window_work(jobs, stages, s["start"], s["end"])
            if s["name"] in layers.CHECK_CALLS + layers.TEXT_CALLS:
                m[f"{s['name']}_s"] = dur
                m.update(layers.call_figures(s["name"], sw))
            elif s["name"] in ("drift.scores", "drift.verdicts"):
                m[f"{s['name']}_s"] = dur
                if s["name"] == "drift.scores":
                    m["drift.jobs"] = len(sw["jobs"])
        extra = op["extra"]
        if "_phase_sum" in extra:
            m["suite.compose_s"] = op["wall"] - extra["_phase_sum"]
        m.update({n: v for n, v in extra.items() if not n.startswith("_")})
        if m.get("drift.rows_shipped"):
            m["drift.useful_frac"] = m.get("drift.rows_scored", 0.0) / m["drift.rows_shipped"]
        per_op[op["extra_op"]].append(m)
    out = layers.medians(per_op[False])
    out.update((n, v) for n, v in layers.medians(per_op[True]).items() if n.startswith("drift."))
    return out


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="small", help="input size: small (default) or tiny")
    return p.parse_args()


def main() -> int:
    a = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "random_cut_forest_by_aws_spark", "__init__.py")):
        log("the engine package random_cut_forest_by_aws_spark/ is not next to perfbench/")
        return 2
    configure_env()
    sys.path.insert(0, HERE)
    import layers
    from workloads import SCALES, TRACED_EXTRA, WORKLOADS

    if a.workload not in WORKLOADS or a.scale not in SCALES:
        log(f"unknown workload or scale; workloads: {sorted(WORKLOADS)}, scales: {sorted(SCALES)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    tracer = layers.Tracer()
    ctx = Ctx(a, tracer)
    wl = WORKLOADS[a.workload](ctx)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    wl.inputs()
    ensure_ckernel()
    # ---- setup (timed): engine import, session, input read, warm scan
    t = time.perf_counter()
    import_engine()
    import_s = time.perf_counter() - t
    event_log = os.path.join(WORK, "eventlog", f"{os.getpid()}") if a.trace else None
    t = time.perf_counter()
    ctx.spark = spark = start_session(cores, event_log)
    try:
        session_s = time.perf_counter() - t
        input_s, warm_s = [], []
        for _ in range(SETUP_REPEATS):
            spark.catalog.clearCache()
            t = time.perf_counter()
            wl.load()
            input_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm()
            warm_s.append(time.perf_counter() - t)
        setup = {"setup.session_s": session_s, "setup.import_s": import_s,
                 "setup.input_s": statistics.median(input_s),
                 "setup.warm_s": statistics.median(warm_s)}
        run_shape = shape(spark, cores)
        wl.prepare()

        # ---- ops: a closed loop, one op at a time
        ops: list[dict] = []
        peak_mb, peak_procs = 0.0, {}

        def run_op(w, k: int, traced: bool) -> dict:
            nonlocal peak_mb, peak_procs
            w.reset()
            tracer.enabled, tracer.op_id = traced, k
            rec = {"k": k, "traced": traced, "ok": False, "extra": {},
                   "extra_op": w is not wl, "drift": w.measures_drift}
            t0 = time.perf_counter()
            try:
                with tracer.span("op", "op"):
                    out = w.op()
                rec["wall"] = time.perf_counter() - t0
                tracer.enabled = False
                w.check(out)
                rec["ok"] = True
                w.after_op(traced)
                rec["extra"] = dict(w.extra_layer)
                rec["state_bytes"] = w.state_bytes()
            except Exception as e:  # a failed op counts against failed_op_frac
                rec.setdefault("wall", time.perf_counter() - t0)
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
                log(f"op {k} failed: {rec['error']}")
            tracer.enabled = False
            mb, procs = tree_hwm()
            if mb > peak_mb:
                peak_mb, peak_procs = mb, procs
            ops.append(rec)
            return rec

        first = run_op(wl, 0, False)
        t_loop = time.perf_counter()
        k = 1
        # a fixed op count keeps the median at the same point of the warm-up
        # curve (ops still speed up over the first few) on every run
        while time.perf_counter() - t_loop < a.seconds or k <= wl.ops_per_run:
            run_op(wl, k, bool(a.trace) and k % 2 == 1)
            k += 1
        loop = ops[1:]
        good = [o["wall"] for o in loop if o["ok"] and not o["traced"]]

        extra_layer = {}
        extra_cls = TRACED_EXTRA.get(a.workload)
        if a.trace and extra_cls:
            xw = extra_cls(ctx)
            xw.inputs()
            xw.load()
            xw.prepare()
            for j in range(xw.ops_per_run):
                run_op(xw, k + j, True)
            extra_layer.update(state_round_trip(xw.pristine))
        if a.trace:
            extra_layer.update(forest_micro())
        failed = sum(not o["ok"] for o in ops)
    finally:
        stop_session(spark)
    run_shape["loadavg_before"] = load_before
    run_shape["loadavg_after"] = os.getloadavg()
    run_shape["cpu_steal_frac"] = steal_frac(cpu_before, cpu_times())
    # checkpoint bytes written per op: the drift-resume ops' when there are any
    state_bytes = [o["state_bytes"] for o in ops if o["ok"] and o["extra_op"]] or [
        o.get("state_bytes", 0) for o in ops]

    if a.trace:
        metrics = dict.fromkeys((n for n, _, _ in layers.per_layer_spec()), 0.0)
        metrics.update(layer_metrics(tracer, ops[1:], event_log, cores))
        shutil.rmtree(event_log, ignore_errors=True)
        metrics.update(setup)
        metrics.update(extra_layer)
        traced = [o["wall"] for o in loop if o["ok"] and o["traced"]]
        if traced and good:
            metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(good)
        metrics["state_bytes"] = float(statistics.median(state_bytes))
        metrics["failed_op_frac"] = failed / len(ops)
        units = {n: u for n, u, _ in layers.per_layer_spec()}
        wall = statistics.median(traced) if traced else float("nan")
        log(f"self time per layer, median of {len(traced)} traced ops ({wall:.3f} s each):")
        for n in [f"self.{layer}_s" for layer in layers.LAYERS] + ["self.uncovered_s"]:
            if metrics[n]:
                log(f"  {n[5:-2]:28s} {metrics[n]:8.3f} s  {metrics[n] / wall:6.1%}")
        log(f"  tracing overhead {metrics['trace.overhead_s']:.3f} s per op")
    else:
        metrics = {
            "rows_per_s": wl.rows / statistics.median(good) if good else 0.0,
            "first_op_s": first["wall"],
            "setup_s": sum(setup.values()),
            "peak_rss_mb": peak_mb,
        }
        units = dict(END_TO_END)
        log(f"rows_per_s {metrics['rows_per_s']:.1f} rows/s (median of {len(good)} ops, "
            f"{wl.rows} rows per op); first_op_s {metrics['first_op_s']:.3f} s; "
            f"setup_s {metrics['setup_s']:.3f} s; peak_rss_mb {peak_mb:.1f} MiB; "
            f"state_bytes {statistics.median(state_bytes):.0f} B; "
            f"failed_op_frac {failed / len(ops):.3f}")

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    sidecar = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "shape": run_shape,
               "setup_repeats": {"input_s": input_s, "warm_s": warm_s},
               "peak_rss_mb_per_process": peak_procs,
               "ops": [{k: v for k, v in o.items() if k != "extra"} for o in ops],
               "spans": tracer.spans, "metrics": metrics}
    with open(os.path.join(out_dir, f"{a.workload}_s{a.seed}_t{a.trace}.json"), "w") as fh:
        json.dump(sidecar, fh, indent=1, default=str)
    print(json.dumps({"shape": run_shape}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
