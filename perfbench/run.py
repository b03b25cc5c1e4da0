"""Benchmark of the ER engine: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload er_full --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
``--seed`` (cached per seed under ``.perfbench_cache/``), the Spark session
starts once, and then passes run back to back: one cold pass, one
warm-up pass, and measured passes for ``--seconds``. Every pass's output
is checked, off the clock. With ``--trace 1`` the measured passes
alternate between plain and traced ones and the per-layer metrics are
printed instead.

The last line of stdout is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}``.
A line before it, ``{"info": ...}``, records the host and every pass.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import corpus
import procstat
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
# Warm passes keep getting faster for 4-5 passes (the JVM JIT-compiles
# ~150 freshly generated classes per ER pass, see README.md), longer than
# a run can afford; every run therefore discards the same number of warm
# passes, so all runs measure the same stretch of that curve.
WARMUP_PASSES = 1
DEADLINE_S = 150  # take no new pass past this, so a run ends within 180 s
DRIVER_MEMORY = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "files_per_s": "files/s",
    "cpu_s": "core-s",
    "peak_rss_mb": "MB",
    "pairwise_f1": "ratio",
    "recall": "ratio",
    "ok_ratio": "ratio",
}
PROBE_METRICS = {
    "incremental.self_s": "s",
    "catalog.write_table.s": "s",
    "catalog.write_table.mb": "MB",
    "catalog.read_table.s": "s",
}


def layer_units() -> dict:
    units = {}
    for name in tracing.LAYERS:
        units.update(
            {f"{name}.s": "s", f"{name}.rows_out": "rows", f"{name}.jobs": "count",
             f"{name}.tasks": "count"}
        )
    units.update(
        {
            "blocking.hot_keys_dropped": "count",
            "clustering.n_iter": "count",
            "clustering.edge_yield": "ratio",
            "pipeline.self_s": "s",
            "pipeline.collapse_ratio": "ratio",
            "spark.jobs": "count",
            "spark.tasks": "count",
            "spark.failed_tasks": "count",
            "spark.shuffle_mb": "MB",
            "spark.codegen_compiles": "count",
            "jvm.jit_s": "s",
            "trace.overhead_s": "s",
        }
    )
    units.update(PROBE_METRICS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="default", choices=["default", "tiny"],
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and make the engine importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--driver-java-options " + shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def source_id() -> dict:
    """The commit when the checkout is a git tree, and always a digest of
    the engine's sources (a benchmark checkout need not be a git tree)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sbb_ned_spark")
    for path in sorted(
        os.path.join(d, f) for d, _, files in os.walk(pkg) for f in files if f.endswith(".py")
    ):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    commit = f.read().strip()
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


class Runner:
    def __init__(self, spark, workload, seconds: float, t_start: float):
        self.sc = spark.sparkContext
        self.wl = workload
        self.seconds = seconds
        self.t_start = t_start
        self.passes: list[dict] = []

    def one_pass(self, kind: str, tracer=None):
        """Run and check one pass; returns its record and its output."""
        gc.collect()
        self.sc._jvm.System.gc()
        tag = f"pass{len(self.passes)}"
        rec = {"kind": kind, "ok": False}
        self.passes.append(rec)
        if tracer is not None:
            tracer.begin_pass(tag)
        else:
            self.sc.setJobGroup(tag, tag)
        out = None
        j0 = self.jvm_counters()
        c0 = procstat.cpu_seconds()
        t0 = time.perf_counter()
        try:
            out = self.wl.run()
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            rec["problems"] = ["pass raised"]
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = procstat.cpu_seconds() - c0
        j1 = self.jvm_counters()
        rec["codegen_compiles"] = j1[0] - j0[0]
        rec["jit_s"] = (j1[1] - j0[1]) / 1000
        rec["group"] = tag
        self.sc.setJobGroup("offclock", "offclock")
        if out is not None:
            problems, quality = self.wl.check(out)
            rec.update(quality)
            rec["problems"] = problems
            rec["ok"] = not problems
        if not rec["ok"]:
            print(f"pass {tag} ({kind}) failed: {rec['problems']}", file=sys.stderr)
        return rec, out

    def jvm_counters(self) -> tuple[int, int]:
        """(generated classes compiled, JIT compile ms) so far in the JVM."""
        jvm = self.sc._jvm
        codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return codegen.getCount(), jit.getTotalCompilationTime()

    def time_left(self, next_s: float) -> bool:
        return time.perf_counter() - self.t_start + next_s < DEADLINE_S

    def warm_up(self) -> dict:
        """The cold pass, then WARMUP_PASSES unmeasured warm passes."""
        cold, _ = self.one_pass("cold")
        for _ in range(WARMUP_PASSES):
            self.one_pass("warmup")
        return cold

    def measure(self) -> None:
        """Measured passes until they cover ``seconds`` (at least two)."""
        done: list[dict] = []
        while len(done) < 2 or sum(p["s"] for p in done) < self.seconds:
            if done and not self.time_left(done[-1]["s"]):
                return
            done.append(self.one_pass("measured")[0])

    def measure_traced(self, tracer) -> dict:
        """Rounds of one plain and one traced pass, until they cover
        ``seconds``. Layer metrics are medians over the traced passes, the
        spark.* counts medians over the plain ones, and each traced output
        must equal the plain output of its round."""
        layer_runs, spark_runs, total = [], [], 0.0
        plain_out = None
        while not layer_runs or (total < self.seconds and self.time_left(total / len(layer_runs))):
            plain, plain_out = self.one_pass("measured")
            stats = tracing.job_stats(self.sc, [plain["group"]])
            spark_runs.append({**stats, "codegen_compiles": plain["codegen_compiles"]})
            with tracer.installed():
                traced, out = self.one_pass("traced", tracer)
            if out is not None:
                layer_runs.append(tracer.layer_metrics(self.wl.n_files))
                if plain_out is not None and not self.wl.same_output(out, plain_out):
                    traced["ok"] = False
                    traced["problems"].append("traced output differs from the plain pass")
            tracer.end_pass()
            total += plain["s"] + traced["s"]
            if out is None:
                break
        if not layer_runs:
            raise RuntimeError("no traced pass completed")
        metrics = {k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]}
        for k in spark_runs[0]:
            metrics[f"spark.{k}"] = statistics.median(r[k] for r in spark_runs)
        metrics["jvm.jit_s"] = statistics.median(
            p["jit_s"] for p in self.passes if p["kind"] == "measured"
        )
        metrics["trace.overhead_s"] = statistics.median(
            p["s"] for p in self.passes if p["kind"] == "traced"
        ) - statistics.median(p["s"] for p in self.passes if p["kind"] == "measured")
        metrics.update(dict.fromkeys(PROBE_METRICS, 0.0))
        if hasattr(self.wl, "probe_base") and plain_out is not None:
            metrics.update(self.incremental_probe(tracer, plain_out))
        return metrics

    def incremental_probe(self, tracer, reference) -> dict:
        """Trace the incremental path once: an untraced base build over 70%
        of the input, then a traced incremental_update of the rest, whose
        partition must equal the plain pass's run_pipeline over all of it."""
        cfg, batch = self.wl.probe_base()
        rec = {"kind": "probe", "ok": False, "problems": []}
        self.passes.append(rec)
        tracer.begin_pass(f"pass{len(self.passes) - 1}")
        t0 = time.perf_counter()
        try:
            with tracer.installed():
                rows = self.wl.probe_update(cfg, batch)
            if workloads.partition(rows) != workloads.partition(reference):
                rec["problems"].append("incremental partition differs from run_pipeline")
            rec["ok"] = not rec["problems"]
        except Exception:  # a failed probe is counted, not fatal
            traceback.print_exc()
            rec["problems"].append("probe raised")
        rec["s"] = time.perf_counter() - t0
        self.sc.setJobGroup("offclock", "offclock")
        metrics = tracer.probe_metrics()
        tracer.end_pass()
        return metrics


def stop_spark(spark) -> None:
    """Stop the session, the driver JVM and every Python worker, and wait
    until each process has ended."""
    gateway = spark.sparkContext._gateway
    children = [p for p in procstat.tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)
    procstat.wait_gone(children, timeout=30)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work)
    sys.path.insert(0, ROOT)
    try:
        inputs = corpus.load_inputs(os.path.join(ROOT, ".perfbench_cache"), args.scale, args.seed)
        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        from sbb_ned_spark.session import get_spark

        spark = get_spark("perfbench", master=f"local[{nproc}]")
        session_s = time.perf_counter() - t0
        try:
            wl = workloads.WORKLOADS[args.workload](spark, inputs)
            setups = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t0)
            runner = Runner(spark, wl, args.seconds, t_start)
            cold = runner.warm_up()
            if args.trace:
                metrics = runner.measure_traced(tracing.LayerTracer(spark.sparkContext))
                units = layer_units()
            else:
                runner.measure()
                units = E2E_UNITS
            peak_mb = procstat.peak_rss_mb()
            info = {
                "workload": args.workload, "seed": args.seed, "scale": args.scale,
                "trace": args.trace, "nproc": nproc, "loadavg": os.getloadavg(),
                **source_id(), "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0], "n_files": wl.n_files,
                "session_s": session_s, "setup_runs_s": setups, "passes": runner.passes,
            }
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    passes = runner.passes
    failed = sum(not p["ok"] for p in passes)
    if not args.trace:
        measured = [p for p in passes if p["kind"] == "measured"]
        pass_s = statistics.median(p["s"] for p in measured)
        checked = [p for p in passes if "f1" in p]
        metrics = {
            "setup_s": session_s + statistics.median(setups),
            "first_pass_s": cold["s"],
            "pass_s": pass_s,
            "files_per_s": wl.n_files / pass_s,
            "cpu_s": statistics.median(p["cpu_s"] for p in measured),
            "peak_rss_mb": peak_mb,
            "pairwise_f1": min((p["f1"] for p in checked), default=0.0),
            "recall": min((p["recall"] for p in checked), default=0.0),
            "ok_ratio": (len(passes) - failed) / len(passes),
        }
    print(json.dumps({"info": info}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(passes),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
