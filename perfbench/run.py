"""Benchmark of the engine's weekly DAG and registry queries.

    python3 perfbench/run.py --workload weekly_dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one process with one Spark
session: it writes the seeded inputs under ``.perfbench_run/`` (removed at
the end), starts Spark, runs the workload's warm-up passes (the first is
cold), then repeats whole warm passes until ``--seconds`` have passed and
the workload's ``min_passes`` at least, checks every output, and prints one
JSON object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
spans around every pipeline stage, query and operator call, and writes
the spans to ``.perfbench_traces/``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import inspect
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, covered_s  # noqa: E402
from workloads import QUERIES, STAGES  # noqa: E402

DRIVER_MEM = "1g"
#: Compile with C1 only, so the warm passes sit on a flat curve instead of a
#: C2 compile tail that runs for 10+ passes (README, "Pinned deployment
#: settings").
JVM_OPTIONS = ["-XX:TieredStopAtLevel=1"]
OPERATOR_MODULES = ("dedup", "similarity", "graph", "packing", "windows", "joins")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "shuffle_mb": "MB",
}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, for every workload."""
    m = {"core.session.start_s": "s", "trace.pass_s": "s"}
    for st in STAGES:
        m.update({f"pipelines.{st}.wall_s": "s", f"pipelines.{st}.jobs": "count",
                  f"pipelines.{st}.shuffle_mb": "MB", f"pipelines.{st}.written_mb": "MB"})
    m.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.shuffle_read_mb": "MB", "core.io.written_mb": "MB",
              "core.io.written_files": "count", "core.io.input_mb": "MB"})
    for q in QUERIES:
        m.update({f"queries.{q}.wall_s": "s", f"queries.{q}.plan_s": "s",
                  f"queries.{q}.jobs": "count"})
    for mod in OPERATOR_MODULES:
        m.update({f"operators.{mod}.call_s": "s", f"operators.{mod}.jobs": "count"})
    m.update({"spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
              "spark.job_span_s": "s", "driver.idle_s": "s", "spark.task_slot_use": "ratio",
              "spark.spill_mb": "MB", "spark.result_mb": "MB",
              "driver.py_peak_rss_mb": "MB", "driver.jvm_peak_rss_mb": "MB"})
    return m


def since_process_start() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def trace_operators(tracer: Tracer) -> None:
    """Wrap every public function of the operator modules in a span, in the
    operator module itself and wherever the engine imported it by name."""
    wrapped = {}
    for m in OPERATOR_MODULES:
        mod = importlib.import_module(f"hadoop_data_lake_spark.operators.{m}")
        for name, fn in vars(mod).items():
            if (not name.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__):
                wrapped[fn] = _operator_span(tracer, m, fn)
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("hadoop_data_lake_spark") and mod is not None:
            for k, v in list(vars(mod).items()):
                if inspect.isfunction(v) and v in wrapped:
                    setattr(mod, k, wrapped[v])


def _operator_span(tracer: Tracer, module: str, fn):
    prefix = f"operators.{module}."

    @functools.wraps(fn)
    def call(*args, **kwargs):
        if tracer.inside(prefix):  # a call within the same module
            return fn(*args, **kwargs)
        with tracer.span(prefix + fn.__name__, "operator"):
            return fn(*args, **kwargs)

    return call


class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.run_dir = os.path.join(
            self.root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.passes = []  # (pass span index, wall s, cpu s, ops, written files)
        self.correct = True

    def configure(self) -> None:
        """Pinned deployment settings; every scratch path inside the run dir."""
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        cpus = max(1, min(2, (os.cpu_count() or 2) - 2))
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"),
            TMPDIR=tmp,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        self.cpus = cpus

    def make_inputs(self) -> dict:
        """Run ``workloads.make_inputs`` in a child interpreter that has
        ended before Spark starts; arguments and result travel as pickle
        files in the run directory."""
        args_path = os.path.join(self.run_dir, "inputs-args.pkl")
        out_path = os.path.join(self.run_dir, "inputs-made.pkl")
        with open(args_path, "wb") as f:
            pickle.dump((self.wl.input_args(self.run_dir), self.args.seed), f)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "workloads.py"), args_path, out_path],
            check=True, timeout=300,
        )
        with open(out_path, "rb") as f:
            return pickle.load(f)

    def pass_once(self, i: int) -> None:
        cpu0 = procstat.tree_cpu_s()
        with self.tracer.span(f"pass{i}", "pass"):
            idx = len(self.tracer.spans) - 1
            t0 = time.perf_counter()
            ops = self.wl.run_pass(self.spark, self.tracer)
            wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        t_own = time.perf_counter()
        self.tracer.collect()
        if not self.wl.check_pass(ops):
            self.correct = False
        for op in ops:
            if op.failed:
                print(f"pass {i}: {op.name} failed: {op.error}", file=sys.stderr)
                if op.error.startswith("check:"):
                    self.correct = False
        self.passes.append((idx, wall, cpu, ops, self.wl.written_files()))
        self.own_work_s += time.perf_counter() - t_own

    def main(self) -> dict:
        a = self.args
        self.configure()
        from hadoop_data_lake_spark.core import session

        self.wl = workloads.WORKLOADS[a.workload]()
        self.wl.import_program()
        t = time.perf_counter()
        self.wl.accept_inputs(self.make_inputs())
        self.own_work_s = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = session.get_spark(
            f"perfbench-{a.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": " ".join(
                    JVM_OPTIONS + [f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]),
            },
        )
        start_s = time.perf_counter() - t
        try:
            self.measure(start_s)
            self.peak_rss = procstat.tree_peak_rss_mb()
        finally:
            self.stop_spark()
        return self.report()

    def measure(self, start_s: float) -> None:
        a = self.args
        sc = self.spark.sparkContext
        self.tracer = Tracer(sc, detailed=bool(a.trace))
        if a.trace:
            trace_operators(self.tracer)
        self.start_s = start_s
        with self.tracer.span(a.workload, "workload"):
            self.wl.register(self.spark)
            for i in range(self.wl.warmup_passes):
                self.pass_once(i)
            self.setup_s = since_process_start() - self.own_work_s
            print(f"setup {self.setup_s:.2f}s: session start {start_s:.2f}s, warm-up passes "
                  + ", ".join(f"{p[1]:.2f}s" for p in self.passes), file=sys.stderr)
            t0 = time.perf_counter()
            timed = 0
            while timed < self.wl.min_passes or time.perf_counter() - t0 < a.seconds:
                self.pass_once(self.wl.warmup_passes + timed)
                timed += 1
        if a.trace:
            os.makedirs(os.path.join(self.root, ".perfbench_traces"), exist_ok=True)
            self.tracer.dump(os.path.join(
                self.root, ".perfbench_traces", f"{a.workload}-seed{a.seed}.json"))

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM and every other child to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # Python workers the JVM forked end when their pipes close.
        me, deadline = os.getpid(), time.time() + 30
        while [p for p in procstat.tree_pids() if p != me] and time.time() < deadline:
            time.sleep(0.1)
        for p in procstat.tree_pids():
            if p != me:
                os.kill(p, 9)

    # --- metrics -----------------------------------------------------------------

    def report(self) -> dict:
        print("pass walls: " + " ".join(f"{p[1]:.2f}" for p in self.passes)
              + " | cpu: " + " ".join(f"{p[2]:.1f}" for p in self.passes), file=sys.stderr)
        measured = self.passes[self.wl.warmup_passes:]
        all_ops = [op for p in self.passes for op in p[3]]
        if self.args.trace:
            metrics = self.layer_report(measured)
            units = layer_metrics()
        else:
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": statistics.median(p[1] for p in measured),
                "cpu_s": statistics.median(p[2] for p in measured),
                "peak_rss_mb": self.peak_rss[0],
                "shuffle_mb": statistics.median(
                    self.inclusive(p[0])["shuffle_mb"] for p in measured),
            }
            units = END_TO_END
        return {
            "correct": self.correct,
            "attempted": len(all_ops),
            "failed": sum(op.failed for op in all_ops),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.tracer.spans) if s.parent == idx]

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def inclusive(self, idx: int) -> dict:
        tot: dict[str, float] = {}
        for i in self.subtree(idx):
            for k, v in self.tracer.spans[i].counters.items():
                tot[k] = tot.get(k, 0.0) + v
        return tot

    def layer_report(self, measured) -> dict:
        spans = self.tracer.spans
        rows = []
        for idx, wall, _, ops, files in measured:
            sp = spans[idx]
            c = self.inclusive(idx)
            windows = [w for i in self.subtree(idx) for w in spans[i].job_windows]
            job_span = covered_s(windows, sp.start, sp.end)
            r = dict.fromkeys(layer_metrics(), 0.0)
            r.update({
                "trace.pass_s": wall,
                "spark.jobs": c["jobs"], "spark.stages": c["stages"], "spark.tasks": c["tasks"],
                "spark.shuffle_read_mb": c["shuffle_read_mb"],
                "core.io.written_mb": c["written_mb"], "core.io.written_files": files,
                "core.io.input_mb": c["input_mb"],
                "spark.executor_run_s": c["executor_run_s"],
                "spark.executor_cpu_s": c["executor_cpu_s"], "spark.gc_s": c["gc_s"],
                "spark.job_span_s": job_span, "driver.idle_s": max(0.0, wall - job_span),
                "spark.task_slot_use":
                    c["executor_run_s"] / (job_span * self.cpus) if job_span else 0.0,
                "spark.spill_mb": c["spill_mb"], "spark.result_mb": c["result_mb"],
            })
            plan = {op.name: op.plan_s for op in ops}
            for i in self.subtree(idx):
                s = spans[i]
                if s.kind in ("stage", "query"):
                    ci = self.inclusive(i)
                    r[f"{s.name}.wall_s"] = s.wall_s
                    r[f"{s.name}.jobs"] = ci["jobs"]
                    if s.kind == "stage":
                        r[f"{s.name}.shuffle_mb"] = ci["shuffle_mb"]
                        r[f"{s.name}.written_mb"] = ci["written_mb"]
                    else:
                        r[f"{s.name}.plan_s"] = plan[s.name.split(".", 1)[1]]
                elif s.kind == "operator":
                    mod = ".".join(s.name.split(".")[:2])
                    r[f"{mod}.call_s"] += s.wall_s
                    r[f"{mod}.jobs"] += self.inclusive(i)["jobs"]
            rows.append(r)
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out.update({
            "core.session.start_s": self.start_s,
            "driver.py_peak_rss_mb": self.peak_rss[1],
            "driver.jvm_peak_rss_mb": self.peak_rss[2],
        })
        return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("weekly_dag", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "hadoop_data_lake_spark")):
        print("run from the root of a checkout that holds hadoop_data_lake_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    run = Run(args)
    try:
        result = run.main()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
        parent = os.path.dirname(run.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
