"""The benchmark's workloads. Each drives only the program's public entry
points (``pipelines.runner.run_*`` and ``queries.registry.REGISTRY``) and
checks every output with ``checks``.

A workload has four phases:

- ``import_program`` (part of set-up): import the engine modules it drives;
- ``make_inputs`` (benchmark's own work, outside every metric): write the
  seeded inputs and compute the expected outputs apart from the program.
  It runs in a child process that has ended before Spark starts, so its
  memory and CPU stay out of the run's process-tree figures;
- ``register`` (part of set-up): hand the inputs to Spark;
- ``run_pass``: one pass over the workload, one operation per pipeline stage
  or query, each under its own trace span; then ``check_pass`` (outside the
  timed pass) checks every output of that pass.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback

import checks
import inputs

PROCESSED_DATE = dt.date(2024, 3, 1)
STAGES = ("geotag", "user_city", "zone_report", "recommendations")

# One query per operator layer: packing (driver prefix-sum tier), windows
# (sessionize), dedup (MinHash LSH), similarity (exact top-k), graph
# (integer PageRank) and streaming (availableNow replay into a memory sink).
QUERIES = (
    "exact_value_quantiles",
    "user_sessions",
    "dedup_minhash_lsh",
    "ann_brute_force",
    "pagerank_det",
    "stream_windowed_counts",
)


class Op:
    """Outcome of one operation in one pass."""

    def __init__(self, name: str):
        self.name = name
        self.error: str | None = None
        self.output = None
        self.plan_s = 0.0

    @property
    def failed(self) -> bool:
        return self.error is not None


def _guard(op: Op, fn) -> None:
    try:
        op.output = fn()
    except Exception as exc:  # any raise fails this one operation
        op.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        traceback.print_exc()


class WeeklyDag:
    """geotag -> user_city -> zone_report -> recommendations over a seeded
    reference-shaped lake; writes mes_geo and the three datamarts."""

    name = "weekly_dag"
    #: Only the cold pass: from pass 2 on the warm-up curve is flat
    #: (README, warm-up curves).
    warmup_passes = 1
    min_passes = 2

    def import_program(self) -> None:
        from hadoop_data_lake_spark.pipelines import runner

        self.runner = runner

    def input_args(self, run_dir: str) -> tuple:
        self.out = os.path.join(run_dir, "out")
        self.paths = {
            "geotag": f"{self.out}/mes_geo",
            "user_city": f"{self.out}/analytics/user_city",
            "zone_report": f"{self.out}/analytics/zone_report",
            "recommendations": f"{self.out}/analytics/recommendations",
        }
        return (make_lake, os.path.join(run_dir, "lake"))

    def accept_inputs(self, made: dict) -> None:
        self.lake, self.expected = made["paths"], made["expected"]
        self.self_tested = False

    def register(self, spark) -> None:
        self.events = spark.read.parquet(self.lake["events_root"])
        self.geo = spark.read.parquet(self.lake["geo_path"])

    def run_pass(self, spark, tracer) -> list[Op]:
        runner, p = self.runner, self.paths
        calls = {
            "geotag": lambda: runner.run_geotag(spark, self.events, self.geo, p["geotag"]),
            "user_city": lambda: runner.run_user_city(spark, p["geotag"], p["user_city"]),
            "zone_report": lambda: runner.run_zone_report(spark, p["geotag"], p["zone_report"]),
            "recommendations": lambda: runner.run_recommendations(
                spark, p["geotag"], p["recommendations"], processed_date=PROCESSED_DATE
            ),
        }
        ops = []
        for stage in STAGES:
            op = Op(stage)
            with tracer.span(f"pipelines.{stage}", "stage"):
                _guard(op, calls[stage])
            ops.append(op)
        return ops

    def check_pass(self, ops: list[Op]) -> bool:
        """Check each stage's output; returns False when a self-test fails."""
        e, p = self.expected, self.paths
        specs = {
            "geotag": (lambda: checks.read_mes_geo(p["geotag"]),
                       lambda g: checks.check_geotag(e, g), checks.corrupt_geotag),
            "user_city": (lambda: checks.read_user_city(p["user_city"]),
                          lambda g: checks.check_user_city(e, g), checks.corrupt_rows),
            "zone_report": (lambda: checks.read_zone_report(p["zone_report"], e.zone_cols),
                            lambda g: checks.check_zone_report(e, g), checks.corrupt_rows),
            "recommendations": (lambda: checks.read_recommendations(p["recommendations"]),
                                lambda g: checks.check_recommendations(e, g),
                                checks.corrupt_recommendations),
        }
        return _check_ops(self, ops, specs)

    def written_files(self) -> int:
        return sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.out) for f in fs
        )


class Queries:
    """Registry queries over seeded flat tables, results fetched to the
    driver with ``toPandas`` (Arrow) in every pass."""

    name = "queries"
    #: Only the cold pass: from pass 2 on the warm-up curve is flat; three
    #: timed passes at least, since a pass is short and the median of two
    #: is their mean (README, warm-up curves).
    warmup_passes = 1
    min_passes = 3

    def import_program(self) -> None:
        from hadoop_data_lake_spark.core.io import TABLES
        from hadoop_data_lake_spark.queries.registry import REGISTRY

        self.tables = TABLES
        self.specs = {q: REGISTRY[q] for q in QUERIES}

    def input_args(self, run_dir: str) -> tuple:
        self.sf_dir = os.path.join(run_dir, "tables")
        sqls = {q: s.oracle for q, s in self.specs.items()}
        return (make_tables, self.sf_dir, tuple(self.tables), sqls)

    def accept_inputs(self, made: dict) -> None:
        self.expected = made["expected"]
        self.self_tested = False

    def register(self, spark) -> None:
        """The queries read their tables by path; nothing to register."""

    def run_pass(self, spark, tracer) -> list[Op]:
        ops = []
        for q, spec in self.specs.items():
            op = Op(q)
            with tracer.span(f"queries.{q}", "query"):
                t0 = time.time()

                def call():
                    df = spec.fn(spark, self.sf_dir)
                    op.plan_s = time.time() - t0
                    return df.toPandas()

                _guard(op, call)
            ops.append(op)
        return ops

    def check_pass(self, ops: list[Op]) -> bool:
        specs = {
            q: (lambda: None, lambda g, q=q: checks.check_query(self.expected[q], g),
                checks.corrupt_frame)
            for q in QUERIES
        }
        return _check_ops(self, ops, specs, use_output=True)

    def written_files(self) -> int:
        return 0


def make_lake(root: str, seed: int) -> dict:
    lake = inputs.write_lake(root, seed)
    return {
        "paths": {k: lake[k] for k in ("events_root", "geo_path")},
        "expected": checks.DagExpected(lake),
    }


def make_tables(sf_dir: str, tables: tuple, sqls: dict, seed: int) -> dict:
    inputs.write_tables(sf_dir, seed)
    return {"expected": checks.oracle_canonicals(sf_dir, tables, sqls)}


def make_inputs(args: tuple, seed: int) -> dict:
    """``args`` from ``input_args``: the maker function and its arguments."""
    fn, *rest = args
    return fn(*rest, seed)


def _check_ops(wl, ops: list[Op], specs: dict, use_output: bool = False) -> bool:
    """Mark each op failed whose output fails its check. On the first pass
    whose ops all succeeded, also self-test each check against a corrupted
    copy of the good output; returns False if a check let one through."""
    outputs = {}
    for op in ops:
        if op.failed:
            continue
        read, check, _ = specs[op.name]
        try:
            got = op.output if use_output else read()
            problems = check(got)
        except Exception as exc:
            problems = [f"output unreadable: {type(exc).__name__}: {exc}"]
            got = None
        if problems:
            op.error = "check: " + "; ".join(problems)
        else:
            outputs[op.name] = got
        op.output = None
    ok = True
    if not wl.self_tested and len(outputs) == len(ops):
        for name, got in outputs.items():
            _, check, corrupt = specs[name]
            if not checks.self_test(check, got, corrupt):
                print(f"self-test: the {name} check accepted a corrupted output",
                      file=sys.stderr)
                ok = False
        print(f"self-test: {len(outputs)} checks, "
              f"{'all rejected' if ok else 'NOT all rejected'} their corrupted outputs",
              file=sys.stderr)
        wl.self_tested = True
    return ok


WORKLOADS = {w.name: w for w in (WeeklyDag, Queries)}


if __name__ == "__main__":
    # Child process of run.py: python3 workloads.py ARGS.pkl OUT.pkl, from
    # the checkout root (the checks import tools.check_oracle from there).
    import pickle

    sys.path.insert(0, os.getcwd())

    with open(sys.argv[1], "rb") as f:
        made = make_inputs(*pickle.load(f))
    with open(sys.argv[2], "wb") as f:
        pickle.dump(made, f)
