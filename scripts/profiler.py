#!/usr/bin/env python
"""Per-query profiler: the one measurement loop of the scripts.

Per query: one warm-up run, then ``--passes`` timed runs. Every run
starts after ``clearCache``, so none reads a subtree that an earlier one
``persist()``-ed, and times three steps:

- construct: the registry call (iterative fits run their rounds here);
- plan: ``df._jdf.queryExecution().executedPlan()``;
- execute: a noop-sink write.

Spark's event log, parsed by ``perfbench/metrics.py::parse_event_log``,
attributes each job of a run to its query and step: jobs by step,
stages (and stages per job, in submission order: an iterative round's
exchanges), tasks, task run/CPU/GC/deserialize time, and input, shuffle
and spill bytes. ``rounds`` counts the run's ``checkpoint_with_metrics``
calls, and ``compiles`` its whole-stage-codegen compiles by step (exact:
the count of Spark's ``CodegenMetrics`` compile-time histogram). A
compile is a miss of the generated-class cache, so a timed pass that
compiles nothing ran only plan shapes the warm-up had compiled.
``py4j_calls`` and ``py4j_s`` count the run's Py4J round trips by step
and the seconds with one in flight: every DataFrame method, Column
expression and conf read the driver makes is one or more round trips to
the JVM, so this is the driver-side share of construct time. The gateway
client's ``send_command`` is wrapped in this process only.

The warm-up also writes the query's formatted physical plan to
``OUT/plans/<name>.txt`` and one row of plan-shape counters to
``OUT/plan_counters.tsv``.

Usage:
    python scripts/profiler.py [q1,q2,...|all] [--passes 3] [--sf-dir DIR] [--out DIR]

Prints one JSON line per query and writes ``OUT/profile.json``: each
query's warm-up and timed passes, its min (the fastest timed pass's wall,
which the warm-up never sets) and the totals over each fastest pass.
Session confs beyond ``get_spark``'s go in ``PYSPARK_SUBMIT_ARGS``, e.g.
``--conf spark.sql.autoBroadcastJoinThreshold=-1 pyspark-shell`` for the
plan shape where no join side fits the broadcast cap.

(Not ``profile.py``: with ``scripts/`` on ``sys.path`` that name shadows
the stdlib ``profile``, which pyspark imports through cProfile.)
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[0:0] = [str(ROOT), str(ROOT / "perfbench")]

import metrics as M  # noqa: E402  (perfbench/metrics.py)
from run import Tracer  # noqa: E402  (perfbench/run.py)

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402
from bigdata_group4_app_spark.session import codegen_compiles, get_spark  # noqa: E402
from drive_contract import SF  # noqa: E402  (the oracle SF)

STEPS = ("construct", "plan", "execute")

# (name, pattern). The exchange, window and generate patterns match lines
# of the details section (one "Arguments: <kind>partitioning" line per
# Exchange, one "(id) Name" header per node), so they read the whole
# plan. The others match node names, which the details headers repeat,
# so they read the node tree only.
COUNTERS = [
    ("exch_hash", r"Arguments: hashpartitioning"),
    ("exch_range", r"Arguments: rangepartitioning"),
    ("exch_single", r"Arguments: SinglePartition"),
    ("smj", r"SortMergeJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("bhj", r"BroadcastHashJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("cartesian", r"CartesianProduct"),
    ("window", r"\(\d+\) Window$"),
    ("generate", r"\(\d+\) Generate"),
    ("python", r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"),
    ("scan_parquet", r"Scan parquet"),
    ("scan_rdd", r"Scan ExistingRDD"),
    ("inmem", r"InMemoryTableScan"),
]
_WHOLE_PLAN = {"exch_hash", "exch_range", "exch_single", "window", "generate"}


def formatted(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_counters(plan: str) -> dict[str, int]:
    """Plan-shape counters of one formatted plan: exchanges by kind, join
    strategies, Python-boundary nodes, generators, windows, scans by kind
    and ``max_scan_cols``, the widest ReadSchema (an un-pruned scan)."""
    tree = plan.split("\n\n", 1)[0]
    vals = {
        key: len(re.findall(pat, plan if key in _WHOLE_PLAN else tree, flags=re.M))
        for key, pat in COUNTERS
    }
    vals["max_scan_cols"] = max(
        (s.count(":") for s in re.findall(r"ReadSchema: struct<([^\n]*)>", plan)),
        default=0,
    )
    return vals


@contextlib.contextmanager
def profiled_spark(app_name: str):
    """``get_spark`` with Spark's event log on, written to a temp dir that
    is deleted on exit. Call it before any session exists: the confs go
    in through ``PYSPARK_SUBMIT_ARGS``, after the caller's own."""
    log_dir = tempfile.mkdtemp(prefix="profiler-eventlog-")
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    caller = os.environ.get("PYSPARK_SUBMIT_ARGS", "").strip().removesuffix("pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [caller.strip(), *(f"--conf {k}={v}" for k, v in confs.items()), "pyspark-shell"]
    ).strip()
    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()
        shutil.rmtree(log_dir, ignore_errors=True)


class Py4JCounter:
    """Py4J round trips through a session's gateway client, and the
    seconds with at least one of them in flight, counted from
    construction on. A call can start inside another (py4j releases a
    collected JavaObject with a call of its own, from whatever
    allocation triggers the collection), so overlapping calls add their
    union, never more than the wall around them."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        lock = threading.RLock()  # re-entered by a call nested in another
        self.calls, self.seconds = 0, 0.0
        self._open, self._since = 0, 0.0

        def counted(*args, **kwargs):
            with lock:
                self.calls += 1
                self._open += 1
                if self._open == 1:
                    self._since = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                with lock:
                    self._open -= 1
                    if self._open == 0:
                        self.seconds += time.perf_counter() - self._since

        client.send_command = counted

    def read(self) -> tuple[int, float]:
        return self.calls, self.seconds


# one per process: wrap_engine rebinds engine functions process-wide, and
# the counter wraps the one gateway client
_tracer: Tracer | None = None
_py4j: Py4JCounter | None = None
_calls = itertools.count()  # tags each measure() call's jobs apart


def measure(spark, names, sf_dir: str, passes: int) -> dict[str, dict]:
    """Profile each query in ``names`` (see the module docstring).

    Returns ``{name: {"warm": run, "passes": [run, ...], "min_s": ...,
    "plan": text}}``, where ``min_s`` is the fastest timed pass's wall, or
    ``{name: {"error": ...}}`` for a query that raised. The session must
    come from ``profiled_spark``."""
    global _tracer, _py4j
    unknown = [n for n in names if n not in QUERY_REGISTRY]
    if unknown:
        raise KeyError(f"unknown queries: {unknown}")
    if _tracer is None:
        _tracer = Tracer(spark.sparkContext)
        _tracer.wrap_engine()
        _py4j = Py4JCounter(spark)
    call = next(_calls)
    out: dict[str, dict] = {}
    _tracer.enabled = True
    try:
        for name in names:
            runs = []
            try:
                for i in range(passes + 1):  # run 0 is the warm-up
                    spark.catalog.clearCache()
                    _tracer.set_op(f"{call}/{name}/{i}")
                    runs.append(_run(spark, name, sf_dir, plan=i == 0))
            except Exception as e:  # a query defect: record it, keep going
                out[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
                continue
            finally:
                _tracer.set_op(None)
            out[name] = {"warm": runs[0], "passes": runs[1:],
                         "min_s": min(r["wall_s"] for r in runs[1:]),
                         "plan": runs[0].pop("plan")}
            print(f"# {name}: min {out[name]['min_s']} s", file=sys.stderr, flush=True)
    finally:
        _tracer.enabled = False
    jobs = _event_log_jobs(spark)
    for name, rec in out.items():
        for i, run in enumerate([rec["warm"], *rec["passes"]] if "warm" in rec else []):
            run.update(_job_stats(jobs.get(f"{call}/{name}/{i}", [])))
    return out


def _run(spark, name: str, sf_dir: str, plan: bool) -> dict:
    run: dict = {"compiles": {}, "py4j_calls": {}, "py4j_s": {}}
    rounds = _tracer.count.get("iterative.round", 0)

    @contextlib.contextmanager
    def step(phase):
        c0, t0 = codegen_compiles(spark), time.perf_counter()
        with _tracer.span(f"profile.{phase}", phase):
            n0, s0 = _py4j.read()
            yield
            n1, s1 = _py4j.read()
        run[f"{phase}_s"] = round(time.perf_counter() - t0, 3)
        run["compiles"][phase] = codegen_compiles(spark) - c0
        run["py4j_calls"][phase] = n1 - n0
        run["py4j_s"][phase] = round(s1 - s0, 3)

    with step("construct"):
        df = QUERY_REGISTRY[name](spark, sf_dir)
    with step("plan"):
        df._jdf.queryExecution().executedPlan()
    if plan:
        run["plan"] = formatted(df)
    with step("execute"):
        df.write.format("noop").mode("overwrite").save()
    run["wall_s"] = round(sum(run[f"{s}_s"] for s in STEPS), 3)
    run["rounds"] = _tracer.count.get("iterative.round", 0) - rounds
    return run


def _event_log_jobs(spark) -> dict[str, list[dict]]:
    """The traced jobs so far, by op tag, from the live event log. The log
    is flushed at every job end, so once the listener bus has drained it
    holds every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir", "").removeprefix("file://")
    logs = list(Path(log_dir).glob("*.inprogress")) if log_dir else []
    if len(logs) != 1:
        raise RuntimeError(f"no live event log under {log_dir!r}: use profiled_spark()")
    with open(logs[0]) as f:  # a cut-off last line is an event still being written
        return M.parse_event_log(line for line in f if line.endswith("\n"))["jobs"]


def _job_stats(jobs: list[dict]) -> dict:
    total = lambda k: sum(j.get(k, 0) for j in jobs)  # noqa: E731
    return {
        "jobs": {s: sum(j["phase"] == s for j in jobs) for s in STEPS},
        "stages": total("stages"),
        "stages_per_job": [j["stages"] for j in sorted(jobs, key=lambda j: j["start_ms"])],
        "tasks": total("tasks"),
        "task_run_s": round(total("task_run_ms") / 1e3, 3),
        "task_cpu_s": round(total("task_cpu_ns") / 1e9, 3),
        "task_gc_s": round(total("task_gc_ms") / 1e3, 3),
        "task_deser_s": round(total("task_deser_ms") / 1e3, 3),
        **{k: total(k) for k in ("input_bytes", "shuffle_read_bytes",
                                  "shuffle_write_bytes", "spill_bytes")},
    }


def _totals(results: dict[str, dict]) -> dict:
    """Sums over each query's fastest pass."""
    best = [min(r["passes"], key=lambda p: p["wall_s"]) for r in results.values() if "passes" in r]
    t: dict = {"queries": len(results), "errors": len(results) - len(best)}
    for k in ("construct_s", "plan_s", "execute_s", "wall_s", "task_run_s", "task_cpu_s"):
        t[k] = round(sum(p[k] for p in best), 3)
    for k in ("rounds", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        t[k] = sum(p[k] for p in best)
    for k in ("jobs", "compiles", "py4j_calls"):
        t[k] = {s: sum(p[k][s] for p in best) for s in STEPS}
    t["py4j_s"] = {s: round(sum(p["py4j_s"][s] for p in best), 3) for s in STEPS}
    t["queries_with_construct_jobs"] = sum(p["jobs"]["construct"] > 0 for p in best)
    return t


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="?", default="all",
                    help="comma-separated registry names, or all (the default)")
    ap.add_argument("--passes", type=int, default=3, help="timed passes per query")
    ap.add_argument("--sf-dir", default=SF, help="input tables (default: the oracle SF)")
    ap.add_argument("--out", default="profile_out", help="output directory")
    args = ap.parse_args()
    names = sorted(QUERY_REGISTRY) if args.queries == "all" else args.queries.split(",")
    out = Path(args.out)
    (out / "plans").mkdir(parents=True, exist_ok=True)

    with profiled_spark("profile") as spark:
        cores = spark.sparkContext.defaultParallelism
        results = measure(spark, names, args.sf_dir, args.passes)
    rows = []
    for name, rec in results.items():
        if "error" in rec:
            rows.append(f"{name}\tERROR={rec['error'].split(':', 1)[0]}")
        else:
            plan = rec.pop("plan")
            (out / "plans" / f"{name}.txt").write_text(plan)
            rows.append(name + "\t" + "\t".join(
                f"{k}={v}" for k, v in plan_counters(plan).items() if v))
        print(json.dumps({name: rec}), flush=True)
    (out / "plan_counters.tsv").write_text("\n".join(rows) + "\n")
    head = {"sf_dir": args.sf_dir, "cores": cores, "passes": args.passes,
            "totals": _totals(results)}
    # one query per line, so the report diffs and greps by query
    body = ",\n".join(f"{json.dumps(n)}: {json.dumps(r)}" for n, r in results.items())
    (out / "profile.json").write_text(json.dumps(head)[:-1] + ', "queries": {\n' + body + "\n}}\n")
    print(json.dumps({"totals": head["totals"]}), flush=True)


if __name__ == "__main__":
    main()
