"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The run

1. generates (or reuses) the workload's seeded inputs under
   ``.perfbench/inputs`` (excluded from ``setup_s``);
2. works in a fresh ``.perfbench/run`` directory (ingest state, session
   warehouse, temp and Spark local dirs) and deletes the engine's
   ``/tmp/spark_graft_*_<input>`` fixture stores;
3. starts the session with ``get_spark(cpus=nproc)`` and runs an untimed
   warm-up pass over the workload's op list;
4. runs a fixed number of timed passes, one op after another: as many
   nominal passes as fit in ``--seconds``, at least three;
5. checks every op's output (DuckDB oracle or end-state invariants);
6. prints info lines starting with ``#`` and, last, one JSON object.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log, alternates untraced and traced passes, and reports the
per-layer metrics. See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("warehouse", "curator")

# Input sizes (scale 1.0 = TPC-H SF1 row counts) and replica copies. At
# these sizes per-job and planning costs weigh as much as execution;
# larger inputs do not fit the run budget (see README.md).
WAREHOUSE_SCALE, WAREHOUSE_COPIES = 0.005, 2
CURATOR_SCALE = 0.01
INGEST_BATCH_DOCS = 100
INGEST_FIRST_ID = 1_000_000_000
INGEST_BATCHES = 64

# The untimed first pass pays class loading, codegen and the bulk of JIT
# compilation (about 2.5x a later pass); later passes still get 5-15%
# faster each. Timing starts after it, and every end-to-end figure is a
# median or percentile over at least three timed passes, so no single
# pass hit by host contention sets it. The pass count is
# fixed by --seconds and the nominal warm pass length alone, so every run
# of a workload has the same sample counts and its percentiles fall on the
# same order statistics.
NOMINAL_PASS_S = {"warehouse": 8.0, "curator": 8.5}
MIN_TIMED_PASSES = 3
# A traced run alternates untraced and traced passes in ABBA order (U T T
# U), so a linear drift between early and late passes cancels out of
# trace.overhead_frac.
TRACED_RUN_PASSES = 4


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _checkout_root() -> Path:
    root = HERE.parent
    for need in ("bigdata_group4_app_spark/registry.py", "scripts/drive_contract.py",
                 "scripts/scale_probe.py"):
        if not (root / need).is_file():
            _die(f"{root} is not a checkout of the engine (missing {need})")
    return root


def _run_dir(work: Path) -> Path:
    """A fresh scratch directory for this run, so no state survives from
    an earlier run."""
    d = work / "run"
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "eventlog", "state"):
        (d / sub).mkdir(parents=True)
    return d


def _configure_env(run_dir: Path, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    the run directory. Must run before pyspark is imported."""
    tmp = run_dir / "tmp"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "state" / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def _inputs(work: Path, workload: str, seed: int, ops):
    """The workload's input directory (and ingest stream), generated once
    per ``(workload, seed, sizes)`` and reused afterwards. The DuckDB
    oracle answers of the workload's queries depend on the inputs alone,
    so they are computed here too and cached beside them."""
    from scale_probe import FACT_KEYS, OFFSET

    if workload == "warehouse":
        scale, copies = WAREHOUSE_SCALE, WAREHOUSE_COPIES
    else:
        scale, copies = CURATOR_SCALE, 1
    d = work / "inputs" / f"{workload}_s{seed}_sc{scale}_x{copies}"
    done = d / "complete"  # written last: without it the inputs are regenerated
    if not done.exists():
        shutil.rmtree(d, ignore_errors=True)
        tables = gen.base_tables(seed, scale)
        if copies > 1:
            tables = gen.replicate(tables, copies, FACT_KEYS, OFFSET)
        gen.write_tables(tables, str(d))
        done.touch()
    cached = d / "oracle.json"
    try:
        answers = json.loads(cached.read_text())
    except (FileNotFoundError, ValueError):  # none yet, or cut off mid-write
        answers = {}
    missing = sorted({q for op in ops for q in getattr(op, "queries", [])} - answers.keys())
    if missing:
        answers.update(_oracle_answers(str(d), missing))
        cached.write_text(json.dumps(answers))
    stream = None
    if workload == "curator":
        stream = gen.doc_batches(seed, INGEST_BATCHES, INGEST_BATCH_DOCS, INGEST_FIRST_ID)
    return str(d), stream


def _oracle_answers(input_dir: str, queries: list[str]) -> dict:
    """``{query: {"rows", "cols", "hash"}}`` from the DuckDB oracle over
    the generated files, hashed with ``drive_contract``'s value hash;
    ``None`` for a query without an oracle."""
    import duckdb
    from drive_contract import TABLES, value_hash

    from bigdata_group4_app_spark.registry import ORACLE_REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    out: dict = {}
    for q in queries:
        if q not in ORACLE_REGISTRY:
            out[q] = None
            continue
        tbl = con.execute(ORACLE_REGISTRY[q]).arrow()
        rows = [tuple(r.values()) for r in tbl.to_pylist()]
        out[q] = {"rows": len(rows), "cols": sorted(tbl.schema.names),
                  "hash": value_hash(rows, tbl.schema.names)}
    con.close()
    return out


class Stream:
    """The ingest micro-batch source and what it has committed so far."""

    def __init__(self, batches):
        self.batches = batches
        self.i = 0
        self.last = None
        self.ids: set[int] = set()
        self.chars = 0
        self.text_bytes = 0

    def next(self):
        if self.i == len(self.batches):
            raise RuntimeError("ingest stream exhausted: raise INGEST_BATCHES")
        self.last = self.batches[self.i]
        self.i += 1
        return self.last

    def committed(self, batch) -> None:
        texts = batch["text"].to_pylist()
        self.ids.update(batch["doc_id"].to_pylist())
        self.chars += sum(len(t) for t in texts)
        self.text_bytes += sum(len(t.encode()) for t in texts)

    @property
    def n_committed(self) -> int:
        return len(self.ids)


class Tracer:
    """Layer spans and job attribution. Disabled (untraced runs, warm-up
    and the untraced passes of a traced run), every method is a no-op."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False  # on only during the traced timed passes
        self.layer_s: dict[str, float] = {}
        self.count: dict[str, int] = {}

    def set_op(self, name: str | None) -> None:
        """Tag the jobs that follow with op ``name``; ``None`` clears the
        tags, so jobs between ops are never attributed to a timed op."""
        if self.enabled:
            self.sc.setLocalProperty(M.OP_PROP, name)
            self.sc.setLocalProperty(M.TIMED_PROP, None if name is None else "1")

    @contextlib.contextmanager
    def span(self, layer: str, phase: str | None = None):
        if not self.enabled:
            yield
            return
        prev = self.sc.getLocalProperty(M.PHASE_PROP)
        if phase is not None:
            self.sc.setLocalProperty(M.PHASE_PROP, phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.layer_s[layer] = self.layer_s.get(layer, 0.0) + time.perf_counter() - t0
            self.count[layer] = self.count.get(layer, 0) + 1
            if phase is not None:
                self.sc.setLocalProperty(M.PHASE_PROP, prev)

    def wrap_engine(self) -> None:
        """Rebind ``checkpoint_with_metrics`` and ``load_table`` in every
        engine module that imported them, so their calls become spans."""
        from bigdata_group4_app_spark.functions import iterative
        from bigdata_group4_app_spark.sources import registry as sources

        for mod, name, layer in (
            (iterative, "checkpoint_with_metrics", "iterative.round"),
            (sources, "load_table", "sources.load"),
        ):
            orig = getattr(mod, name)

            def wrapped(*a, _orig=orig, _layer=layer, **kw):
                with self.span(_layer):
                    return _orig(*a, **kw)

            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith("bigdata_group4_app_spark") \
                        and getattr(m, name, None) is orig:
                    setattr(m, name, wrapped)


class Run:
    """Everything one op needs: the session, inputs, stores, tracer."""

    def __init__(self, spark, input_dir, state_root, stream, tracer):
        self.spark = spark
        self.input_dir = input_dir
        self.stream = Stream(stream) if stream is not None else None
        self.tracer = tracer
        self.catalog_dir = os.path.join(state_root, "catalog")
        self.index_dir = os.path.join(state_root, "minhash_index")
        self.failures: list[tuple[str, str]] = []

    def batch_df(self, batch):
        return self.spark.createDataFrame(batch.to_pandas(), "doc_id long, text string")

    def fail(self, op, msg: str) -> None:
        self.failures.append((op.name, msg))
        print(f"# FAIL {op.name}: {msg}", flush=True)


def _run_pass(ctx: Run, ops, samples: list | None) -> tuple[float, int]:
    """One pass over ``ops``; returns (wall seconds, failed ops). With
    ``samples`` given, appends ``(op, seconds, ok)`` per op."""
    t_pass = time.perf_counter()
    failed = 0
    for op in ops:
        ctx.tracer.set_op(op.name)
        n_fail = len(ctx.failures)
        t0 = time.perf_counter()
        try:
            op.run(ctx)
        except Exception:  # an engine defect: record it, keep the run going
            traceback.print_exc()
            ctx.fail(op, "raised (traceback on stderr)")
        dt = time.perf_counter() - t0
        ctx.spark.catalog.clearCache()
        ok = len(ctx.failures) == n_fail
        failed += not ok
        if samples is not None:
            samples.append((op, dt, ok))
    ctx.tracer.set_op(None)
    return time.perf_counter() - t_pass, failed


def _oracle_checks(ctx: Run, ops, input_dir: str) -> dict[str, bool]:
    """Compare each query op's last timed result, and the scores table of
    the last published snapshot, against the cached oracle answer; a query
    without an oracle gets a rows-only check. The results are collected
    concurrently: this is checking, not measurement."""
    from concurrent.futures import ThreadPoolExecutor

    from drive_contract import value_hash

    from bigdata_group4_app_spark.operators.snapshots import read_snapshot_table

    oracle = json.loads(Path(input_dir, "oracle.json").read_text())
    todo: list[tuple[str, str, object]] = []  # (op, query, result frame)
    for op in {op.name: op for op in ops if getattr(op, "queries", None)}.values():
        if hasattr(op, "TABLE"):  # publish_scores: read back what it published
            todo.append((op.name, op.QUERY,
                         read_snapshot_table(ctx.spark, ctx.catalog_dir, op.TABLE)))
        else:
            todo.append((op.name, op.name, op.last_df))
    def collect(item):
        if item[2] is None:
            return None
        try:
            return [tuple(r) for r in item[2].collect()]
        except Exception:  # a failed re-read is a failed check, not a crash
            traceback.print_exc()
            return None

    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        rows = list(pool.map(collect, todo))
    verdict: dict[str, bool] = {}
    for (op_name, query, df), got_rows in zip(todo, rows):
        want = oracle[query]
        if got_rows is None:
            good = False
            print(f"# CHECK MISMATCH {op_name}/{query}: no result to check")
        elif want is None:
            good = len(got_rows) > 0
            print(f"# CHECK ROWS-ONLY {op_name}/{query}: {len(got_rows)} rows")
        else:
            got = value_hash(got_rows, df.columns)
            good = (len(got_rows), sorted(df.columns), got) == (
                want["rows"], want["cols"], want["hash"])
            print(f"# CHECK {'MATCH' if good else 'MISMATCH'} {op_name}/{query}: "
                  f"spark {len(got_rows)} rows hash={got} | "
                  f"oracle {want['rows']} rows hash={want['hash']}")
        verdict[op_name] = verdict.get(op_name, True) and good
    return verdict


def _ingest_checks(ctx: Run, ops) -> dict[str, bool]:
    """End state of the two stores, and every snapshot read's values."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.snapshots import read_snapshot_table
    from bigdata_group4_app_spark.streaming.sinks import read_minhash_index

    verdict: dict[str, bool] = {}
    read = next(op for op in ops if op.name == "snapshot_read")
    bad = [s for s in read.seen if not (s[0] == s[1] == s[3] and s[2] == s[4])]
    verdict["snapshot_read"] = not bad
    print(f"# CHECK {'MATCH' if not bad else 'MISMATCH'} snapshot_read: "
          f"{len(read.seen)} reads, {len(bad)} inconsistent {bad[:3]}")
    docs = read_snapshot_table(ctx.spark, ctx.catalog_dir, "documents")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("ids"),
        F.sum(F.length("text")).alias("chars"),
    ).collect()[0]
    stats = read_snapshot_table(ctx.spark, ctx.catalog_dir, "doc_stats").collect()[0]
    _, bands = read_minhash_index(ctx.spark, ctx.index_dir)
    index_ids = bands.select("doc_id").distinct().count()
    want = ctx.stream.n_committed
    state = {
        "catalog_docs": agg["n"], "catalog_ids": agg["ids"], "index_ids": index_ids,
        "ingested_ids": want, "stats_n_docs": stats["n_docs"],
        "stats_n_chars": stats["n_chars"], "catalog_chars": agg["chars"],
        "ingested_chars": ctx.stream.chars,
    }
    ok = (
        agg["n"] == agg["ids"] == index_ids == want == stats["n_docs"]
        and stats["n_chars"] == agg["chars"] == ctx.stream.chars
    )
    print(f"# CHECK {'MATCH' if ok else 'MISMATCH'} ingest end state: {json.dumps(state)}")
    for op in ops:
        if op.kind in ("write", "replay"):
            verdict[op.name] = ok
    return verdict


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _store_shape(ctx: Run) -> tuple[int, int]:
    """(live segments, bytes they hold) over the catalog head and the
    live index versions."""
    from bigdata_group4_app_spark.operators import snapshots
    from bigdata_group4_app_spark.streaming import sinks

    segs, live = 0, 0
    ids = snapshots.committed_snapshot_ids(ctx.catalog_dir)
    if ids:
        head = snapshots.read_manifest(ctx.catalog_dir, ids[-1])
        for rels in head["tables"].values():
            segs += len(rels)
            live += sum(_du(os.path.join(ctx.catalog_dir, r)) for r in rels)
    for v in sinks._live_versions(ctx.index_dir):
        segs += 1
        live += _du(os.path.join(ctx.index_dir, f"v{v}"))
    return segs, live


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_layer(tracer, ev, timed, passes, store, session, all_op_names
               ) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced timed passes, per pass unless the
    README marks them absolute."""
    t = ev["totals"]
    jobs = ev["jobs"]
    P = len(passes)
    L = tracer.layer_s
    C = tracer.count
    start_s, warmup_s, rss_mb, steal = session
    op_wall = sum(dt for _, dt, _ in timed)
    write_ops = [op for op, _, _ in timed if op.kind == "write"]
    write_names = {op.name for op in write_ops}
    write_jobs = sum(len(js) for name, js in jobs.items() if name in write_names)
    out_bytes_writes = sum(j.get("output_bytes", 0) for name, js in jobs.items()
                           if name in write_names for j in js)
    ingested = sum(p["text_bytes"] for p in passes)
    segs, live_bytes, disk_bytes = store
    m: dict[str, tuple[float, str]] = {
        "session.cores": (os.cpu_count(), "count"),
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "session.jvm_cpu_s": (sum(p["jvm_cpu"] for p in passes) / P, "s"),
        "session.python_cpu_s": (sum(p["py_cpu"] for p in passes) / P, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "operators.construct_s": (L.get("operators.construct", 0.0) / P, "s"),
        "operators.construct_share": (
            L.get("operators.construct", 0.0)
            / max(L.get("operators.construct", 0.0) + L.get("spark.execute", 0.0), 1e-9),
            "ratio"),
        "operators.construct_jobs": (
            sum(1 for js in jobs.values() for j in js if j["phase"] == "construct") / P, "count"),
        "iterative.rounds": (C.get("iterative.round", 0) / P, "count"),
        "iterative.round_s": (L.get("iterative.round", 0.0) / P, "s"),
        "sources.load_calls": (C.get("sources.load", 0) / P, "count"),
        "sources.load_s": (L.get("sources.load", 0.0) / P, "s"),
        "spark.execute_s": (L.get("spark.execute", 0.0) / P, "s"),
        "spark.jobs": (t.get("jobs", 0) / P, "count"),
        "spark.stages": (t.get("stages", 0) / P, "count"),
        "spark.tasks": (t.get("tasks", 0) / P, "count"),
        "spark.job_wall_s": (t.get("job_wall_ms", 0) / 1000 / P, "s"),
        "spark.driver_gap_s": ((op_wall - t.get("job_wall_ms", 0) / 1000) / P, "s"),
        "spark.task_run_s": (t.get("task_run_ms", 0) / 1000 / P, "s"),
        "spark.task_cpu_s": (t.get("task_cpu_ns", 0) / 1e9 / P, "s"),
        "spark.task_gc_s": (t.get("task_gc_ms", 0) / 1000 / P, "s"),
        "spark.task_deser_s": (t.get("task_deser_ms", 0) / 1000 / P, "s"),
        "spark.input_bytes": (t.get("input_bytes", 0) / P, "bytes"),
        "spark.shuffle_read_bytes": (t.get("shuffle_read_bytes", 0) / P, "bytes"),
        "spark.shuffle_write_bytes": (t.get("shuffle_write_bytes", 0) / P, "bytes"),
        "spark.spill_bytes": (t.get("spill_bytes", 0) / P, "bytes"),
        "spark.output_bytes": (t.get("output_bytes", 0) / P, "bytes"),
        "sinks.index_step_s": (L.get("sinks.index_step", 0.0) / P, "s"),
        "sinks.catalog_commit_s": (L.get("sinks.catalog_commit", 0.0) / P, "s"),
        "sinks.compact_s": (L.get("sinks.compact", 0.0) / P, "s"),
        "snapshots.compact_s": (L.get("snapshots.compact", 0.0) / P, "s"),
        "snapshots.commit_s": (L.get("snapshots.commit", 0.0) / P, "s"),
        "snapshots.read_s": (L.get("snapshots.read", 0.0) / P, "s"),
        "store.write_amp": (out_bytes_writes / ingested if ingested else 0.0, "ratio"),
        "store.jobs_per_write": (write_jobs / len(write_ops) if write_ops else 0.0, "count"),
        "store.live_segments": (segs, "count"),
        "store.space_amp": (disk_bytes / live_bytes if live_bytes else 0.0, "ratio"),
        "host.steal_s": (steal, "s"),
    }
    by_name: dict[str, list[float]] = {}
    for op, dt, _ in timed:
        by_name.setdefault(op.name, []).append(dt)
    for name in all_op_names:
        walls = by_name.get(name, [])
        m[f"op.{name}.wall_s"] = (statistics.median(walls) if walls else 0.0, "s")
        m[f"op.{name}.jobs"] = (len(jobs.get(name, [])) / len(walls) if walls else 0.0, "count")
    return m


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    root = _checkout_root()
    sys.path[1:1] = [str(root), str(root / "scripts")]
    work = root / ".perfbench"
    run_dir = _run_dir(work)
    _configure_env(run_dir, trace)

    import workloads

    ops = workloads.build(args.workload)
    t_gen = time.perf_counter()
    input_dir, stream = _inputs(work, args.workload, args.seed, ops)
    gen_s = time.perf_counter() - t_gen

    # identical on-disk state for every run: the run directory is fresh,
    # and the engine's fixture stores for this input are deleted, so
    # set-up always pays the same builds
    state_root = run_dir / "state"
    for store in glob.glob(f"/tmp/spark_graft_*_{os.path.basename(input_dir)}"):
        shutil.rmtree(store, ignore_errors=True)

    from bigdata_group4_app_spark.session import get_spark

    cores = os.cpu_count()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores)
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(sc)
    if trace:
        tracer.wrap_engine()
    ctx = Run(spark, input_dir, str(state_root), stream, tracer)

    t0 = time.perf_counter()
    warm_wall, warm_failed = _run_pass(ctx, ops, None)
    warmup_s = time.perf_counter() - t0

    # -------- timed phase --------
    # In a traced run the traced passes give the per-layer metrics and
    # the untraced ones the reference for trace.overhead_frac.
    setup_s = M.process_age_s() - gen_s
    n_passes = TRACED_RUN_PASSES if trace else max(
        MIN_TIMED_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    timed: list = []  # (op, seconds, ok, traced)
    passes: list[dict] = []
    while len(passes) < n_passes:
        traced = trace and len(passes) % 4 in (1, 2)
        tracer.enabled = traced
        before = _pass_counters(ctx, jvm_pid)
        samples: list = []
        wall, _ = _run_pass(ctx, ops, samples)
        after = _pass_counters(ctx, jvm_pid)
        passes.append({"wall": wall, "traced": traced,
                       **{k: after[k] - before[k] for k in before}})
        timed += [(op, dt, ok, traced) for op, dt, ok in samples]
    tracer.enabled = False
    rss_mb = M.peak_rss_mb(jvm_pid)
    store = (*_store_shape(ctx), _du(ctx.catalog_dir) + _du(ctx.index_dir)) if trace else None

    # -------- output checks (after the timed phase) --------
    t_check = time.perf_counter()
    verdict = _oracle_checks(ctx, ops, input_dir)
    if ctx.stream is not None:
        try:
            verdict.update(_ingest_checks(ctx, ops))
        except Exception:  # the stores cannot even be read back
            traceback.print_exc()
            print("# CHECK MISMATCH ingest end state: reading the stores raised")
            verdict.update({op.name: False for op in ops if op.kind != "funnel"})
    check_s = time.perf_counter() - t_check
    _stop(spark)

    failed = sum(1 for op, _, ok, _ in timed if not ok or not verdict.get(op.name, True))
    correct = failed == 0 and warm_failed == 0 and all(verdict.values())
    plain = [(op, dt, ok) for op, dt, ok, traced in timed if not traced]
    q = [dt for op, dt, ok in plain if ok and op.kind == "query"]
    w = [dt for op, dt, ok in plain if ok and op.kind == "write"]
    if not q or not w:
        _die("no successful query or write op in the timed phase")
    q50, qtail, qp = M.p50_and_tail(q)
    w50, wtail, wp = M.p50_and_tail(w)
    makespan = statistics.median(p["wall"] for p in passes if not p["traced"])
    steal = sum(p["steal"] for p in passes)

    print(f"# workload={args.workload} seed={args.seed} cores={cores} input={input_dir} "
          f"gen_s={gen_s:.2f} trace={args.trace}")
    print(f"# warm pass total s: {warm_wall:.3f}")
    print("# timed passes (wall s, steal s, cpu s" + (", traced" if trace else "") + "): "
          + json.dumps([[round(p["wall"], 3), round(p["steal"], 2),
                         round(p["jvm_cpu"] + p["py_cpu"], 2)] + ([p["traced"]] if trace else [])
                        for p in passes]))
    per_op: dict[str, list[float]] = {}
    for op, dt, _ in plain:
        per_op.setdefault(op.name, []).append(dt)
    print("# op median s: " + json.dumps(
        {k: round(statistics.median(v), 3) for k, v in per_op.items()}))
    print(f"# samples: query n={len(q)} tail=p{qp:g}; write n={len(w)} tail=p{wp:g}")
    print(f"# host.steal_s={steal:.2f} (diagnostic; never used to scale a metric)")
    print(f"# check_s={check_s:.1f} wall_s={time.perf_counter() - t_start:.1f}", flush=True)

    if trace:
        ev = M.read_event_log(str(run_dir / "eventlog"))
        names = [n for wl in WORKLOADS for n in dict.fromkeys(op.name for op in workloads.build(wl))]
        traced_passes = [p for p in passes if p["traced"]]
        out = _per_layer(tracer, ev, [t[:3] for t in timed if t[3]], traced_passes, store,
                         (start_s, warmup_s, rss_mb, steal), names)
        out["trace.overhead_frac"] = (
            statistics.median(p["wall"] for p in traced_passes) / makespan - 1.0, "ratio")
    else:
        out = {
            "setup_s": (setup_s, "s"),
            "makespan_s": (makespan, "s"),
            "query_p50_s": (q50, "s"),
            "query_tail_s": (qtail, "s"),
            "write_p50_s": (w50, "s"),
            "write_tail_s": (wtail, "s"),
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


def _pass_counters(ctx: Run, jvm_pid: int) -> dict[str, float]:
    """Cumulative counters read around each timed pass."""
    return {
        "steal": M.host_steal_s(),
        "jvm_cpu": M.proc_cpu_s(jvm_pid),
        # the driver plus the Python workers the JVM forked (and reaped)
        "py_cpu": M.tree_cpu_s(M.descendants(jvm_pid)) + sum(os.times()[:2]),
        "text_bytes": ctx.stream.text_bytes if ctx.stream is not None else 0,
    }


if __name__ == "__main__":
    sys.exit(main())
