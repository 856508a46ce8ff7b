"""Pure-Python measurement helpers: percentiles, Spark event-log
parsing and ``/proc`` readers. Nothing here imports Spark, so the unit
tests run without a JVM."""

from __future__ import annotations

import json
import os
from collections import defaultdict

# Tail ladder: the tail is the highest of these that still has at least
# ``TAIL_MIN_BEYOND`` samples above it, and never below the median.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based rank ``floor(p/100 * n) + 1`` (capped at ``n``), in exact
    integer arithmetic on tenths of a percent. For p50 this is the upper
    median: with an even count of two op kinds, the median lands on the
    kind that makes up at least half of the samples."""
    return min(n, round(p * 10) * n // 1000 + 1)


def percentile(sorted_values: list[float], p: float) -> float:
    """Percentile of an ascending list at rank :func:`_rank` (a real
    sample, so p50 and the tail are two order statistics of one set)."""
    if not sorted_values:
        raise ValueError("percentile of no samples")
    return sorted_values[_rank(p, len(sorted_values)) - 1]


def p50_and_tail(values: list[float]) -> tuple[float, float, float]:
    """``(p50, tail, tail_p)`` over one sample set. ``tail_p`` is the
    highest ladder percentile with at least ``TAIL_MIN_BEYOND`` samples
    strictly above its rank. With too few samples for any percentile
    above the median (p75 needs 41) the tail is the median itself."""
    s = sorted(values)
    n = len(s)
    tail_p = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            tail_p = p
    p50 = percentile(s, 50.0)
    tail = percentile(s, tail_p)
    if tail < p50:
        raise AssertionError(f"tail {tail} below p50 {p50}")
    return p50, tail, tail_p


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

OP_PROP = "perfbench.op"  # op name of the job's op
PHASE_PROP = "perfbench.phase"  # construct | execute | write | read
TIMED_PROP = "perfbench.timed"  # "1" for jobs of traced timed passes


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_event_log(lines) -> dict:
    """Aggregate one Spark JSON event log over the jobs whose properties
    carry ``perfbench.timed=1``.

    Returns ``{"jobs": {op: [job, ...]}, "totals": {...}}`` where each
    job is ``{"op", "phase", "start_ms", "end_ms", "stages", <task
    metric sums>}`` and ``totals`` sums the same over all those jobs. A stage
    belongs to the job whose submission carried its properties (the
    ``StageSubmitted`` event holds them), so a stage reused from an
    earlier job is never counted twice."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    totals: dict[str, float] = defaultdict(float)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(TIMED_PROP) != "1":
                continue
            jobs[ev["Job ID"]] = {
                "op": props.get(OP_PROP, "?"),
                "phase": props.get(PHASE_PROP, "?"),
                "start_ms": ev["Submission Time"],
                "end_ms": ev["Submission Time"],
                "stages": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if props.get(TIMED_PROP) == "1" and stage_job.get(sid) in jobs:
                jobs[stage_job[sid]]["stages"] += 1
                totals["stages"] += 1
            else:
                stage_job.pop(sid, None)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid not in jobs:
                continue
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            vals = {
                "tasks": 1,
                "task_run_ms": m.get("Executor Run Time", 0),
                "task_cpu_ns": m.get("Executor CPU Time", 0),
                "task_gc_ms": m.get("JVM GC Time", 0),
                "task_deser_ms": m.get("Executor Deserialize Time", 0),
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            }
            for k, v in vals.items():
                jobs[jid][k] = jobs[jid].get(k, 0) + v
                totals[k] += v
    by_op: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        by_op[j["op"]].append(j)
    totals["jobs"] = len(jobs)
    totals["job_wall_ms"] = sum(
        _union_ms([(j["start_ms"], j["end_ms"]) for j in js]) for js in by_op.values()
    )
    return {"jobs": dict(by_op), "totals": dict(totals)}


def read_event_log(log_dir: str) -> dict:
    """Parse the single finished event log under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return parse_event_log(f)


# ---------------------------------------------------------------------------
# /proc readers (Linux)
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int, with_children: bool = False) -> float:
    """utime + stime of ``pid`` (plus reaped children when asked)."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms
    resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / CLK_TCK


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children[int(_stat_fields(int(d))[1])].append(int(d))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """CPU seconds of ``pids`` including their reaped children; a pid
    that exited since it was listed counts as 0."""
    total = 0.0
    for p in pids:
        try:
            total += proc_cpu_s(p, with_children=True)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_steal_s() -> float:
    """Steal seconds summed over all CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK
