"""Unit tests of the benchmark's measurement helpers (no JVM needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics as M  # noqa: E402


def test_percentile_rank():
    s = [1.0, 2.0, 3.0, 4.0]
    assert M.percentile(s, 50) == 3.0  # upper median
    assert M.percentile(s, 75) == 4.0
    assert M.percentile(s, 100) == 4.0
    assert M.percentile(s, 0) == 1.0
    assert M.percentile([1.0, 2.0, 3.0], 50) == 2.0
    assert M.percentile([5.0], 99.9) == 5.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


@pytest.mark.parametrize(
    "n, tail_p",
    [(1, 50), (5, 50), (20, 50), (21, 50), (40, 50), (41, 75), (99, 75),
     (100, 75), (101, 90), (199, 90), (201, 95), (1001, 99), (10001, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, tail_p):
    values = [float(i) for i in range(n)]
    p50, tail, p = M.p50_and_tail(values)
    assert p == tail_p
    assert p50 == M.percentile(values, 50)
    assert tail == M.percentile(values, tail_p)
    if p > 50:
        assert sum(v > tail for v in values) >= M.TAIL_MIN_BEYOND


def test_tail_never_below_p50():
    rng = random.Random(7)
    for _ in range(500):
        values = [rng.lognormvariate(0, 1) for _ in range(rng.randint(1, 300))]
        p50, tail, _ = M.p50_and_tail(values)
        assert tail >= p50
        assert p50 == sorted(values)[len(values) // 2]


def test_event_log_parser_on_tiny_fixture():
    with open(HERE / "fixtures" / "eventlog_tiny.jsonl") as f:
        ev = M.parse_event_log(f)
    t = ev["totals"]
    # job 0 carries no perfbench.timed property: excluded entirely
    assert t["jobs"] == 3
    # stage 2 is listed by jobs 1 and 2 but ran once, under job 1
    assert t["stages"] == 4
    assert t["tasks"] == 5
    assert t["task_run_ms"] == 30 + 40 + 35 + 20 + 90
    assert t["task_cpu_ns"] == 165_000_000
    assert t["task_gc_ms"] == 7
    assert t["task_deser_ms"] == 11
    assert t["input_bytes"] == 3000
    assert t["output_bytes"] == 4096
    assert t["shuffle_read_bytes"] == 100
    assert t["shuffle_write_bytes"] == 100
    assert t["spill_bytes"] == 10
    q1 = ev["jobs"]["q1"]
    assert [j["phase"] for j in q1] == ["construct", "execute"]
    assert [j["stages"] for j in q1] == [2, 1]
    assert q1[0]["tasks"] == 3 and q1[1]["tasks"] == 1
    # q1's two jobs overlap (2000-2100, 2080-2150): their union is 150 ms
    assert t["job_wall_ms"] == 150 + 200
    assert ev["jobs"]["ingest_commit"][0]["output_bytes"] == 4096


def test_union_of_job_intervals():
    assert M._union_ms([]) == 0
    assert M._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert M._union_ms([(0, 50), (10, 20)]) == 50
