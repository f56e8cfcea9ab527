"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from perfbench import harness as h
from perfbench import layers

ROOT = Path(__file__).resolve().parent.parent


# -- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize(
    "n,want", [(100, 90.0), (40, 75.0), (1000, 99.0), (11, 9.0), (10, 0.0), (0, 0.0)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert h.tail_percentile(n) == want


def test_tail_percentile_leaves_at_least_ten_above():
    for n in range(11, 500):
        p = h.tail_percentile(n)
        values = list(range(n))
        cut = h.percentile(values, p)
        assert sum(v > cut for v in values) >= 10
        # one whole percentile higher would leave fewer than ten
        if p < 99:
            assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_and_median():
    assert h.percentile(list(range(101)), 90) == 90
    assert h.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert h.median([4, 1, 3, 2]) == 2.5


# -- /proc process-tree CPU ----------------------------------------------------


def _fake_proc(tmp_path, rows):
    """rows: (pid, ppid, utime, stime, cutime, cstime, comm)."""
    for pid, ppid, ut, st, cut, cst, comm in rows:
        d = tmp_path / str(pid)
        d.mkdir()
        # fields after the command: state ppid pgrp session tty tpgid
        # flags minflt cminflt majflt cmajflt utime stime cutime cstime
        fields = ["S", ppid] + [0] * 9 + [ut, st, cut, cst] + [0] * 30
        (d / "stat").write_text(
            f"{pid} ({comm}) " + " ".join(str(f) for f in fields) + "\n"
        )
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_process_tree_cpu_sums_descendants_only(tmp_path):
    tck = float(h._CLK_TCK)
    proc = _fake_proc(
        tmp_path,
        [
            (10, 1, 100, 50, 0, 0, "python3"),
            (11, 10, 300, 20, 40, 10, "java (spark) x"),  # name with spaces
            (12, 11, 5, 5, 0, 0, "python3"),
            (13, 1, 999, 999, 0, 0, "unrelated"),
        ],
    )
    got = h.process_tree_cpu_s(10, proc=proc)
    assert got == pytest.approx((150 + 370 + 10) / tck)
    assert h.process_tree_cpu_s(12, proc=proc) == pytest.approx(10 / tck)


def test_process_tree_cpu_counts_live_and_reaped_children():
    burn = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.4: pass\n"
        "time.sleep(1.5)\n"
    )
    before = h.process_tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        time.sleep(0.9)  # child has burnt its CPU and is sleeping
        live = h.process_tree_cpu_s() - before
    finally:
        child.wait(timeout=10)
    reaped = h.process_tree_cpu_s() - before
    assert live >= 0.35
    assert reaped >= 0.35  # now in this process's cutime


# -- spans and event-log attribution ----------------------------------------------


def _span(sid, name, start, end, parent=None):
    sp = h.Span(sid, name, start, parent, None)
    sp.end = end
    return sp


def _job(jid, submit_s, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": int(submit_s * 1000),
        "Stage IDs": stages,
        "Properties": props,
    }


def _task(stage, launch_s, finish_s, run_ms, cpu_ns, gc_ms, read=0, sw=0, sr=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": int(launch_s * 1000),
            "Finish Time": int(finish_s * 1000),
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


def test_attribute_events_by_group_and_by_open_span(tmp_path):
    spans = [
        _span("s1", "operators.build", 100.0, 110.0),
        _span("s2", "operators.search", 102.0, 105.0, parent="s1"),
    ]
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 99000},
        _job(0, 102.5, [0, 1], group="s2"),
        # no group: a serving lane thread; open spans at 106 are s1 only
        _job(1, 106.0, [2]),
        # no group while s2 is open too: the innermost (latest) span wins
        _job(2, 103.0, [3]),
        # a group the benchmark never opened and no span open: unattributed
        _job(3, 200.0, [4], group="other"),
        # a stale group (s2 closed at 105): the open span s1 owns it
        _job(4, 107.0, [5], group="s2"),
        _task(0, 102.6, 103.0, 400, 300_000_000, 10, read=1000),
        _task(0, 102.8, 103.4, 500, 200_000_000, 0, sw=64),
        _task(1, 103.5, 104.0, 450, 100_000_000, 5, sr=64),
        _task(2, 106.1, 107.1, 1000, 900_000_000, 20),
        _task(3, 103.1, 103.2, 100, 0, 0),
        _task(4, 200.1, 200.2, 100, 50_000_000, 0),
        _task(5, 107.2, 107.3, 100, 100_000_000, 0),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    att = h.attribute_events(h.read_event_log(str(tmp_path)), spans)
    s2 = att["spans"]["s2"]
    assert s2["jobs"] == 2 and s2["stages"] == 3 and s2["tasks"] == 4
    assert s2["run_ms"] == 1450
    assert s2["cpu_ms"] == pytest.approx(600.0)
    assert s2["gc_ms"] == 15 and s2["input_bytes"] == 1000
    assert s2["shuffle_write_bytes"] == 64 and s2["shuffle_read_bytes"] == 64
    # task intervals [102.6, 103.4] + [103.5, 104.0] + [103.1, 103.2]
    assert s2["busy_ms"] == pytest.approx(1300.0)
    s1 = att["spans"]["s1"]
    assert s1["jobs"] == 2 and s1["tasks"] == 2
    assert s1["cpu_ms"] == pytest.approx(1000.0)
    un = att["unattributed"]
    assert un["jobs"] == 1 and un["tasks"] == 1
    total = h.sum_metrics(att["spans"], ["s1", "s2"])
    assert total["jobs"] == 4 and total["tasks"] == 6


def test_self_time_subtracts_child_cover():
    spans = [
        _span("a", "outer", 0.0, 10.0),
        _span("b", "x", 1.0, 4.0, parent="a"),
        _span("c", "y", 3.0, 6.0, parent="a"),  # overlaps b
        _span("d", "z", 1.5, 2.0, parent="b"),
    ]
    st = h.self_times(spans)
    assert st["a"] == pytest.approx(5.0)
    assert st["b"] == pytest.approx(2.5)
    assert st["c"] == pytest.approx(3.0)


def test_tracer_nests_and_shares_request_id():
    tr = h.Tracer()
    with tr.span("outer", rid="r1") as a:
        with tr.span("inner") as b:
            pass
    assert b.parent == a.sid and b.rid == "r1" and a.dur >= b.dur >= 0
    assert tr.spans == []  # kept only in a traced run
    got = []

    def other_thread():
        with tr.span("client", parent=a) as c:
            got.append(c)

    th = threading.Thread(target=other_thread)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive() and got[0].parent == a.sid


def test_mode_margins():
    classes = ["fast"] * 60 + ["slow"] * 40
    lat = [0.1] * 60 + [0.5] * 40
    p50, tail = layers.mode_margins(classes, lat, 90.0)
    assert p50 == pytest.approx(0.1) and tail == pytest.approx(0.3)
    assert layers.mode_margins(["one"] * 5, [0.1] * 5, 0.0) == (1.0, 1.0)


# -- the benchmark definition --------------------------------------------------------


def test_benchmark_json_matches_the_code():
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert [
        (m["name"], m["unit"], m["better"]) for m in spec["per_layer"]
    ] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert os.path.isfile(ROOT / spec["command"][1])
