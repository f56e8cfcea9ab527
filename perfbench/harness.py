"""Measurement helpers shared by the benchmark workloads.

Everything here is engine-agnostic: the percentile rule, the ``/proc``
process-tree CPU and host-steal samplers, the span tracer and the Spark
event-log attribution that turns a traced run into per-span task
metrics.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    v = sorted(values)
    if not v:
        return float("nan")
    m = len(v) // 2
    return float(v[m]) if len(v) % 2 else (v[m - 1] + v[m]) / 2.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest whole percentile that still has at least ``beyond``
    samples strictly above it in a sample of ``n`` (0 when ``n`` is too
    small for any). 100 samples give p90, 40 give p75."""
    if n <= beyond:
        return 0.0
    return float(math.floor(100.0 * (n - beyond) / n))


# ---------------------------------------------------------------------------
# /proc process-tree CPU
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _read_stat(path: str):
    """-> (pid, ppid, utime+stime+cutime+cstime ticks) or None."""
    try:
        with open(path, "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may itself hold spaces
    rpar = raw.rfind(")")
    pid = int(raw[: raw.index(" ")])
    rest = raw[rpar + 2 :].split()
    # fields after ")": state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return pid, int(rest[1]), ticks


def process_tree_cpu_s(root_pid: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds (user + system, including reaped children) of
    ``root_pid`` and every live descendant. A child that exited and was
    reaped by a parent inside the tree stays counted through that
    parent's ``cutime``/``cstime``."""
    root_pid = os.getpid() if root_pid is None else root_pid
    table: dict[int, tuple[int, int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            rec = _read_stat(os.path.join(proc, name, "stat"))
            if rec is not None:
                table[rec[0]] = (rec[1], rec[2])
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in table:
            total += table[pid][1]
        stack.extend(children.get(pid, ()))
    return total / float(_CLK_TCK)


def host_steal_s(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor gave to other guests (all CPUs), from
    the ``steal`` column of ``/proc/stat``."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = fh.readline().split()
    return int(fields[8]) / float(_CLK_TCK)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    return max(0.0, uptime - start_ticks / float(_CLK_TCK))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: str
    name: str
    start: float
    parent: str | None
    rid: str | None
    attrs: dict = field(default_factory=dict)
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into the engine.

    Every span measures its wall time. With ``sc`` given (the traced
    run) a span is also kept in memory and tags the Spark jobs its
    thread submits with ``setJobGroup(<span id>)``, so the event log can
    be attributed to it afterwards. Without ``sc`` nothing is kept and
    no Spark property is touched."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, rid: str | None = None, parent: Span | None = None, **attrs):
        """``parent`` defaults to this thread's innermost open span; pass
        it explicitly for work done on behalf of a span of another thread."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            self._seq += 1
            sid = f"s{self._seq}"
        sp = Span(
            sid, name, time.time(),
            parent.sid if parent else None,
            rid if rid is not None else (parent.rid if parent else None),
            attrs,
        )
        if self.enabled:
            self.sc.setJobGroup(sid, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled:
                if stack:
                    self.sc.setJobGroup(stack[-1].sid, stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                with self._lock:
                    self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(sp.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return {
        sp.sid: sp.dur - union_length(
            [(k.start, k.end) for k in kids.get(sp.sid, ())], sp.start, sp.end
        )
        for sp in spans
    }


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of ``intervals``, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log -> per-span task metrics
# ---------------------------------------------------------------------------

_TASK_KEYS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes",
)


def read_event_log(event_dir: str) -> list[dict]:
    """Parse the one uncompressed, non-rolling event log that a traced
    run writes into ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {event_dir}, got {names}")
    with open(os.path.join(event_dir, names[0])) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def attribute_events(events: list[dict], spans: list[Span]) -> dict:
    """Sum task metrics per span.

    A job belongs to the span whose id is its job group when that span
    was open at the job's submission. Any other job goes to the
    innermost span open at its submission time: jobs without a group,
    and jobs from threads that carry a stale group (a thread pool such
    as the serving lanes keeps whatever properties its threads were
    created with). Tasks reach a job through their stage.

    Returns ``{"spans": {sid: metrics}, "unattributed": metrics}`` where
    metrics holds ``jobs``, ``stages``, the task sums in ``_TASK_KEYS``,
    the task run ``intervals`` (epoch seconds) and ``busy_ms``: the
    length of their union."""
    by_id = {sp.sid: sp for sp in spans}
    stage_job: dict[int, int] = {}
    job_owner: dict[int, str | None] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid = ev["Job ID"]
        props = ev.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        submitted = ev.get("Submission Time", 0) / 1000.0
        sp = by_id.get(group)
        if sp is not None and sp.start <= submitted <= sp.end:
            owner = group
        else:
            owner = _innermost_open(spans, submitted)
        job_owner[jid] = owner
        for st in ev.get("Stage IDs", []):
            stage_job.setdefault(st, jid)

    def blank() -> dict:
        d = {k: 0 for k in _TASK_KEYS}
        d.update(jobs=0, stages=set(), intervals=[])
        return d

    acc: dict[str | None, dict] = {}
    for jid, owner in job_owner.items():
        acc.setdefault(owner, blank())["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev.get("Stage ID"))
        owner = job_owner.get(jid)
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        a = acc.setdefault(owner, blank())
        a["tasks"] += 1
        a["stages"].add(ev.get("Stage ID"))
        a["run_ms"] += m.get("Executor Run Time", 0)
        a["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        a["gc_ms"] += m.get("JVM GC Time", 0)
        a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        if info.get("Launch Time") and info.get("Finish Time"):
            a["intervals"].append(
                (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
            )
    out = {}
    for owner, a in acc.items():
        a["stages"] = len(a["stages"])
        a["busy_ms"] = 1000.0 * union_length(a["intervals"])
        out[owner] = a
    empty = blank()
    empty.update(stages=0, busy_ms=0.0)
    return {
        "spans": {k: v for k, v in out.items() if k is not None},
        "unattributed": out.get(None, empty),
    }


def _innermost_open(spans: list[Span], t: float) -> str | None:
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best.sid if best else None


def sum_metrics(per_span: dict, sids) -> dict:
    out = {k: 0 for k in _TASK_KEYS}
    out.update(jobs=0, stages=0, busy_ms=0.0)
    for sid in sids:
        m = per_span.get(sid)
        if m:
            for k in out:
                out[k] += m[k]
    return out


# ---------------------------------------------------------------------------
# misc
# ---------------------------------------------------------------------------


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, f))
    return total
