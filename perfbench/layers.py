"""Per-layer metrics of a traced run.

Layers are named by engine module. Numbers come from timing a public
call from outside the engine, or from the Spark event log attributed to
the benchmark's spans (``harness.attribute_events``). Every workload
reports every metric: layers its timed pass does not reach are called
once by its ``layer_sweep`` after the checks.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow.parquet as pq
from elasticsearch_analysis_hashsplitter_spark.functions import codec
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    term_counts_frame,
)
from elasticsearch_analysis_hashsplitter_spark.sources import catalog, iceberg

from . import harness as h
from .workloads import count_leaves

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("trace.layer_cover", "ratio", "higher"),
    ("trace.ops_per_s", "1/s", "higher"),
    ("trace.op_p50_ms", "ms", "lower"),
    ("op.samples", "count", "higher"),
    ("op.tail_ms", "ms", "lower"),
    ("op.attempted", "count", "higher"),
    ("op.error_rate", "ratio", "lower"),
    ("tokenize.ms_per_mb", "ms/MB", "lower"),
    ("tokenize.terms_per_kb", "1/KB", "lower"),
    ("codec.decode_ns_per_id", "ns", "lower"),
    ("codec.bytes_per_posting", "B", "lower"),
    ("compile.us_per_query", "us", "lower"),
    ("compile.clauses_per_query", "count", "lower"),
    ("search.open_ms", "ms", "lower"),
    ("search.jobs_per_query", "count", "lower"),
    ("search.stages_per_query", "count", "lower"),
    ("search.tasks_per_query", "count", "lower"),
    ("search.input_bytes_per_query", "B", "lower"),
    ("search.executor_cpu_ms_per_query", "ms", "lower"),
    ("search.driver_ms_per_query", "ms", "lower"),
    ("search.gc_ms_per_query", "ms", "lower"),
    ("serve.qps", "1/s", "higher"),
    ("serve.p50_ms", "ms", "lower"),
    ("serve.tail_ms", "ms", "lower"),
    ("serve.requests_per_job", "ratio", "higher"),
    ("serve.jobs", "count", "lower"),
    ("serve.driver_ms_per_job", "ms", "lower"),
    ("build.jobs", "count", "lower"),
    ("build.tasks", "count", "lower"),
    ("build.executor_cpu_s", "s", "lower"),
    ("build.shuffle_write_bytes_per_file", "B", "lower"),
    ("build.output_bytes", "B", "lower"),
    ("build.gc_ms", "ms", "lower"),
    ("upsert.wall_s", "s", "lower"),
    ("upsert.jobs", "count", "lower"),
    ("upsert.executor_cpu_s", "s", "lower"),
    ("upsert.input_bytes_per_batch_byte", "ratio", "lower"),
    ("refresh.ms", "ms", "lower"),
    ("iceberg.read_ms", "ms", "lower"),
    ("iceberg.input_bytes", "B", "lower"),
    ("catalog.postings_files", "count", "lower"),
    ("catalog.slices", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.shuffle_bytes", "B", "lower"),
]

#: span names that stand for an engine layer (everything else is the
#: benchmark's own bookkeeping)
LAYER_PREFIXES = ("operators.", "streaming.", "sources.", "functions.", "plans.")


def _best_of(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def driver_calls(wl) -> dict:
    """Time the driver-side layers directly: tokenizer, codec, compile
    and one Iceberg scan, around the workload's layer sweep. Runs after
    the timed phase and the checks."""
    out: dict = {}
    inputs = wl.layer_inputs()
    texts, cfg = inputs["tokenize"]
    series = pd.Series(texts)
    nbytes = sum(len(t.encode()) for t in texts)
    frame = term_counts_frame(series, cfg)
    sec = _best_of(lambda: term_counts_frame(series, cfg))
    out["tokenize.ms_per_mb"] = 1000 * sec / (nbytes / 1e6)
    out["tokenize.terms_per_kb"] = float(frame["dl"].sum()) / (nbytes / 1e3)

    cols = pq.read_table(
        catalog.postings_path(wl.index_dir), columns=["docs", "tfs", "dls"]
    ).to_pydict()
    blobs = cols["docs"]
    n_ids = sum(len(codec.decode_doc_ids(b)) for b in blobs)
    sec = _best_of(lambda: [codec.decode_doc_ids(b) for b in blobs])
    out["codec.decode_ns_per_id"] = 1e9 * sec / n_ids
    out["codec.bytes_per_posting"] = (
        sum(len(b) for c in ("docs", "tfs", "dls") for b in cols[c]) / n_ids
    )

    fns = inputs["compile"]
    reps = 200
    sec = _best_of(lambda: [fn() for _ in range(reps) for _, fn in fns])
    out["compile.us_per_query"] = 1e6 * sec / (reps * len(fns))
    out["compile.clauses_per_query"] = sum(count_leaves(fn()) for _, fn in fns) / len(fns)

    out["catalog.postings_files"] = float(
        sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(catalog.postings_path(wl.index_dir))
            for f in fs
        )
    )
    out["catalog.slices"] = float(len(catalog.list_postings_slices(wl.index_dir)))
    wl.layer_sweep()
    table = getattr(wl, "table", None)
    if table is not None:
        with wl.tr.span("sources.iceberg.scan") as sp:
            iceberg.read_table(wl.spark, table).count()
        out["iceberg.read_ms"] = 1000 * sp.dur
    return out


def layer_metrics(wl, events, window, e2e: dict, direct: dict) -> dict:
    """Per-layer metrics of a traced run; ``window`` is the timed phase
    (epoch seconds), ``direct`` the output of :func:`driver_calls`."""
    spans = wl.tr.spans
    att = h.attribute_events(events, spans)
    per = att["spans"]
    t0, t1 = window
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out.update(direct)

    def pick(name, lo=float("-inf"), hi=float("inf")):
        return [s for s in spans if s.name == name and lo <= s.start <= hi]

    def total(picked):
        return h.sum_metrics(per, [s.sid for s in picked])

    wall = t1 - t0
    layer = [
        (s.start, s.end) for s in spans
        if s.name.startswith(LAYER_PREFIXES) and t0 <= s.start <= t1
    ]
    out["trace.layer_cover"] = h.union_length(layer, t0, t1) / wall
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]

    lat = wl.lat
    pct = h.tail_percentile(len(lat))
    out["op.samples"] = float(len(lat))
    out["op.tail_ms"] = 1000 * h.percentile(lat, pct or 100.0)
    out["op.attempted"] = float(wl.attempted)
    out["op.error_rate"] = wl.failed / max(wl.attempted, 1)

    # -- operators.search: single-client queries of the timed phase ------
    q = pick("operators.search", t0, t1)
    if q:
        m, n = total(q), len(q)
        out["search.jobs_per_query"] = m["jobs"] / n
        out["search.stages_per_query"] = m["stages"] / n
        out["search.tasks_per_query"] = m["tasks"] / n
        out["search.input_bytes_per_query"] = m["input_bytes"] / n
        out["search.executor_cpu_ms_per_query"] = m["cpu_ms"] / n
        out["search.gc_ms_per_query"] = m["gc_ms"] / n
        out["search.driver_ms_per_query"] = sum(
            1000 * s.dur - per.get(s.sid, {}).get("busy_ms", 0.0) for s in q
        ) / n
    opens = getattr(wl, "open_s", None) or [s.dur for s in pick("operators.search.open")]
    out["search.open_ms"] = 1000 * h.median(opens)

    # -- serving: the last serving pass (timed, or the layer sweep) --------
    passes = pick("serve.pass", t0)
    if passes:
        sp = passes[-1]
        ids = [s.sid for s in spans if s.parent == sp.sid]
        m = h.sum_metrics(per, ids)
        jobs = max(m["jobs"], 1)
        slat = wl.serve_lat
        out["serve.qps"] = len(slat) / sp.dur
        out["serve.p50_ms"] = 1000 * h.median(slat)
        out["serve.tail_ms"] = 1000 * h.percentile(
            slat, h.tail_percentile(len(slat)) or 100.0
        )
        out["serve.jobs"] = float(m["jobs"])
        out["serve.requests_per_job"] = len(slat) / jobs
        busy = 1000 * h.union_length(
            [iv for sid in ids for iv in per.get(sid, {}).get("intervals", [])]
        )
        out["serve.driver_ms_per_job"] = (1000 * sp.dur - busy) / jobs

    # -- operators.build: every build of the run, set-up included ---------
    builds = pick("operators.build")
    if builds:
        m, n = total(builds), len(builds)
        out["build.jobs"] = m["jobs"] / n
        out["build.tasks"] = m["tasks"] / n
        out["build.executor_cpu_s"] = m["cpu_ms"] / 1000 / n
        out["build.shuffle_write_bytes_per_file"] = (
            m["shuffle_write_bytes"] / n / wl.n_files
        )
        out["build.gc_ms"] = m["gc_ms"] / n
    out["build.output_bytes"] = float(wl.index_bytes)

    # -- streaming.incremental: upserts after the warm-up -------------------
    ups = pick("streaming.incremental", t0)
    if ups:
        m, n = total(ups), len(ups)
        out["upsert.wall_s"] = h.median([s.dur for s in ups])
        out["upsert.jobs"] = m["jobs"] / n
        out["upsert.executor_cpu_s"] = m["cpu_ms"] / 1000 / n
        out["upsert.input_bytes_per_batch_byte"] = (
            m["input_bytes"] / n / h.median(wl.batch_bytes)
        )
    refreshes = pick("operators.search.refresh", t0)
    if refreshes:
        out["refresh.ms"] = 1000 * h.median([s.dur for s in refreshes])

    # -- sources.iceberg --------------------------------------------------------
    scans = pick("sources.iceberg.scan")
    if scans:
        out["iceberg.input_bytes"] = float(total(scans)["input_bytes"])

    # -- whole run ---------------------------------------------------------
    tot = h.sum_metrics(per, list(per))
    un = att["unattributed"]
    out["spark.jobs"] = float(tot["jobs"] + un["jobs"])
    out["spark.tasks"] = float(tot["tasks"] + un["tasks"])
    out["spark.gc_ms"] = float(tot["gc_ms"] + un["gc_ms"])
    out["spark.shuffle_bytes"] = float(
        tot["shuffle_write_bytes"] + un["shuffle_write_bytes"]
    )
    return out


def diagnostics(wl) -> dict:
    """Per-class median latency and how far the run's median and tail
    percentile sit from a class boundary (printed, not in the metrics)."""
    by_class: dict[str, list] = {}
    for cls, x in zip(wl.lat_class, wl.lat):
        by_class.setdefault(cls, []).append(x)
    out = {
        f"p50_ms.{cls}": 1000 * h.median(xs) for cls, xs in sorted(by_class.items())
    }
    out.update({f"share.{c}": len(xs) / len(wl.lat) for c, xs in sorted(by_class.items())})
    out["p50_margin"], out["tail_margin"] = mode_margins(
        wl.lat_class, wl.lat, h.tail_percentile(len(wl.lat))
    )
    return out


def mode_margins(classes, lat, tail_pct: float):
    """How far the median and the tail percentile sit from a class
    boundary: classes are ordered by their own median latency, their
    sample shares stacked into cumulative boundaries, and each margin
    is the distance (in sample share) from the quantile to the nearest
    inner boundary. A margin near 0 means the quantile can flip between
    two latency modes from run to run. 1.0 when there is one class."""
    by: dict[str, list] = {}
    for c, x in zip(classes, lat):
        by.setdefault(c, []).append(x)
    if len(by) < 2:
        return 1.0, 1.0
    order = sorted(by, key=lambda c: h.median(by[c]))
    n = len(lat)
    bounds, acc = [], 0
    for c in order[:-1]:
        acc += len(by[c])
        bounds.append(acc / n)
    p = tail_pct / 100.0 if tail_pct else 1.0
    return (
        min(abs(0.5 - b) for b in bounds),
        min(abs(p - b) for b in bounds),
    )


def self_time_table(spans, window) -> str:
    """Self time per span name over the spans of the timed phase, beside
    the phase's wall time. Concurrent spans (serving clients) can sum to
    more than the wall; ``trace.layer_cover`` is their union."""
    t0, t1 = window
    timed = [s for s in spans if t0 <= s.start <= t1]
    st = h.self_times(timed)
    by: dict[str, float] = {}
    for s in timed:
        by[s.name] = by.get(s.name, 0.0) + st[s.sid]
    lines = [f"self time of timed spans (wall {t1 - t0:.2f} s)"]
    for name, sec in sorted(by.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:<40} {sec:>10.2f} s")
    lines.append(f"  {'(sum)':<40} {sum(by.values()):>10.2f} s")
    return "\n".join(lines)


def format_table(workload: str, metrics: dict) -> str:
    lines = [f"per-layer metrics, {workload} (traced run)"]
    for name, unit, _ in PER_LAYER:
        lines.append(f"  {name:<40} {metrics[name]:>16.4f} {unit}")
    return "\n".join(lines)
