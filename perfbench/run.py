"""Benchmark entry point.

    python3 perfbench/run.py --workload code-search --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a human-readable summary, then as
the last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Exits 1 when any answer is
wrong, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness as h  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "build_files_per_s": "files/s",
    "index_bytes_per_input_byte": "ratio",
    "cpu_s": "s",
}


@dataclass
class Ctx:
    spark: object
    tracer: h.Tracer
    seed: int
    tmp: str
    nproc: int


def start_spark(tmp: str, nproc: int, app: str, event_dir: str | None):
    """One local session pinned for steadiness: ``local[nproc]``, fixed
    shuffle partitions, a driver heap that fits a 15 GB box, no UI or
    console progress, ERROR logging, and every scratch directory inside
    ``tmp``."""
    py = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + py if py else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    local = os.path.join(tmp, "spark-local")
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(local)
    os.makedirs(jtmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = jtmp
    # no hsperfdata files outside the checkout (launcher and driver JVM)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.scheduler.mode", "FAIR")
    )
    if event_dir is not None:
        os.makedirs(event_dir)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (which ends the Python workers), then the
    gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    t_proc = time.time() - h.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        from perfbench import layers
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: engine sources missing under {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp = str(ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(args, t_proc, tmp, layers, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))  # only when no other run uses it
        except OSError:
            pass


def run(args, t_proc: float, tmp: str, layers, workload) -> int:
    trace = bool(args.trace)
    event_dir = os.path.join(tmp, "events") if trace else None
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(tmp, nproc, f"perfbench-{args.workload}", event_dir)
        tracer = h.Tracer(spark.sparkContext if trace else None)
        wl = workload(Ctx(spark, tracer, args.seed, tmp, nproc))
        wl.setup()
        gc.collect()
        t_timed = time.time()
        cpu0, steal0 = h.process_tree_cpu_s(), h.host_steal_s()
        wl.run(args.seconds)
        cpu_s = h.process_tree_cpu_s() - cpu0
        steal_s = h.host_steal_s() - steal0
        t_end = time.time()
        wl.verify()
        reps = wl.setup_reps
        e2e = wl.e2e()
        e2e["setup_s"] = (t_timed - t_proc) - sum(reps) + h.median(reps)
        e2e["cpu_s"] = cpu_s
        direct = layers.driver_calls(wl) if trace else {}
        wl.close()
    except Exception:  # noqa: BLE001 — report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)

    diag = layers.diagnostics(wl)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(out_dir / f"{stem}-samples.json", "w") as fh:
        json.dump(
            {
                "e2e": e2e,
                "op_latency_s": wl.lat,
                "op_class": wl.lat_class,
                "setup_reps_s": reps,
                "timed_wall_s": t_end - t_timed,
                "host_steal_s": steal_s,
                "diagnostics": diag,
                "errors": wl.errors,
            },
            fh,
        )
    print(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  timed {t_end - t_timed:.1f} s, host steal {steal_s:.2f} CPU-s")
    print("  diagnostics: " + ", ".join(f"{k}={v:.3f}" for k, v in diag.items()))
    for err in wl.errors:
        print(f"  WRONG: {err}", file=sys.stderr)
    if trace:
        per = layers.layer_metrics(
            wl, h.read_event_log(event_dir), (t_timed, t_end), e2e, direct
        )
        print(layers.format_table(args.workload, per))
        print(layers.self_time_table(tracer.spans, (t_timed, t_end)))
        tracer.dump(str(out_dir / f"{stem}-spans.jsonl"))
        metrics = {k: {"value": per[k], "unit": u} for k, u, _ in layers.PER_LAYER}
    else:
        for k, u in E2E_UNITS.items():
            print(f"  {k:<28} {e2e[k]:>14.4f} {u}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
