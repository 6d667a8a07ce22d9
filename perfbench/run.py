"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload extract --seed 7 --seconds 20 \\
        --trace 0

``--trace 0`` prints the end-to-end metrics: the median CPU time per doc
of the driver JVM, the Python workers and the Python driver, the peak
RSS of the JVM and workers during the passes, and the median CPU time
of the set-ups (session start plus warm-up).
``--trace 1`` runs untraced passes, then traced ones in a session with
Spark's event log, then the workload's layer probes, and prints the
per-layer metrics (see ``perfbench/LAYERS.md``). Exits 1
when an output check fails, 2 when the repository is not there to
benchmark.

Everything the run writes stays under ``<repo>/.perfbench``: inputs are
cached in ``cache/``, traces land in ``traces/``, the rest is removed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
TRACE_PASSES = 2
REQUIRED = ("pdf_table_spark/spark/pipeline.py",
            "fixtures/sf0.1/golden_flat.parquet")


@dataclass
class Ctx:
    root: str
    work: str
    cache: str
    seed: int
    tracer: object


def _environment(tmp: str) -> None:
    """Workers import the package from the checkout; every scratch file
    of Spark, the JVM and Python lands in ``tmp``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None


def start_spark(tmp: str, event_dir: str | None = None):
    """A fresh SparkContext carrying the run's static settings, then
    the package's own session settings on top (``build_session``)."""
    from pyspark import SparkConf, SparkContext

    from pdf_table_spark.spark.session import build_session
    conf = SparkConf().setMaster(f"local[{CPUS}]").setAppName("perfbench")
    # A fixed, pre-touched heap: G1 grows a heap by the share of wall
    # time spent in GC, so the JVM's RSS followed CPU steal and ranged
    # over 20% between runs. Heap demand shows as GC CPU instead.
    conf.setAll([
        ("spark.driver.memory", "2g"),
        ("spark.driver.extraJavaOptions",
         f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
         "-XX:+AlwaysPreTouch"),
        ("spark.local.dir", tmp),
        ("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse")),
        ("spark.ui.enabled", "false"),
        ("spark.ui.showConsoleProgress", "false"),
    ])
    if event_dir:
        conf.setAll([
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", f"file://{event_dir}"),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ])
    SparkContext(conf=conf).setLogLevel("ERROR")
    return build_session("perfbench", master=f"local[{CPUS}]")


def stop_jvm() -> None:
    """Shut the gateway JVM down (it exits when its stdin closes) and
    wait until it and the Python workers it started have ended."""
    from pyspark import SparkContext

    from perfbench.probes import wait_for_children
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    wait_for_children()


def set_up(wl, tmp: str, cycles: int, event_dir=None):
    """``cycles`` times: stop the last session, start a new one and run
    the warm-up. Returns the live session and, per cycle, its wall and
    CPU seconds (``run_cpu_s``)."""
    from perfbench.probes import run_cpu_s
    spark, walls, cpus = None, [], []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        t0, cpu0 = time.perf_counter(), run_cpu_s()
        spark = start_spark(tmp, event_dir)
        wl.warm_up(spark)
        walls.append(time.perf_counter() - t0)
        cpus.append(run_cpu_s() - cpu0)
    return spark, {"wall_s": walls, "cpu_s": cpus}


def timed_passes(wl, spark, seconds: float, min_passes: int):
    """Closed loop: passes back to back until ``seconds`` have gone by
    and at least ``min_passes`` have run; each pass's output is checked
    before the next one starts."""
    from pyspark import SparkContext

    from perfbench.probes import RssSampler, run_cpu_s, steal_s
    passes = []
    with RssSampler(SparkContext._gateway.proc.pid) as rss:
        t_end = time.perf_counter() + seconds
        last = False
        while not last:
            start, cpu0, steal0 = time.time(), run_cpu_s(), steal_s()
            p = wl.run_pass(spark, len(passes))
            p["start"], p["end"] = start, time.time()
            p["cpu_s"] = run_cpu_s() - cpu0
            p["steal_s"] = steal_s() - steal0
            passes.append(p)
            last = (time.perf_counter() >= t_end
                    and len(passes) >= min_passes)
            p["errors"] = wl.check_pass(spark, p, last)
    return passes, rss.peak_bytes


def measure(wl, ctx: Ctx, seconds: float, trace: bool) -> dict:
    from pdf_table_spark.canary import cpu_probe

    from perfbench import eventlog
    med = statistics.median
    tmp = os.path.join(ctx.work, "tmp")
    canary = [cpu_probe()]
    if not trace:
        spark, setup = set_up(wl, tmp, wl.setup_cycles)
        passes, rss = timed_passes(wl, spark, seconds, wl.min_passes)
        spark.stop()
        values = wl.end_to_end(passes)
        values["setup_s"] = med(setup["cpu_s"])
        values["peak_rss_mb"] = rss / 2 ** 20
    else:
        # fewer passes and no second warm-up (the JVM is warm by then):
        # with the probes, a traced run must end within its time limit
        # on a host that steals half of its CPU
        n = min(wl.min_passes, TRACE_PASSES)
        spark, setup = set_up(wl, tmp, 1)
        base, _ = timed_passes(wl, spark, seconds / 2, n)
        spark.stop()
        values = wl.end_to_end(base)
        event_dir = os.path.join(ctx.work, "events")
        os.makedirs(event_dir)
        spark = start_spark(tmp, event_dir)
        passes, _ = timed_passes(wl, spark, seconds / 2, n)
        values.update(wl.traced(spark, passes))
        spark.stop()
        (log_path,) = glob.glob(os.path.join(event_dir, "*"))
        log = eventlog.read(log_path)
        values.update(eventlog.median_metrics(
            [eventlog.window_metrics(log, p["start"], p["end"])
             for p in passes]))
        values["build.s"] = med(eventlog.driver_only_s(log, *p["build"])
                                for p in passes)
        values["trace.overhead_s"] = (med(p["wall_s"] for p in passes)
                                      - med(p["wall_s"] for p in base))
        passes += base
    canary.append(cpu_probe())
    values["host.cpu_probe"] = med(canary)
    return {"values": values, "passes": passes, "setup": setup,
            "canary": canary}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(
        os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a pdf_table_spark checkout, missing "
              f"{missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import result_metrics
    from perfbench.probes import Tracer
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    state = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(state, "traces"), exist_ok=True)
    _environment(os.path.join(work, "tmp"))
    ctx = Ctx(ROOT, work, os.path.join(state, "cache"), args.seed,
              Tracer(run_id))
    try:
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        m = measure(wl, ctx, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        ctx.tracer.write(os.path.join(state, "traces", f"{run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)

    errors = [e for p in m["passes"] for e in p["errors"]]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pass_walls_s": [p["wall_s"] for p in m["passes"]],
        "pass_cpu_s": [p["cpu_s"] for p in m["passes"]],
        "pass_steal_s": [p["steal_s"] for p in m["passes"]],
        "setup_cycles_wall_s": m["setup"]["wall_s"],
        "setup_cycles_cpu_s": m["setup"]["cpu_s"], "canary": m["canary"],
        "errors": errors}))
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(p["docs"] for p in m["passes"]),
        "failed": sum(p["docs"] for p in m["passes"] if p["errors"]),
        "metrics": result_metrics(m["values"], bool(args.trace)),
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
