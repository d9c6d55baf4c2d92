"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) against the engine in this checkout
and prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced loop with ``--trace 1``.
The line before it holds the run's details (host, calibration, tail
percentile, sample counts).  Exits 1 when any output check fails and 2
when the engine is not in the checkout.

Every run works in a fresh directory under ``perfbench/_runs/`` (Spark
local dirs, JVM temp dir, warehouse, generated inputs) and removes it at
the end; the trace spans are written to ``perfbench/_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("dashboard", "decision_support")
# The engine would pick 8g on a 4-core, 15 GB host.  With that heap the
# JVM's resident high-water mark follows the collector's timing: peak_rss_mb
# spread 0.39 (IQR / median, 2.4-4.0 GB) across five dashboard seeds and
# 0.27 across five decision_support seeds, beyond its 0.25 bound; with 2g,
# 0.07 and 0.18.
DRIVER_HEAP = "2g"


def _isolate(work: str, cores: int) -> None:
    """Point every temporary location of Spark, the JVM and Python at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_HEAP)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(work)  # spark-warehouse/, derby.log and friends land here


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM running
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, "olap_sus_spark")):
        print("perfbench: the engine (olap_sus_spark/) is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, CHECKOUT)

    import stats
    import workloads
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    work = os.path.join(HERE, "_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate(work, cores)
    host = {"nproc": nproc, "spark_graft_cpus": cores, "calibration_start_ms": stats.calibrate()}

    spark = None
    try:
        t = time.perf_counter()
        from olap_sus_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        host["driver_heap"] = spark.conf.get("spark.driver.memory")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # A traced run traces its set-up too; setup_s is reported by
        # untraced runs only.
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, args.seed, work)
        run.layer["session.start"].append(session_s)
        wl = workloads.WORKLOADS[args.workload](run)
        setup_s = time.perf_counter() - T_START
        setup_layers = {k: list(v) for k, v in run.layer.items()
                        if not k.startswith(("queries", "catalog"))}
        tracer.enabled = False

        phase_s = {}
        t = time.perf_counter()
        wl["loop"](args.seconds)
        phase_s["loop"] = time.perf_counter() - t
        plain = stats.latency_summary(run.latency)
        plain_ops_per_s = len(run.latency) / sum(run.latency)
        traced = None
        if args.trace:
            run.latency = []
            run.by_name = defaultdict(list)
            run.layer.clear()
            run.layer.update(setup_layers)
            run.rows_returned = 0
            tracer.enabled = True
            t = time.perf_counter()
            wl["loop"](args.seconds)
            phase_s["traced_loop"] = time.perf_counter() - t
            if "traced_extra" in wl:
                t = time.perf_counter()
                wl["traced_extra"]()
                phase_s["traced_extra"] = time.perf_counter() - t
            tracer.enabled = False
            traced = stats.latency_summary(run.latency)
        # Read before the output checks: their DuckDB queries are the
        # benchmark's memory, not the engine's.
        rss = stats.peak_rss_mb(jvm_pid)
        t = time.perf_counter()
        try:
            wl["check"]()
        except Exception:  # noqa: BLE001 — a check that cannot run is a failed check
            traceback.print_exc()
            run.fail("output check raised")
        phase_s["check"] = time.perf_counter() - t
    except Exception:  # noqa: BLE001 — set-up failure: report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["calibration_end_ms"] = stats.calibrate()

    L = run.layer
    if args.trace:
        metrics = workloads.layer_metrics(run, cores)
        metrics["session.start_s"] = L["session.start"][0]
        metrics["etl.bootstrap_warehouse_s"] = (L["etl.bootstrap_warehouse"][0]
                                                if L.get("etl.bootstrap_warehouse") else 0.0)
        metrics["trace.overhead_ratio"] = stats.overhead_ratio(run.reference, run.by_name)
        units = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    else:
        metrics = {
            "setup_s": setup_s,
            "latency_p50_ms": plain["p50_ms"],
            "latency_tail_ms": plain["tail_ms"],
            "ops_per_s": plain_ops_per_s,
            "peak_rss_mb": rss,
        }
        units = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "setup_s": setup_s,
        "setup_parts_s": {k: sum(v) for k, v in setup_layers.items() if k.startswith(
            ("session", "gen", "etl"))},
        "phase_s": phase_s, "latency": plain,
        "traced_latency": traced, "error_rate": run.failed / max(run.attempted, 1),
        "problems": run.problems[:20],
        "op_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in run.by_name.items()},
        **run.info,
    }
    if args.trace:
        detail["self_s"] = tracer.self_times()
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), detail)
    print(json.dumps(detail, default=str))
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def _declared() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
