"""Benchmark entry point: one workload, one process.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
stdout is the result object (``correct``, ``attempted``, ``failed``,
``metrics``); the line before it is the full run record (box config,
error rate, every round time, warm-up curve, and with ``--trace 1`` the
per-layer metrics). With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` they are the per-layer ones from a run with
Spark's event log and the benchmark's wrappers switched on.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "docker_based_real_time_etl_project_spark"
# the result line's end-to-end metrics. A run has too few live rounds
# for a latency tail; steady.py takes it over the rounds of many runs.
END_TO_END = ("latency_p50_s", "rows_per_s", "setup_s")
DEADLINE_S = 170  # a run that has not finished by now is stopped and fails


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through stop_session


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_sync", "tick_indicators"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to {os.path.basename(HERE)}/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)

    import engine
    import workloads
    from layers import Tracer

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cfg = engine.box_config(ROOT, work)
        ctx = workloads.Ctx(args.seed, args.seconds, work,
                            Tracer(work) if args.trace else None, 0.0)
        ctx.t_setup0 = time.perf_counter()
        spark = engine.start_session(cfg, work, event_log=bool(args.trace))
        ctx.report["get_spark_s"] = time.perf_counter() - ctx.t_setup0
        out = workloads.WORKLOADS[args.workload](spark, ctx)
        t_stop = time.perf_counter()
        engine.stop_session(spark)
        spark = None
        ctx.report["stop_s"] = time.perf_counter() - t_stop
    finally:
        if spark is not None:
            engine.stop_session(spark)
        signal.alarm(0)

    cfg["load_avg_end"] = os.getloadavg()
    cfg["steal_share"] = engine.steal_share(cfg.pop("cpu_ticks_start"), engine.cpu_ticks())
    lat = out.latencies
    e2e = {}
    if lat:
        e2e = {
            "setup_s": {"value": out.setup_s, "unit": "s"},
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "rows_per_s": {"value": statistics.median(out.rates), "unit": "rows/s"},
        }
        ctx.report.update(live_rounds=len(lat),
                          latencies_s=[round(x, 4) for x in lat],
                          rates=[round(x, 1) for x in out.rates])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "config": cfg, "end_to_end": e2e,
        "error_rate": out.failed / max(1, out.attempted),
        "correct": out.correct, "detail": out.detail, **ctx.report,
    }
    if args.trace:
        tr = ctx.tracer
        tr.values["session.get_spark_s"] = ctx.report["get_spark_s"]
        if lat:
            tr.values["trace.latency_p50_s"] = e2e["latency_p50_s"]["value"]
            tr.values["trace.rows_per_s"] = e2e["rows_per_s"]["value"]
        metrics, record["per_layer_record_only"] = tr.metrics()
        record["per_layer"] = metrics
    else:
        metrics = {k: e2e[k] for k in END_TO_END if k in e2e}
    record["run_wall_s"] = time.perf_counter() - t_start
    engine.emit(record)
    correct = out.correct and bool(lat) and out.failed == 0
    engine.emit({"correct": correct, "attempted": max(1, out.attempted),
                 "failed": out.failed, "metrics": metrics})
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
