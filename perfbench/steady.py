"""Steadiness check: run each workload on several seeds and report,
per end-to-end metric, the median and the interquartile spread as a
share of the median (``statistics.quantiles(values, n=4)``). It also
pools the live rounds of all runs for the latency tail, which one run
has too few rounds for.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/records/steady_a.json
    python3 perfbench/steady.py --seeds 1-6 --overhead --out perfbench/records/overhead.json

With ``--overhead`` every seed is run twice back to back, untraced and
traced (the order alternates from seed to seed), and the tracing
overhead is the median over seeds of traced / untraced - 1.

Run from the root of a checkout; it calls ``perfbench/run.py`` once
per run, one run at a time, and keeps every run record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(values)}


def pooled_tail(latencies: list[float]) -> dict | None:
    """The highest whole percentile of the pooled round times that has
    at least ten rounds beyond it; None when there are too few rounds."""
    if len(latencies) < 11:
        return None
    cuts = statistics.quantiles(latencies, n=100)
    pct = max((p for p in range(1, 100) if sum(x > cuts[p - 1] for x in latencies) >= 10),
              default=None)
    if pct is None:
        return None
    return {"percentile": pct, "value_s": cuts[pct - 1], "rounds": len(latencies)}


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=300,
    )
    record = json.loads(p.stdout.strip().splitlines()[-2])
    print(workload, seed, trace, p.returncode, record["correct"],
          {k: round(v["value"], 4) for k, v in record["end_to_end"].items()},
          flush=True)
    return record


def main(argv: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--overhead", action="store_true",
                    help="pair an untraced and a traced run on every seed")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    if "-" in args.seeds:
        a, b = map(int, args.seeds.split("-"))
        seeds = list(range(a, b + 1))
    else:
        seeds = [int(x) for x in args.seeds.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"seconds": args.seconds, "seeds": seeds, "overhead": args.overhead,
           "workloads": {}}
    for w in args.workloads:
        if args.overhead:
            pairs = []
            for i, seed in enumerate(seeds):
                order = (0, 1) if i % 2 == 0 else (1, 0)
                rec = {t: run_one(w, seed, args.seconds, t) for t in order}
                pairs.append((rec[0], rec[1]))
            ok = [(u, t) for u, t in pairs if u["correct"] and t["correct"]]
            overhead = {}
            for name in bounds:
                u = [p[0]["end_to_end"][name]["value"] for p in ok]
                t = [p[1]["end_to_end"][name]["value"] for p in ok]
                overhead[name] = {
                    "untraced": statistics.median(u), "traced": statistics.median(t),
                    "share": statistics.median(b / a - 1 for a, b in zip(u, t)),
                    "pairs": len(ok),
                }
            out["workloads"][w] = {
                "overhead": overhead,
                "runs": [r for p in pairs for r in p],
            }
            print(w, {k: round(v["share"], 4) for k, v in overhead.items()}, flush=True)
            continue
        runs = [run_one(w, seed, args.seconds, 0) for seed in seeds]
        ok = [r for r in runs if r["correct"]]
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["end_to_end"][name]["value"] for r in ok]
            metrics[name] = {**spread(vals), "bound": bound, "values": vals}
        out["workloads"][w] = {
            "metrics": metrics,
            "latency_tail": pooled_tail([x for r in ok for x in r["latencies_s"]]),
            "runs": runs,
        }
        print(w, {k: round(v["spread"], 4) for k, v in metrics.items()}, flush=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
