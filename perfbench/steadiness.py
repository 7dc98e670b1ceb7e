#!/usr/bin/env python3
"""Run one workload once per seed and report, per end-to-end metric, the
median, the quartiles and the spread (interquartile distance / median), with
the bound BENCHMARK.json sets beside it.

    python3 perfbench/steadiness.py --workload stream_ingest --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    """"1-10" or "1,5,1,5"."""
    if "," in spec:
        return [int(x) for x in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--details", help="append each run's detail line to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, shares = {}, set()  # shares: failed / attempted per run
    for s in seeds(a.seeds):
        res = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                "--seconds", str(a.seconds or bench["run_seconds"]),
                                "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = res.stdout.strip().splitlines()
        detail = [l for l in lines if l.startswith("[perfbench] detail ")]
        if res.returncode != 0 or not lines:
            sys.exit(f"seed {s}: exit {res.returncode}")
        out = json.loads(lines[-1])
        shares.add(out["failed"] / out["attempted"])
        d = json.loads(detail[-1][len("[perfbench] detail "):])
        if a.details:
            with open(a.details, "a") as f:
                f.write(json.dumps(d) + "\n")
        steal = d["cpu_steal_share"]
        if a.trace:  # the end-to-end figures with tracing on, for the overhead
            for k, v in d["end_to_end"].items():
                values.setdefault(f"traced:{k}", []).append(v["value"])
        print(f"seed {s}: correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']} steal={steal:.3f} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"failed share per run: {sorted(shares)}")
    print(f"{'metric':<34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:<34} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {spread:>8.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
