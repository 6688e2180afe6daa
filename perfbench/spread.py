#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

From the root of a checkout:

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/baseline/host.json

For every workload in BENCHMARK.json it runs `perfbench/run.py` once per
seed with tracing off, then once more (the first seed) with tracing on. Per end-to-end metric
it reports the median, the quartiles (Python's statistics.quantiles, n=4)
and the quartile distance as a share of the median; the traced run's
per-layer metrics are kept as they were measured.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"host": {"nproc": os.cpu_count(), "machine": platform.machine()},
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        results, infos, walls = [], [], []
        for s in seeds(a.seeds):
            r, info, wall = run(w, s, spec["run_seconds"], 0)
            results.append(r)
            infos.append(info)
            walls.append(wall)
            print(f"{w} seed {s}: {wall:.0f} s, correct={r['correct']}, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                file=sys.stderr)
        entry = {"seeds": seeds(a.seeds), "wall_s": summary(walls),
                 "attempted": sum(r["attempted"] for r in results),
                 "failed": sum(r["failed"] for r in results),
                 "correct": all(r["correct"] for r in results),
                 "sizes": infos[0]["sizes"], "jvm_max_heap_mb": infos[0]["max_heap_mb"],
                 "end_to_end": {}}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in results]
            entry["end_to_end"][name] = dict(summary(vals), bound=bounds[name],
                                             unit=results[0]["metrics"][name]["unit"])
        r, _, wall = run(w, seeds(a.seeds)[0], spec["run_seconds"], 1)
        entry["traced"] = {"seed": seeds(a.seeds)[0], "wall_s": wall,
                           "correct": r["correct"], "per_layer": r["metrics"]}
        report["workloads"][w] = entry
        for name, m in entry["end_to_end"].items():
            print(f"{w} {name}: median {m['median']:.4g} {m['unit']}, "
                  f"spread {m['spread']:.3f} (bound {m['bound']})", file=sys.stderr)
    text = json.dumps(report, indent=1, sort_keys=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
