"""Run a workload over several seeds and summarise each metric.

    python3 kmbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1] [--out file.json]

For every metric it reports the values, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a
share of the median, next to the metric's bound in BENCHMARK.json.
Run from the root of a checkout; each seed is one ``run.py`` process.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(a.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit("seed %d: run.py exited with %d" % (seed, p.returncode))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        print(json.dumps(res), flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4) if len(values) > 1 else [med] * 3
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q[0], "q3": q[2],
                         "spread": (q[2] - q[0]) / med if med else 0.0,
                         "bound": bounds.get(name), "values": values}
    out = {"workload": a.workload, "trace": a.trace, "seeds": seeds(a.seeds),
           "all_correct": all(r["correct"] for r in runs),
           "failed": sum(r["failed"] for r in runs),
           "attempted": sum(r["attempted"] for r in runs), "metrics": summary}
    for name, s in summary.items():
        print("%-32s median %-14.6g spread %.4f  bound %s"
              % (name, s["median"], s["spread"], s["bound"]), file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
