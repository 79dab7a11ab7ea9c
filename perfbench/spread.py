#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median, the
statistic BENCHMARK.json's bounds are judged against. Run from the checkout
root:

    python3 perfbench/spread.py --workloads extract_fresh extract_resume --seeds 1-10 \
        --out perfbench/BASELINE.json

Each run's last stdout line is kept in the output, with its wall_s and
docs_per_s (reported, not gated) and the host sentinels read next to its jobs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="write the summary JSON here")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"host_nproc": os.cpu_count(), "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in a.workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            detail = next((l.split(": ", 1)[1] for l in lines if l.startswith("full result: ")), None)
            host, wall = None, {}
            if detail:
                with open(detail) as fh:
                    d = json.load(fh)
                host = [j["sentinel"] for j in d["jobs"]]
                wall = {k: d[k] for k in ("wall_s", "docs_per_s") if k in d}
            runs.append({"seed": s, "run_s": round(time.time() - t0, 1), "result": res,
                         "reported": wall, "sentinels": host})
            m = res["metrics"]
            print(f"{w} seed {s}: correct {res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()) + f" ({time.time() - t0:.0f} s)",
                  flush=True)
        stats = {}
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in runs if name in r["result"]["metrics"]]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            stats[name] = {"median": statistics.median(vals), "spread": (q3 - q1) / statistics.median(vals),
                           "bound": bounds[name], "n": len(vals)}
            print(f"{w} {name}: median {stats[name]['median']:.4g} spread {stats[name]['spread']:.4f} "
                  f"(bound {bounds[name]}, a third is {bounds[name] / 3:.4f})")
        for name in ("wall_s", "docs_per_s"):  # reported, not gated
            vals = [r["reported"][name] for r in runs if name in r["reported"]]
            if len(vals) >= 4:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                stats[name] = {"median": statistics.median(vals), "spread": (q3 - q1) / statistics.median(vals),
                               "bound": None, "n": len(vals)}
                print(f"{w} {name}: median {stats[name]['median']:.4g} spread {stats[name]['spread']:.4f} (not gated)")
        summary["workloads"][w] = {"metrics": stats, "runs": runs,
                                   "all_correct": all(r["result"]["correct"] for r in runs)}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
