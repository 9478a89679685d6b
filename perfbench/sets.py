#!/usr/bin/env python3
"""Take sets of benchmark runs, interleaved, and summarise them.

    python3 perfbench/sets.py --sets 2 --runs 10 --seconds 10 \
        --out perfbench/baseline_4core.json

Set k uses seeds 100*k + 1 ... 100*k + runs. The runs are interleaved so
that a change in machine speed falls on every set and workload alike: for
each run index, every set runs every workload, the workload order rotating
with the index. Every run is a separate ``run.py --trace 0`` process. For
each set and workload the summary holds the median, first and third
quartile (``statistics.quantiles(n=4)``) and the quartile spread over
median of each end-to-end metric, and the same for the calibration probe
each run records; ``agreement`` gives, per workload and metric, how much
worse the later set's median is than the first set's (negative: better),
and ``calibration_outliers`` lists the runs whose calibration is more than
25% away from the median of all runs.
Raw results are appended to ``.perfbench_work/out/sets.jsonl`` as they
come.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CALIBRATION_TOLERANCE = 0.25


def summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def summarise(done: list, better: dict, seconds: int) -> dict:
    """Per set and workload statistics of the successful runs ``done``."""
    out: dict = {
        "commit": done[0]["commit"] if done else None,
        "cores": done[0]["cores"] if done else None,
        "seconds": seconds,
        "statistic": "each run reports setup_s as the median of its cold starts, "
                     "first_run_s as a single sample and wall_s, cpu_s, peak_rss_mb as "
                     "medians of its warm runs; per set and workload: median, quartiles "
                     "and (q3 - q1) / median over the set's runs",
        "sets": {}, "agreement": {}}
    results: dict = {}
    for r in done:
        results.setdefault(r["set"], {}).setdefault(r["workload"], []).append(r)
    for k, per_wl in sorted(results.items()):
        out["sets"][f"set{k}"] = {}
        for wl, recs in per_wl.items():
            names = recs[0]["metrics"]
            out["sets"][f"set{k}"][wl] = {
                "seeds": [r["seed"] for r in recs],
                "elapsed_s": sum(r["elapsed_s"] for r in recs),
                "calibration_s": summary([r["calibration_s"] for r in recs]),
                "metrics": {m: summary([r["metrics"][m] for r in recs]) for m in names}}
    # a run whose calibration is far from the others' ran at another
    # machine speed; flag it rather than drop it
    calib = statistics.median(r["calibration_s"] for r in done) if done else 0.0
    out["calibration_outliers"] = [
        {k: r[k] for k in ("set", "workload", "seed", "calibration_s")}
        for r in done if abs(r["calibration_s"] / calib - 1) > CALIBRATION_TOLERANCE]
    first = out["sets"].get("set1", {})
    for tag, per_wl in out["sets"].items():
        if tag == "set1":
            continue
        for wl, s in per_wl.items():
            for m, v in s["metrics"].items():
                base = first[wl]["metrics"][m]["median"]
                worse = (v["median"] - base) / base
                out["agreement"].setdefault(tag, {}).setdefault(wl, {})[m] = (
                    worse if better[m] == "lower" else -worse)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = ([w for w in args.workloads.split(",") if w]
                 or [w["name"] for w in bench["workloads"]])
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    raw = os.path.join(ROOT, ".perfbench_work", "out", "sets.jsonl")
    os.makedirs(os.path.dirname(raw), exist_ok=True)
    done: list = []
    for i in range(args.runs):
        order = workloads[i % len(workloads):] + workloads[:i % len(workloads)]
        for wl in order:
            for k in range(1, args.sets + 1):
                seed = 100 * k + i + 1
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                     "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if p.returncode == 0 else None
                env = json.loads(lines[-2])["env"] if p.returncode == 0 else {}
                rec = {"set": k, "workload": wl, "seed": seed, "rc": p.returncode,
                       "elapsed_s": time.time() - t0,
                       "calibration_s": env.get("calibration_s"),
                       "commit": env.get("commit"), "cores": env.get("cores"),
                       "loadavg": env.get("loadavg_at_start"),
                       "metrics": {m: v["value"] for m, v in res["metrics"].items()}
                       if res else None}
                with open(raw, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"set{k} {wl} seed {seed} rc {p.returncode} "
                      f"{rec['elapsed_s']:.0f} s", flush=True)
                if res:
                    done.append(rec)
    out = summarise(done, better, args.seconds)
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
