"""Record a baseline: run every workload on N seeds untraced, plus one
traced run each, report each end-to-end metric's median and quartile
spread, and write them into ``perfbench/baseline.json`` as one set of
runs, keyed by its seed range.  Sets already in the file are kept, and
the medians of every pair of sets are compared.  Run from the checkout
root::

    python3 perfbench/baseline.py --seeds 1-10 [--workloads cdc_tick] [--no-wait]

Before each run the script waits until ``load1`` is below 2 (ROADMAP's
rule: a run started above it is void), since a run on ``local[4]``
leaves ``load1`` near 3-4 for the next one; ``--no-wait`` runs back to
back instead, as a harness that runs many seeds in one session does.

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a
share of their median — the figure each end-to-end bound is set against.
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
LOAD1_MAX = 2.0
WAIT_MAX_S = 300.0


def wait_for_quiet_host() -> float:
    """Wait until ``load1`` is below LOAD1_MAX, at most WAIT_MAX_S;
    returns the seconds waited."""
    t0 = time.time()
    while os.getloadavg()[0] >= LOAD1_MAX and time.time() - t0 < WAIT_MAX_S:
        time.sleep(2.0)
    return time.time() - t0


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run: its result line and its stderr record."""
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        ],
        capture_output=True, text=True, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record = next(
        json.loads(line.split("record ", 1)[1])
        for line in proc.stderr.splitlines()
        if line.startswith("perfbench record ")
    )
    return result, record


def summarize(values: list[float]) -> dict:
    median = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / median if median else 0.0,
        "values": values,
    }


def agreement(sets: dict, spec: dict) -> dict:
    """For every pair of sets and every end-to-end metric both hold, how
    much worse the later set's median is than the earlier one's (a share
    of the earlier median; negative is better), and whether that is
    within the metric's bound."""
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    labels = list(sets)
    for i, a in enumerate(labels):
        for b in labels[i + 1:]:
            pair = {}
            for wl, metrics in sets[a]["end_to_end"].items():
                for name, sa in metrics.items():
                    sb = sets[b]["end_to_end"].get(wl, {}).get(name)
                    if sb is None:
                        continue
                    change = sb["median"] / sa["median"] - 1.0
                    worse = change if better[name] == "lower" else -change
                    pair[f"{wl}/{name}"] = {
                        "worse_by": worse, "within_bound": worse <= bounds[name]
                    }
            out[f"{a} vs {b}"] = pair
    return out


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--workloads", default="", help="comma list (default: all)")
    p.add_argument("--no-wait", action="store_true", help="run back to back")
    p.add_argument("--no-trace", action="store_true", help="skip the traced runs")
    args = p.parse_args()
    path = os.path.join(HERE, "baseline.json")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seeds = parse_seeds(args.seeds)
    wait = not args.no_wait
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    try:
        with open(path) as fh:
            out = json.load(fh)
    except FileNotFoundError:
        out = {}
    out.update(seconds=spec["run_seconds"], nproc=os.cpu_count())
    label = f"seeds {seeds[0]}-{seeds[-1]}" + ("" if wait else " back-to-back")
    run_set = out.setdefault("sets", {}).setdefault(label, {})
    run_set.update(seeds=seeds, wait_for_load1_below=LOAD1_MAX if wait else None)
    ok = True
    for wl in workloads:
        values: dict[str, list[float]] = {}
        host = {"load1": [], "calib_s": [], "void": [], "waited_s": []}
        walls = []
        for seed in seeds:
            waited = wait_for_quiet_host() if wait else 0.0
            t0 = time.time()
            result, record = run_once(wl, seed, spec["run_seconds"], 0)
            walls.append(time.time() - t0)
            record["waited_s"] = waited
            ok &= result["correct"] and result["failed"] == 0
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            for key in host:
                host[key].append(record[key])
            print(wl, seed, round(walls[-1], 1), json.dumps(result), flush=True)
        summary = {k: summarize(v) for k, v in values.items()}
        run_set.setdefault("end_to_end", {})[wl] = summary
        run_set.setdefault("host", {})[wl] = host
        run_set.setdefault("wall_s", {})[wl] = walls
        # trace.overhead_frac divides a traced run's op_s.p50 by this.
        out.setdefault("overhead_ref", {})[wl] = summary["op_s.p50"]["median"]
        for name, s in summary.items():
            flag = "" if s["spread"] <= bounds[name] else "  OVER BOUND"
            print(f"{wl} {name}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {bounds[name]}){flag}", flush=True)
    out["agreement"] = agreement(out["sets"], spec)
    write(out, path)
    if not args.no_trace:
        for wl in workloads:
            if wait:
                wait_for_quiet_host()
            result, record = run_once(wl, seeds[0], spec["run_seconds"], 1)
            ok &= result["correct"]
            out.setdefault("per_layer", {})[wl] = {
                "seed": seeds[0],
                "void": record["void"],
                "metrics": {k: m["value"] for k, m in result["metrics"].items()},
            }
            print(wl, "traced", json.dumps(result), flush=True)
        write(out, path)
    return 0 if ok else 1


def write(out: dict, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    raise SystemExit(main())
