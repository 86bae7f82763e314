#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes one JSON record of it.

    python3 perfbench/baseline.py --seeds 10 --out perfbench/baseline.json

For every workload: `--seeds` untraced runs (seeds 1..N) and one traced run
(seed 1). Per end-to-end metric the record holds the values, their median
and quartiles, and the quartile spread as a share of the median next to
the metric's bound in BENCHMARK.json. It also records nproc, the input
sizes and the query lists, and each workload's reason for being there.
"""
import argparse
import json
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = time.time() - t0
    rec = json.loads((run.BUILD / "records" / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    r["steal"] = rec.get("host_steal_share")
    print(f"{workload} seed={seed} trace={trace} {r['wall_s']:.0f}s steal={r['steal']} "
          f"failed={r['failed']}/{r['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())
                     if not trace), file=sys.stderr, flush=True)
    return r


def summary(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else None
    return {"values": values, "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "spread_over_bound": None if spread is None else spread / bound}


def sizes(workload):
    s = run.SIZES["full"]
    if workload != "etl_derby":
        return {"sf": s["sf"], "queries": run.QUERIES[workload]}
    alb = run.BUILD / "alb"
    c = alb / f"base-{s['sf']}-x{s['mult']}-f{s['files']}-seed1"
    lines = sum(1 for _ in open(alb / f"base-{s['sf']}.txt", "rb")) * s["mult"]
    return {"sf": s["sf"], "lines": lines, "files": s["files"], "copies_per_order": s["mult"],
            "gz_bytes_seed1": sum(p.stat().st_size for p in c.glob("*.gz"))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=run.WORKLOADS)
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--commit", default="")
    a = ap.parse_args()
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    whys = {w["name"]: w["why"] for w in spec["workloads"]}
    rec = {"commit": a.commit, "nproc": run.cpus(), "machine": platform.machine(),
           "run_seconds": spec["run_seconds"], "seeds": a.seeds, "workloads": {}}
    for w in a.workloads:
        runs = [one(w, seed, spec["run_seconds"], 0) for seed in range(1, a.seeds + 1)]
        e2e = {m: summary([r["metrics"][m]["value"] for r in runs], bounds[m]) for m in bounds}
        out = {"why": whys[w], "sizes": sizes(w),
               "failed": sum(r["failed"] for r in runs),
               "attempted": sum(r["attempted"] for r in runs),
               "run_wall_s": [round(r["wall_s"], 1) for r in runs],
               "host_steal_share": [r["steal"] for r in runs],
               "end_to_end": e2e}
        if not a.no_trace:
            t = one(w, 1, spec["run_seconds"], 1)
            out["traced_seed1"] = {k: v["value"] for k, v in sorted(t["metrics"].items())}
        rec["workloads"][w] = out
        for m, s in e2e.items():
            print(f"{w:12s} {m:12s} median={s['median']:.4g} spread={s['spread']:.4f} "
                  f"bound={s['bound']}", file=sys.stderr)
    text = json.dumps(rec, indent=1) + "\n"
    if a.out:
        a.out.write_text(text)
    else:
        print(text)


if __name__ == "__main__":
    main()
