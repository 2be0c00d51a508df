"""Steadiness report: run the benchmark over several seeds and summarise.

    python3 perfbench/report.py --seeds 1-10 [--workloads a,b] [--traced 2]

Run from the root of a checkout. Reads ``BENCHMARK.json`` for the command,
workloads, run length and bounds; runs every (workload, seed) pair one
after another with ``--trace 0``; and prints, per workload and end-to-end
metric, the sample count, median, quartiles (``statistics.quantiles(n=4)``)
and the spread (q3 - q1) / median next to the metric's bound. With
``--traced K`` it also makes K traced runs per workload and reports the
tracing overhead: the traced run's end-to-end numbers against the
untraced medians (gated or not). Wall time per run is reported too, because the whole
set of runs has a time budget, and so is the host's CPU steal during each
measured loop, because timings grow with it. The summary is written as JSON to
``--out`` (default ``.perfbench/report.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def _run(cmd: list[str]) -> tuple[dict | None, list[dict], float, int]:
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    result = lines[-1] if p.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(p.stderr[-3000:])
    return result, lines[:-1], wall, p.returncode


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        v = vals[0] if vals else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(".perfbench", "report.json"))
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seeds = _seeds(args.seeds)
    base = list(bench["command"]) + ["--seconds", str(bench["run_seconds"])]

    summary: dict = {}
    for w in workloads:
        runs, walls, steals, measured, bad = [], [], [], [], 0
        for s in seeds:
            res, _info, wall, rc = _run(
                base + ["--workload", w, "--seed", str(s), "--trace", "0"])
            walls.append(wall)
            if res is None:
                bad += 1
                print(f"{w} seed {s}: exit {rc}", flush=True)
                continue
            runs.append(res)
            steal = next((i["info"].get("host_steal_pct") for i in _info
                          if "info" in i), float("nan"))
            steals.append(steal)
            measured.append(next((i["measured"] for i in _info
                                  if "measured" in i), {}))
            print(f"{w} seed {s}: {wall:.1f}s steal={steal:.0f}% "
                  f"correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for name, spec in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs
                    if name in r["metrics"]]
            q1, med, q3 = _quartiles(vals)
            rows[name] = {
                "unit": spec["unit"], "n": len(vals), "median": med,
                "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else float("nan"),
                "bound": spec["bound"],
            }
        summary[w] = {
            "metrics": rows, "runs": len(runs), "exit_failures": bad,
            "all_correct": all(r["correct"] for r in runs),
            "failed_ops": sum(r["failed"] for r in runs),
            "attempted_ops": sum(r["attempted"] for r in runs),
            "wall_s": {"median": statistics.median(walls), "max": max(walls)},
            "host_steal_pct": steals,
        }
        if args.traced:
            over = {}
            for s in seeds[:args.traced]:
                res, info, _wall, _rc = _run(
                    base + ["--workload", w, "--seed", str(s), "--trace", "1"])
                traced = next((i["trace"]["traced_end_to_end"] for i in info
                               if "trace" in i), None)
                if res is None or traced is None:
                    continue
                for k, v in traced.items():
                    over.setdefault(k, []).append(v)
            overhead = {}
            for k, v in over.items():
                base_vals = [m[k]["value"] for m in measured if k in m]
                if not base_vals:
                    continue
                t, u = statistics.median(v), statistics.median(base_vals)
                overhead[k] = {"traced_median": t, "untraced_median": u,
                               "delta": t - u, "share": (t - u) / u}
            summary[w]["tracing_overhead"] = overhead
        summary[w]["ungated"] = {
            k: dict(zip(("q1", "median", "q3"), _quartiles(
                [m[k]["value"] for m in measured if k in m])))
            for k in ("op_p50_s", "items_per_s")
        }

    for w, s in summary.items():
        print(f"\n{w}: {s['runs']} runs, all correct={s['all_correct']}, "
              f"failed {s['failed_ops']}/{s['attempted_ops']}, wall median "
              f"{s['wall_s']['median']:.1f}s max {s['wall_s']['max']:.1f}s")
        print(f"  {'metric':<14}{'unit':<7}{'n':>3}{'median':>12}{'q1':>12}"
              f"{'q3':>12}{'spread':>9}{'bound':>7}")
        for k, r in s["metrics"].items():
            print(f"  {k:<14}{r['unit']:<7}{r['n']:>3}{r['median']:>12.4g}"
                  f"{r['q1']:>12.4g}{r['q3']:>12.4g}{r['spread']:>9.3f}"
                  f"{r['bound']:>7}")
        for k, r in s["ungated"].items():
            print(f"  (not gated) {k}: median {r['median']:.4g}, q1 "
                  f"{r['q1']:.4g}, q3 {r['q3']:.4g}")
        for k, r in s.get("tracing_overhead", {}).items():
            print(f"  tracing overhead {k}: {r['delta']:+.4g} "
                  f"({100 * r['share']:+.1f}%)")
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
