#!/usr/bin/env python3
"""Steadiness check: run each workload N times, one seed per run, and
report every metric's median, quartiles and spread.

Usage (from the repository root):
    python3 perfbench/steady.py [--runs 10] [--seconds S] [--trace 0|1]
                                [--first-seed 1] [--compare FILE] [workload ...]

The spread is (Q3 - Q1) / median with Python's
`statistics.quantiles(values, n=4)`, the figure `BENCHMARK.json`'s bounds
are set against. Runs go one at a time. A summary table goes to stdout;
every run's result and the summary go to
`.bench_out/steady-<first seed>-<runs>.json`. With `--compare` naming an
earlier such file, the table also gives each median's change against the
earlier set's, as a share of the earlier median, signed so that a positive
change is worse, and marks a change or spread past the metric's bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("nan")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", type=Path)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    higher = {m["name"] for m in bench["end_to_end"] if m["better"] == "higher"}
    before = json.loads(a.compare.read_text())["summary"] if a.compare else {}

    runs, summary = {}, {}
    for w in a.workloads:
        runs[w] = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall_s = time.monotonic() - t0
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line.startswith("{"):
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                runs[w].append({"seed": seed, "exit": p.returncode})
                continue
            r = json.loads(line)
            r["seed"], r["wall_s"] = seed, wall_s
            runs[w].append(r)
            print(f"{w} seed {seed}: {wall_s:.1f} s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  file=sys.stderr, flush=True)
        ok = [r for r in runs[w] if "metrics" in r]
        summary[w] = {"runs": len(runs[w]), "ok": len(ok),
                      "mean_wall_s": statistics.mean(r["wall_s"] for r in ok) if ok else None,
                      "all_correct": all(r["correct"] for r in ok),
                      "failed_shares": sorted({r["failed"] / r["attempted"] for r in ok}),
                      "metrics": {}}
        if len(ok) < 2:
            continue
        for m in ok[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in ok]
            q1, med, q3, s = spread(vals)
            summary[w]["metrics"][m] = {"unit": ok[0]["metrics"][m]["unit"],
                                        "median": med, "q1": q1, "q3": q3,
                                        "spread": s, "bound": bounds.get(m)}

    print("| workload | metric | unit | median | Q1 | Q3 | spread | change | bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, s in summary.items():
        for m, v in s["metrics"].items():
            b = v["bound"]
            change = ""
            prev = before.get(w, {}).get("metrics", {}).get(m)
            if prev:
                d = (v["median"] - prev["median"]) / prev["median"]
                d = -d if m in higher else d
                change = f"{d:+.3f}" + (" PAST" if b is not None and d > b else "")
            past = " PAST" if b is not None and v["spread"] > b and m != "setup_s" else ""
            print(f"| {w} | {m} | {v['unit']} | {v['median']:.4g} | {v['q1']:.4g} "
                  f"| {v['q3']:.4g} | {v['spread']:.3f}{past} | {change} "
                  f"| {'' if b is None else f'{b:.2f}'} |")
        wall = "" if s["mean_wall_s"] is None else f"{s['mean_wall_s']:.1f} s a run"
        print(f"| {w} | (runs ok / correct / failed shares) | | {s['ok']}/{s['runs']} "
              f"| {s['all_correct']} | {s['failed_shares']} | {wall} | | |")
    out = ROOT / ".bench_out" / f"steady-{a.first_seed}-{a.runs}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"summary": summary, "runs": runs}, indent=1))


if __name__ == "__main__":
    main()
