#!/usr/bin/env python3
"""Steadiness of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--sets 1|2]
                                [--seconds S] [--trace-overhead]

Runs each workload once per seed (and per set), then prints, per metric:
the median, the quartiles (statistics.quantiles, n=4), the inter-quartile
spread and the max/min spread as shares of the median, and the metric's
bound from BENCHMARK.json. An inter-quartile spread is flagged when it
exceeds a third of the bound. With --sets 2 the same seeds run twice, and
a metric is flagged when its second median differs from the first, in
either direction, by more than the bound; the share of failed operations
must be the same in both sets. With --trace-overhead every run is repeated
traced, and the traced run's end-to-end numbers are set against the
untraced ones.

Raw results go to perfbench/results/steady-<time>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if trace:
        rec = json.loads((BENCH / "results" / f"{workload}-seed{seed}.trace.json").read_text())
        res["traced_end_to_end"] = rec["end_to_end"]
    return res


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0, (max(values) - min(values)) / med if med else 0.0


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record, ok = {}, True
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            runs = []
            for seed in seeds_of(a.seeds):
                t0 = time.time()
                r = run_once(w, seed, a.seconds, 0)
                r["wall_s"] = round(time.time() - t0, 1)
                if a.trace_overhead:
                    r["traced_end_to_end"] = run_once(w, seed, a.seconds, 1)["traced_end_to_end"]
                runs.append(r)
                print(f"{w} set {s + 1} seed {seed}: wall {r['wall_s']} s correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            sets.append(runs)
        record[w] = sets
        print(f"\n== {w}: {len(sets[0])} runs per set")
        print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'max-min':>9}{'bound':>7}  verdict")
        for m in bounds:
            for i, runs in enumerate(sets):
                vals = [r["metrics"][m]["value"] for r in runs]
                med, q1, q3, iqr, rng = summarize(vals)
                flag = "ok" if iqr <= bounds[m] / 3 else "SPREAD"
                ok &= flag == "ok"
                print(f"{m + ('' if a.sets == 1 else f' #{i + 1}'):<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}"
                      f"{iqr:>9.3f}{rng:>9.3f}{bounds[m]:>7.2f}  {flag}")
            if a.sets == 2:
                m1 = statistics.median(r["metrics"][m]["value"] for r in sets[0])
                m2 = statistics.median(r["metrics"][m]["value"] for r in sets[1])
                drift = (m2 - m1) / m1
                flag = "ok" if abs(drift) <= bounds[m] else "DRIFT"
                ok &= flag == "ok"
                print(f"{'':<16}second median vs first: {drift:+.3f} (bound {bounds[m]})  {flag}")
            if a.trace_overhead:
                un = statistics.median(r["metrics"][m]["value"] for r in sets[0])
                tr = statistics.median(r["traced_end_to_end"][m]["value"] for r in sets[0])
                print(f"{'':<16}tracing overhead: traced {tr:.4f} - untraced {un:.4f} = {tr - un:+.4f}")
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
        print(f"failed share per set: {shares}; all correct: "
              f"{all(r['correct'] for runs in sets for r in runs)}")
        ok &= len(set(shares)) == 1 and all(r["correct"] for runs in sets for r in runs)
    out = BENCH / "results" / f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(record, indent=1))
    print(f"\nraw results: {out.relative_to(ROOT)}; verdict: {'steady' if ok else 'NOT steady'}")


if __name__ == "__main__":
    main()
