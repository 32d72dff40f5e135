#!/usr/bin/env python3
"""Self-test of the benchmark: is it steady enough for its own bounds?

    python3 perfbench/selftest.py [--runs 10] [--sets 2]

Runs BENCHMARK.json's command (untraced) `--runs` times on every workload,
each run with another seed, and repeats that `--sets` times. For every
end-to-end metric it prints each set's median and quartiles
(statistics.quantiles(values, n=4)), the spread (q3 - q1) / median, and
the drift of each set's median against the first set's, then checks both
against the metric's bound:

  * spread within the bound (setup_s is exempt: it is one JVM start per
    run, and only its median is gated);
  * no set's median worse than the first set's by more than the bound.

A spread above a third of the bound is reported as "noisy". The exit
status is non-zero when a run fails or a check fails. Run from the
repository root; nothing else may be running on the host.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIRST_SEED = 1000


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0 or not result or not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}, "
                           f"last line {lines[-1] if lines else None!r}")
    artifact = next(json.loads(line[len("ARTIFACT "):]) for line in lines
                    if line.startswith("ARTIFACT "))
    return ({k: v["value"] for k, v in result["metrics"].items()},
            artifact["timed_steal_shares"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            values = []
            for i in range(args.runs):
                seed = FIRST_SEED + 100 * s + i
                got, steal = run_once(bench, w, seed)
                values.append(got)
                print(f"# {w} set {s} seed {seed}: " + " ".join(
                    f"{k}={v:.4g}" for k, v in got.items())
                    + f" steal per timed pass {steal}", flush=True)
            sets.append(values)
        print(f"\n{w}: {args.runs} runs x {args.sets} sets")
        print(f"{'metric':<14}{'set':>4}{'q1':>11}{'median':>11}{'q3':>11}"
              f"{'spread':>9}{'drift':>9}{'bound':>7}  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            first = None
            for s, values in enumerate(sets):
                xs = [v[name] for v in values]
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med
                first = med if first is None else first
                worse = (med - first) if m["better"] == "lower" else (first - med)
                drift = worse / first
                verdict = []
                if name != "setup_s" and spread > bound:
                    verdict.append("SPREAD>BOUND")
                elif name != "setup_s" and spread > bound / 3:
                    verdict.append("noisy")
                if drift > bound:
                    verdict.append("DRIFT>BOUND")
                ok &= not any(v.isupper() for v in verdict)
                print(f"{name:<14}{s:>4}{q1:>11.4g}{med:>11.4g}{q3:>11.4g}"
                      f"{spread:>9.3f}{drift:>9.3f}{bound:>7}  "
                      f"{' '.join(verdict) or 'ok'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
