#!/usr/bin/env python3
"""Boot-lens comparison of two bench artifacts.

Cross-boot host-speed variance moves the WHOLE suite by a uniform
factor (measured: two idle sweeps on a new VM boot read a median 1.16x
over the previous boot's sweep, stable to 0.04% between sweeps), while
a real regression moves a FEW queries a lot. Comparing raw per-query
ratios therefore flags dozens of phantom "regressions" after a
reboot. The right lens:

  1. median ratio over all shared queries  = the boot/host shift
  2. per-query ratio / median ratio        = the code signal

This tool applies that lens:

    python3 tools/compare_bench.py OLD.json NEW.json [--threshold 1.5]

Accepts Bench artifacts (the full BENCH_LIVE.json line, any line with
a top-level "queries" map, or a driver artifact BENCH_r{N}.json whose
"parsed" field holds one). Compare full artifacts: a compact stdout
line carries only the worst-10 cells. Exit code 1 iff any query's
MEDIAN-NORMALIZED ratio exceeds the threshold (default 1.5x) in either
direction — those are the cells worth reading code for.
"""
import argparse
import json
import statistics
import sys


def load_queries(path):
    with open(path) as f:
        doc = json.load(f)
    if isinstance(doc.get("queries"), dict):
        return doc["queries"]
    parsed = doc.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return parsed["queries"]
    raise SystemExit(f"{path}: no 'queries' map found")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5,
                    help="flag |median-normalized ratio| past this (default 1.5)")
    ap.add_argument("--min-sec", type=float, default=0.1,
                    help="ignore queries under this many seconds in BOTH "
                         "artifacts (sub-100ms cells are timer noise)")
    args = ap.parse_args()

    qo, qn = load_queries(args.old), load_queries(args.new)
    shared = [k for k in qn
              if k in qo and max(qo[k], qn[k]) >= args.min_sec
              and min(qo[k], qn[k]) > 0]
    if not shared:
        raise SystemExit("no shared measurable queries")

    ratios = {k: qn[k] / qo[k] for k in shared}
    med = statistics.median(ratios.values())
    print(f"shared queries: {len(shared)}   "
          f"total: {sum(qo[k] for k in shared):.1f}s -> "
          f"{sum(qn[k] for k in shared):.1f}s")
    print(f"median per-query ratio (the boot/host shift): {med:.3f}")

    flagged = []
    for k, r in ratios.items():
        norm = r / med
        if norm > args.threshold or norm < 1 / args.threshold:
            flagged.append((norm, r, k))
    flagged.sort(reverse=True)
    if flagged:
        print(f"\n{len(flagged)} cells move past {args.threshold}x "
              f"AFTER removing the median shift (read code for these):")
        for norm, r, k in flagged:
            print(f"  {k:38s} {qo[k]:8.3f}s -> {qn[k]:8.3f}s   "
                  f"raw x{r:.2f}   vs-suite x{norm:.2f}")
    else:
        print(f"\nno cell moves past {args.threshold}x once the median "
              f"shift is removed: uniform host delta, no code signal")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
