#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files or directories of them (run.py saves one
per run under .bench_build/results/). Results are paired only when their
host profiles agree on everything but commit, source hash and seed:
comparing across hosts or settings is refused (exit 2).
"""
import glob
import json
import os
import sys

import stats

# what may differ between the two sides of a comparison
VARYING = {"commit", "source_hash", "seed"}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def profile_diff(a, b):
    """Profile keys (outside VARYING) whose values differ, as key -> (a, b)."""
    keys = (set(a) | set(b)) - VARYING
    return {k: (a.get(k), b.get(k)) for k in sorted(keys) if a.get(k) != b.get(k)}


def main(base_path, new_path):
    base, new = load(base_path), load(new_path)
    if not base or not new:
        sys.exit("compare: no results on one side")
    ref = base[0]["profile"]
    for r in base + new:
        diff = profile_diff(ref, r["profile"])
        if diff:
            print(f"refused: host profiles differ: {diff}")
            return 2
    for wl in sorted({(r["workload"], r["trace"]) for r in base}
                     & {(r["workload"], r["trace"]) for r in new}):
        b = [r for r in base if (r["workload"], r["trace"]) == wl]
        n = [r for r in new if (r["workload"], r["trace"]) == wl]
        print(f"\n== {wl[0]} (trace {wl[1]}): {len(b)} base runs, {len(n)} new runs")
        print(f"{'metric':40s} {'base p50':>12s} {'base IQR%':>9s} "
              f"{'new p50':>12s} {'new IQR%':>9s} {'new/base':>9s}")
        key = "per_layer" if wl[1] else "end_to_end"
        for m in b[0][key]:
            bv = [r[key][m] for r in b if m in r[key]]
            nv = [r[key][m] for r in n if m in r[key]]
            if not bv or not nv:
                continue
            bm, nm = stats.median(bv), stats.median(nv)
            print(f"{m:40s} {bm:12.5g} {100 * stats.spread(bv) if bm else 0:9.1f} "
                  f"{nm:12.5g} {100 * stats.spread(nv) if nm else 0:9.1f} "
                  f"{nm / bm if bm else float('nan'):9.3f}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
