"""Tracing overhead over sets of runs.

Every run keeps its end-to-end figures in
`.bench_work/{traced,untraced}.<workload>.seed<n>.s<seconds>.t<threads>.json`.
For each workload, seconds and threads, this pairs the traced and
untraced runs of the same seeds and prints, per metric, the median traced
and untraced values, the median of the paired differences and the
untraced runs' spread (quartile distance), against which the overhead
has to be read:

    for s in 1 2 3 4 5; do for t in 0 1; do
      python3 perfbench/run.py --workload view_queries --seed $s --trace $t
    done; done
    python3 perfbench/overhead.py
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"(traced|untraced)\.(\w+)\.seed(-?\d+)\.(s\d+\.t\d+)\.json$")


def main(work):
    runs = {}
    for path in glob.glob(os.path.join(work, "*.json")):
        m = NAME.search(os.path.basename(path))
        if m:
            mode, wl, seed, load = m.groups()
            with open(path) as f:
                runs.setdefault((wl, load), {}).setdefault(mode, {})[seed] = \
                    json.load(f)
    for (wl, load), by in sorted(runs.items()):
        seeds = sorted(set(by.get("traced", {})) & set(by.get("untraced", {})))
        print("%s %s: %d seeds with both runs" % (wl, load, len(seeds)))
        if not seeds:
            continue
        for k in by["untraced"][seeds[0]]:
            tr = [by["traced"][s][k]["value"] for s in seeds
                  if k in by["traced"][s]]
            un = [by["untraced"][s][k]["value"] for s in seeds]
            if len(tr) != len(un):
                continue
            diff = statistics.median(t - u for t, u in zip(tr, un))
            iqr = (statistics.quantiles(un, n=4)[2] -
                   statistics.quantiles(un, n=4)[0]) if len(un) > 1 else 0.0
            print("  %-18s traced %.6g untraced %.6g overhead %+.6g "
                  "(untraced spread %.6g)" % (k, statistics.median(tr),
                                              statistics.median(un), diff, iqr))


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.join(os.path.dirname(HERE), ".bench_work"))
