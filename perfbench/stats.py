"""Statistics helpers of the benchmark.

Library: median, tail percentile, quartiles, failure share, and the
comparison of two sets of runs against the bounds in BENCHMARK.json.

Command line (each FILE holds the final JSON lines of runs of ONE workload,
one run per line, as `run.py` prints them):

    python3 perfbench/stats.py spread FILE
    python3 perfbench/stats.py compare BASE_FILE NEW_FILE [--benchmark BENCHMARK.json]
"""
import json
import math
import os
import statistics
import sys

# Percentiles tried, highest first, by `tail_percentile`.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values):
    """Median of a non-empty sequence of numbers."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def samples_beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n samples."""
    return n - math.ceil(p / 100.0 * n)


def tail_percentile(values, min_beyond=10):
    """The highest percentile of the ladder that has at least `min_beyond`
    samples beyond it, as (p, value) with the nearest-rank value. Falls back
    to the median alone, (50.0, median), when no ladder percentile has
    enough samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in PERCENTILE_LADDER:
        if samples_beyond(n, p) >= min_beyond:
            return p, xs[max(0, math.ceil(p / 100.0 * n) - 1)]
    return 50.0, median(xs)


def quartiles(values):
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def failure_share(attempted, failed):
    """Share of attempted operations that failed."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base` (negative
    when better). `better` is "lower" or "higher"."""
    if base == 0:
        return 0.0 if new == base else math.inf
    delta = (new - base) if better == "lower" else (base - new)
    return delta / abs(base)


def metric_values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]


def compare(base_runs, new_runs, metrics):
    """Compare two sets of runs of one workload, metric by metric.

    `metrics` are BENCHMARK.json `end_to_end` entries. A metric regresses
    when the new median is worse than the base median by more than its
    bound. Returns one dict per metric and whether all metrics pass."""
    rows = []
    for m in metrics:
        b, n = metric_values(base_runs, m["name"]), metric_values(new_runs, m["name"])
        if not b or not n:
            rows.append({"name": m["name"], "ok": False, "reason": "missing"})
            continue
        w = worse_by(median(b), median(n), m["better"])
        rows.append({
            "name": m["name"], "unit": m["unit"], "bound": m["bound"],
            "base_median": median(b), "new_median": median(n),
            "base_spread": spread(b), "new_spread": spread(n),
            "worse_by": w, "ok": w <= m["bound"],
        })
    return rows, all(r["ok"] for r in rows)


def read_runs(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                runs.append(json.loads(line))
    return runs


def _benchmark(argv):
    if "--benchmark" in argv:
        return argv[argv.index("--benchmark") + 1]
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def main(argv):
    if len(argv) >= 2 and argv[0] == "spread":
        runs = read_runs(argv[1])
        names = sorted({k for r in runs for k in r.get("metrics", {})})
        print(f"{len(runs)} runs, correct in {sum(1 for r in runs if r.get('correct'))}")
        for name in names:
            vs = metric_values(runs, name)
            q1, q2, q3 = quartiles(vs)
            p, tail = tail_percentile(vs)
            print(f"{name:40s} median {q2:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
                  f"spread {spread(vs):.4f}  p{p:g} {tail:.6g}  n={len(vs)}")
        return 0
    if len(argv) >= 3 and argv[0] == "compare":
        with open(_benchmark(argv)) as f:
            bench = json.load(f)
        rows, ok = compare(read_runs(argv[1]), read_runs(argv[2]), bench["end_to_end"])
        for r in rows:
            print(json.dumps(r))
        print("PASS" if ok else "REGRESSION")
        return 0 if ok else 1
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
