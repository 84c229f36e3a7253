#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files as run.py leaves them in
.bench_build/results/ (copy that directory aside between the two sets).
Untraced files are compared on their end-to-end metrics, traced ones on their
per-layer metrics. For each workload and metric it prints both medians, the
change, each side's spread (the distance between the first and third
quartile over the median) and, for end-to-end metrics, the verdict against
the bound in BENCHMARK.json: a change inside the bound, or inside the base's
own spread, is not a regression; a difference no wider than the spread is
reported as unresolved, not as a gain.
"""
import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def load(directory):
    """{(workload, trace): {metric: [values...]}} over every result file."""
    sets = {}
    for f in sorted(pathlib.Path(directory).glob("*.json")):
        d = json.loads(f.read_text())
        key = (d["workload"], bool(d["trace"]))
        metrics = d["result"]["metrics"]
        for name, m in metrics.items():
            sets.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return sets


def spread(values):
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    base, new = load(sys.argv[1]), load(sys.argv[2])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    worse = 0
    for key in sorted(set(base) & set(new)):
        workload, traced = key
        print(f"\n== {workload} ({'per-layer' if traced else 'end-to-end'}; "
              f"{len(next(iter(base[key].values())))} vs {len(next(iter(new[key].values())))} runs)")
        print(f"{'metric':44s} {'base':>12s} {'new':>12s} {'change':>8s} "
              f"{'spr base':>8s} {'spr new':>8s}  verdict")
        for name in sorted(set(base[key]) & set(new[key])):
            a, b = base[key][name], new[key][name]
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if ma else float("nan")
            sa, sb = spread(a), spread(b)
            info = e2e.get(name) if not traced else layer.get(name)
            verdict = ""
            if info is not None:
                signed = change if info["better"] == "lower" else -change
                if not traced and signed > info["bound"]:
                    verdict = "WORSE beyond bound"
                    worse += 1
                elif abs(change) <= sa:
                    verdict = "unresolved (within base spread)"
                else:
                    verdict = "better" if signed < 0 else "worse"
            print(f"{name:44s} {ma:12.4f} {mb:12.4f} {100 * change:7.1f}% "
                  f"{sa:8.3f} {sb:8.3f}  {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
