"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl HEAD.jsonl [--bench BENCHMARK.json]

Each file holds result lines of one workload in one trace mode, one JSON
object per line: the last stdout line of each run, appended, e.g.
``python3 perfbench/run.py ... | tail -n 1 >> base.jsonl``. Other lines
are skipped. For every metric the command prints each side's median and
quartiles and the change of the median. An end-to-end metric is
"unresolved" when either side's run-to-run spread (quartile distance
over median) exceeds the metric's bound from BENCHMARK.json, unless
every HEAD run beats every BASE run. It is "better" when HEAD wins at
least nine in ten runs paired in file order and its median moved by
more than BASE's spread. Given untraced BASE results and
traced HEAD results of the same workload, it also prints the tracing
overhead on the operation median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(path: str) -> list[dict]:
    runs = []
    with open(path) as f:
        for line in f:
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if isinstance(r, dict) and isinstance(r.get("metrics"), dict):
                runs.append(r)
    if not runs:
        raise SystemExit(f"compare: no result lines in {path}")
    return runs


def summary(values: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def spread(values: list[float]) -> float:
    med, q1, q3 = summary(values)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(base: list[float], head: list[float], better: str, bound: float) -> str:
    sign = -1.0 if better == "lower" else 1.0
    b_med, h_med = statistics.median(base), statistics.median(head)
    change = sign * (h_med - b_med) / abs(b_med) if b_med else 0.0
    all_better = (
        min(head) > max(base) if better == "higher" else max(head) < min(base)
    )
    if max(spread(base), spread(head)) > bound and not all_better:
        return "unresolved (spread above bound)"
    if change < -bound:
        return "WORSE beyond bound"
    pairs = list(zip(base, head))  # paired in run order
    wins = sum(h > b if better == "higher" else h < b for b, h in pairs)
    if change > spread(base) and wins >= 0.9 * len(pairs):
        return "better"
    return "within bound"


def values(runs: list[dict], name: str) -> list[float]:
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base")
    p.add_argument("head")
    p.add_argument("--bench", default="BENCHMARK.json")
    args = p.parse_args(argv)
    base, head = load(args.base), load(args.head)
    try:
        with open(args.bench) as f:
            bounds = {m["name"]: m for m in json.load(f)["end_to_end"]}
    except FileNotFoundError:
        bounds = {}

    names = list(dict.fromkeys(n for r in base + head for n in r["metrics"]))
    print(f"BASE {args.base}: {len(base)} runs; HEAD {args.head}: {len(head)} runs")
    for side, runs in (("BASE", base), ("HEAD", head)):
        bad = sum(1 for r in runs if not r["correct"] or r["failed"])
        if bad:
            print(f"  {side}: {bad} runs failed their output checks")
    print(f"{'metric':36} {'unit':6} {'base median [q1, q3]':32} "
          f"{'head median [q1, q3]':32} {'change':>8}  verdict")
    for name in names:
        b, h = values(base, name), values(head, name)
        if not b or not h:
            continue
        unit = (base + head)[0]["metrics"].get(name, {}).get("unit", "")
        bm, bq1, bq3 = summary(b)
        hm, hq1, hq3 = summary(h)
        change = (hm - bm) / abs(bm) if bm else 0.0
        spec = bounds.get(name)
        v = verdict(b, h, spec["better"], spec["bound"]) if spec else "no bound"
        print(
            f"{name:36} {unit:6} {f'{bm:.4g} [{bq1:.4g}, {bq3:.4g}]':32} "
            f"{f'{hm:.4g} [{hq1:.4g}, {hq3:.4g}]':32} {change:+8.1%}  {v}"
        )
    b, h = values(base, "op_p50_s"), values(head, "trace.op_p50_s")
    if b and h:
        bm, hm = statistics.median(b), statistics.median(h)
        print(f"tracing overhead on op_p50_s: {hm - bm:+.4g} s ({(hm - bm) / bm:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
