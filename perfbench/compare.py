"""Compare two result sets of ``perfbench/run.py``.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds one JSON result per line, as ``run.py`` appends them to
``.perfbench/results.jsonl``. For every (workload, metric) it prints each
side's median and quartiles and the share of pairs the second side won.
Runs pair up by seed, else by order. The verdict follows the rule for a
small sandbox:

* ``gain``: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile
  distance;
* ``regression``: the change's median is worse than the parent's by more
  than the metric's bound in ``BENCHMARK.json``;
* ``unresolved``: the parent's own spread is wider than the bound, unless
  every change run beats every parent run;
* ``same``: none of the above.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[tuple[str, str], list[tuple[int, float, str]]]:
    """(workload, metric) → [(seed, value, unit)] in file order."""
    out: dict[tuple[str, str], list[tuple[int, float, str]]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            for name, m in rec["metrics"].items():
                out.setdefault((rec["workload"], name), []).append(
                    (rec["seed"], m["value"], m["unit"])
                )
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]"


def pairs(a: list[tuple], b: list[tuple]) -> list[tuple[float, float]]:
    b_by_seed = {seed: v for seed, v, _ in b}
    if all(seed in b_by_seed for seed, _, _ in a):
        return [(v, b_by_seed[seed]) for seed, v, _ in a]
    return [(x[1], y[1]) for x, y in zip(a, b)]


def verdict(a: list[float], b: list[float], prs, higher: bool, bound) -> tuple[float, str]:
    sign = 1 if higher else -1
    wins = sum(1 for x, y in prs if sign * (y - x) > 0)
    won = wins / len(prs) if prs else 0.0
    qa, qb = quartiles(a), quartiles(b)
    diff = sign * (qb[1] - qa[1])
    if won >= 0.9 and diff > qa[2] - qa[0]:
        return won, "gain"
    if bound is None:
        return won, "same"
    if (qa[2] - qa[0]) > bound * abs(qa[1]):
        beats_all = (min(b) > max(a)) if higher else (max(b) < min(a))
        return won, "gain" if beats_all else "unresolved"
    if -diff > bound * abs(qa[1]):
        return won, "regression"
    return won, "same"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="compare two perfbench result sets")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)

    with open(args.benchmark) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a_all, b_all = load(args.parent), load(args.change)
    print(
        f"{'workload':<18} {'metric':<24} {'unit':<6} {'n':>5} "
        f"{'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
        f"{'won':>5}  verdict"
    )
    regressions = 0
    for key in sorted(set(a_all) & set(b_all)):
        a, b = a_all[key], b_all[key]
        av, bv = [v for _, v, _ in a], [v for _, v, _ in b]
        m = meta.get(key[1], {})
        prs = pairs(a, b)
        won, what = verdict(
            av, bv, prs, m.get("better") == "higher", m.get("bound")
        )
        if not m:
            what = "-"
        regressions += what == "regression"
        print(
            f"{key[0]:<18} {key[1]:<24} {a[0][2]:<6} {len(av):>2}/{len(bv):<2} "
            f"{_fmt(quartiles(av)):>34} {_fmt(quartiles(bv)):>34} "
            f"{won:>5.2f}  {what}"
        )
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
