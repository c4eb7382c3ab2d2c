"""Compare benchmark results.

    python3 perfbench/compare.py BASE NEW      # parent vs change
    python3 perfbench/compare.py --spread DIR  # run-to-run spread of one side
    python3 perfbench/compare.py --overhead DIR  # traced vs untraced runs

BASE, NEW and DIR are directories of run records (the ``*.json`` files
``run.py`` writes to ``.perfbench_work/results/``). Untraced records give
the end-to-end metrics; bounds and better directions come from
``BENCHMARK.json``.

For each (workload, metric) the comparison prints each side's median and
quartiles and a verdict by the rule of choosing-metrics §8: ``better``
(or ``worse``) when the change wins (or loses) at least 9 of 10 pairs
and the medians differ by more than the parent's interquartile range;
``unresolved`` when either side's spread (IQR / median) exceeds the
metric's bound, unless every run of one side beats every run of the
other; ``regressed`` when the change's median is worse than the
parent's by more than the bound; otherwise ``same``. Pairs are matched
by seed, else by run order.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from stats import median, quartiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_records(path: str, trace: int = 0) -> dict[str, list[dict]]:
    """Records under ``path`` by workload, oldest first."""
    files = sorted(glob.glob(os.path.join(path, "*.json")), key=os.path.getmtime)
    out: dict[str, list[dict]] = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if isinstance(rec, dict) and rec.get("trace") == trace and "end_to_end" in rec:
            out.setdefault(rec["workload"], []).append(rec)
    return out


def metric_specs(bench_path: str) -> dict[str, dict]:
    with open(bench_path) as fh:
        bench = json.load(fh)
    return {m["name"]: m for m in bench["end_to_end"]}


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def pairs(base: list[dict], new: list[dict]) -> list[tuple[dict, dict]]:
    by_seed = {r["seed"]: r for r in base}
    matched = [(by_seed[r["seed"]], r) for r in new if r["seed"] in by_seed]
    return matched if len(matched) >= min(len(base), len(new)) else list(zip(base, new))


def verdict(base: list[float], new: list[float], prs: list[tuple[float, float]],
            spec: dict) -> str:
    lower = spec["better"] == "lower"
    sign = 1 if lower else -1  # > 0: the change is better
    bound = spec["bound"]
    b_med, n_med = median(base), median(new)
    q1, _, q3 = quartiles(base)
    wins = sum(sign * (b - n) > 0 for b, n in prs)
    losses = sum(sign * (b - n) < 0 for b, n in prs)
    separated = max(new) < min(base) or min(new) > max(base)
    if (spread(base) > bound or spread(new) > bound) and not separated:
        return "unresolved"
    worse_by = sign * (n_med - b_med) / b_med if b_med else 0.0
    if worse_by > bound:
        return "regressed"
    if prs and abs(n_med - b_med) > q3 - q1:
        if wins >= 0.9 * len(prs):
            return "better"
        if losses >= 0.9 * len(prs):
            return "worse"
    return "same"


def compare(base_dir: str, new_dir: str, specs: dict) -> int:
    base, new = load_records(base_dir), load_records(new_dir)
    print(f"{'workload':<16}{'metric':<14}{'base q1/med/q3':>30}{'new q1/med/q3':>30}"
          f"{'wins':>7}  verdict")
    for wl in sorted(set(base) & set(new)):
        prs = pairs(base[wl], new[wl])
        for name, spec in specs.items():
            b = [r["end_to_end"][name] for r in base[wl]]
            n = [r["end_to_end"][name] for r in new[wl]]
            pv = [(x["end_to_end"][name], y["end_to_end"][name]) for x, y in prs]
            sign = 1 if spec["better"] == "lower" else -1
            wins = sum(sign * (x - y) > 0 for x, y in pv)
            bq, nq = quartiles(b), quartiles(n)
            print(f"{wl:<16}{name:<14}{'/'.join(f'{v:.4g}' for v in bq):>30}"
                  f"{'/'.join(f'{v:.4g}' for v in nq):>30}{wins:>4}/{len(pv):<2} "
                  f"{verdict(b, n, pv, spec)}")
    return 0


def show_spread(path: str, specs: dict) -> int:
    """Each metric's IQR/median against its bound (``setup_s`` is only
    reported: its spread is not gated)."""
    ok = True
    for wl, recs in sorted(load_records(path).items()):
        print(f"{wl}: {len(recs)} runs, seeds {sorted(r['seed'] for r in recs)}")
        for name, spec in specs.items():
            vals = [r["end_to_end"][name] for r in recs]
            q1, q2, q3 = quartiles(vals)
            sp = spread(vals)
            gated = name != "setup_s"
            flag = "ok" if sp <= spec["bound"] / 3 else ("within bound" if sp <= spec["bound"] else "TOO WIDE")
            ok &= not gated or sp <= spec["bound"]
            print(f"  {name:<14} median {q2:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                  f"spread {sp:.3f} / bound {spec['bound']}  {flag if gated else '(not gated)'}")
    return 0 if ok else 1


def overhead(path: str, specs: dict) -> int:
    """Traced minus untraced medians, as a share of the untraced median."""
    plain, traced = load_records(path, 0), load_records(path, 1)
    for wl in sorted(set(plain) & set(traced)):
        print(f"{wl}: {len(plain[wl])} untraced, {len(traced[wl])} traced runs")
        for name in specs:
            p = median(r["end_to_end"][name] for r in plain[wl])
            t = median(r["end_to_end"][name] for r in traced[wl])
            print(f"  {name:<14} untraced {p:<12.5g} traced {t:<12.5g} "
                  f"overhead {(t - p) / p * 100 if p else 0.0:+.1f}%")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    specs = metric_specs(os.path.join(ROOT, "BENCHMARK.json"))
    if a.spread:
        return show_spread(a.dirs[0], specs)
    if a.overhead:
        return overhead(a.dirs[0], specs)
    if len(a.dirs) != 2:
        ap.error("give BASE and NEW result directories")
    return compare(a.dirs[0], a.dirs[1], specs)


if __name__ == "__main__":
    sys.exit(main())
