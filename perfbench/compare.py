"""Compare two sets of benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py BASE [NEW]

BASE and NEW are directories (or single files) holding the captured
standard output of run.py, one run per file. For every workload and
metric it prints the median and quartiles of each set and the spread
(interquartile range over median). With one set it says whether each
spread is within its bound and within a third of it. With two it also
gives a verdict: ``regressed`` when NEW's median is worse than BASE's by
more than the bound, ``unresolved`` when either spread is wider than the
bound, else ``within bound``; ``better`` when NEW's median is better by
more than BASE's own spread. Exits 1 if anything regressed.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_runs(path: Path) -> dict[str, dict[str, list[float]]]:
    """{workload: {metric: [value per run]}} from captured outputs."""
    files = sorted(p for p in path.iterdir() if p.is_file()) if path.is_dir() else [path]
    out: dict[str, dict[str, list[float]]] = {}
    for f in files:
        lines = [ln for ln in f.read_text(errors="replace").splitlines() if ln.startswith("{")]
        summary = next((json.loads(ln)["perfbench"] for ln in lines if '"perfbench"' in ln), None)
        if summary is None or not lines:
            continue
        result = json.loads(lines[-1])
        per = out.setdefault(summary["workload"], {})
        for name, m in result["metrics"].items():
            per.setdefault(name, []).append(m["value"])
    return out


def describe(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def worse_by(base: float, new: float, better: str) -> float:
    """Share of base by which new is worse (negative when better)."""
    if base == 0:
        return 0.0
    delta = (new - base) if better == "lower" else (base - new)
    return delta / abs(base)


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sets = [load_runs(Path(a)) for a in argv]
    regressed = False
    for workload in sorted(set().union(*sets)):
        print(f"== {workload}")
        names = sorted(set().union(*(s.get(workload, {}) for s in sets)))
        for name in names:
            m = metrics.get(name, {})
            bound = m.get("bound")
            stats_ = [describe(s[workload][name]) for s in sets if name in s.get(workload, {})]
            cells = "  ".join(
                f"n={d['n']} med={d['median']:.6g} q1={d['q1']:.6g} q3={d['q3']:.6g} "
                f"spread={d['spread']:.3f}" for d in stats_)
            verdict = ""
            if bound is not None:
                spreads = [d["spread"] for d in stats_]
                if len(stats_) == 1:
                    verdict = ("steady" if spreads[0] <= bound / 3
                               else "within bound" if spreads[0] <= bound else "too noisy")
                else:
                    w = worse_by(stats_[0]["median"], stats_[1]["median"], m["better"])
                    if w > bound:
                        verdict, regressed = f"regressed by {w:.3f}", True
                    elif max(spreads) > bound:
                        verdict = "unresolved"
                    elif -w > stats_[0]["spread"]:
                        verdict = f"better by {-w:.3f}"
                    else:
                        verdict = f"within bound ({w:+.3f})"
                verdict = f"[bound {bound}] {verdict}"
            unit = m.get("unit", "")
            print(f"  {name} ({unit}): {cells} {verdict}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
