"""Summarize interleaved A/B runs: per-query min over each side's
process minima, ratio B/A, and a verdict column.

Usage:  python tools/ab_summarize.py bench_history/ab_r15_A*.json -- bench_history/ab_r15_B*.json

Queries present on one side only are left out of the table and the
TOTAL, and named on stderr; empty input files are skipped with a
warning.  A ratio over a zero minimum prints as ``n/a``.
"""

from __future__ import annotations

import json
import sys


def load_side(paths: list[str]) -> dict[str, list[float]]:
    acc: dict[str, list[float]] = {}
    for p in paths:
        with open(p) as f:
            text = f.read().strip()
        if not text:
            print(f"warning: skipping empty file {p}", file=sys.stderr)
            continue
        d = json.loads(text)
        qs = d.get("queries", d)
        for k, v in qs.items():
            acc.setdefault(k, []).append(v)
    return acc


def ratio(b: float, a: float) -> str:
    return f"{b / a:5.2f}" if a else "  n/a"


def main() -> None:
    args = sys.argv[1:]
    sep = args.index("--")
    a_paths, b_paths = args[:sep], args[sep + 1 :]
    a, b = load_side(a_paths), load_side(b_paths)
    for side, mine, other in (("A", a, b), ("B", b, a)):
        only = [k for k in mine if k not in other]
        if only:
            print(f"warning: only on side {side}: {', '.join(only)}", file=sys.stderr)
    names = [k for k in a if k in b]
    print(f"{'query':42s} {'A_min':>7s} {'B_min':>7s} {'B/A':>5s}  A_all | B_all")
    tot_a = tot_b = 0.0
    for k in names:
        am, bm = min(a[k]), min(b[k])
        tot_a += am
        tot_b += bm
        alls = ",".join(f"{v:.2f}" for v in a[k]) + " | " + ",".join(
            f"{v:.2f}" for v in b[k]
        )
        print(f"{k:42s} {am:7.3f} {bm:7.3f} {ratio(bm, am)}  {alls}")
    print(f"{'TOTAL (sum of per-side minima)':42s} {tot_a:7.3f} {tot_b:7.3f} "
          f"{ratio(tot_b, tot_a)}")


if __name__ == "__main__":
    main()
