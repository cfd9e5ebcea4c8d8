"""Compare two sets of run records (``.perfbench_work/results/*.json``).

    python3 perfbench/compare.py --base A1.json A2.json ... \\
        --change B1.json B2.json ...

Prints, per workload and metric, each side's median and quartiles and
the change's median as a ratio of the base's.  Traced records are
compared on their per-layer metrics, untraced ones on the end-to-end
metrics.  Records taken at different core counts are refused: the
numbers are not comparable.  So are records taken while the machine
ran at different speeds.  A shared machine can switch, for tens of
minutes at a time, between states whose single-core speed differs by
more than the benchmark's bounds; every record holds the MD5 rate
measured during its run (``md5_gbps``), and records whose rates differ
by more than ``MAX_MD5_RATIO`` are refused.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from typing import Dict, List

# Largest ratio between the MD5 rates of the records compared.  On the
# 4-vCPU machine the benchmark was defined on, ~120 runs over four hours
# measured 0.49-0.62 GB/s in its slower state and 0.73-0.83 GB/s in its
# faster one: within a state the rates stay within x1.27, the states'
# typical rates (0.53 and 0.82 GB/s) are x1.55 apart.
MAX_MD5_RATIO = 1.3


def load(paths: List[str]) -> List[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def quartiles(values: List[float]):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def table(base: List[dict], change: List[dict]) -> List[str]:
    lines = []
    keyed: Dict[tuple, Dict[str, List[dict]]] = {}
    for side, recs in (("base", base), ("change", change)):
        for r in recs:
            keyed.setdefault((r["workload"], r["trace"]), {}).setdefault(
                side, []).append(r)
    for (workload, trace), sides in sorted(keyed.items()):
        if len(sides) < 2:
            continue
        field = "per_layer" if trace else "metrics"
        recs = sides["base"] + sides["change"]
        names = sorted(set.intersection(*(set(r[field]) for r in recs)))
        lines.append(f"{workload} (trace={trace}; "
                     f"base n={len(sides['base'])}, "
                     f"change n={len(sides['change'])})")
        for name in names:
            b = quartiles([r[field][name] for r in sides["base"]])
            c = quartiles([r[field][name] for r in sides["change"]])
            ratio = c[1] / b[1] if b[1] else float("nan")
            lines.append(f"  {name:45s} base {b[1]:12.4f} [{b[0]:.4f}, "
                         f"{b[2]:.4f}]  change {c[1]:12.4f} [{c[0]:.4f}, "
                         f"{c[2]:.4f}]  x{ratio:.3f}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--change", nargs="+", required=True)
    args = p.parse_args(argv)
    base, change = load(args.base), load(args.change)
    cores = {r["context"]["nproc"] for r in base + change}
    if len(cores) != 1:
        print(f"compare: records were taken at different core counts "
              f"{sorted(cores)}; refusing to compare", file=sys.stderr)
        return 2
    rates = [r["md5_gbps"] for r in base + change]
    if max(rates) / min(rates) > MAX_MD5_RATIO:
        print(f"compare: records were taken at different machine speeds "
              f"(MD5 {min(rates):.2f}-{max(rates):.2f} GB/s, more than "
              f"x{MAX_MD5_RATIO} apart); refusing to compare",
              file=sys.stderr)
        return 2
    for side, recs in (("base", base), ("change", change)):
        rate = statistics.median(r["md5_gbps"] for r in recs)
        print(f"{side}: MD5 {rate:.3f} GB/s, median of {len(recs)} records")
    print("\n".join(table(base, change)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
