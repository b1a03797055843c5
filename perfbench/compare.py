"""Compare two sets of benchmark records (``.work/records/*.json``).

    python3 perfbench/compare.py --a A1.json A2.json ... --b B1.json B2.json ...

For every workload and metric, prints each side's median and quartile
spread (IQR / median) and the change of the median. Two sets whose
environment stamps differ (cores, shuffle partitions, Spark, Java and
DuckDB versions, data digest, benchmark version, run length) are
reported as "not comparable" and nothing else is said about them: a
different environment is never an allowance. The seed is recorded in
every stamp but only permutes the query order, so it is not compared.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

NOT_COMPARED = {"seed"}


def env_key(stamp: dict) -> tuple:
    return tuple(sorted((k, str(v)) for k, v in stamp.items() if k not in NOT_COMPARED))


def load(paths: list[str]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        out.setdefault(rec["stamp"]["workload"], []).append(rec)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def compare(a: dict[str, list[dict]], b: dict[str, list[dict]]) -> int:
    status = 0
    for wl in sorted(set(a) & set(b)):
        keys_a = {env_key(r["stamp"]) for r in a[wl]}
        keys_b = {env_key(r["stamp"]) for r in b[wl]}
        if len(keys_a | keys_b) != 1:
            diff = sorted(set().union(*keys_a) ^ set().union(*keys_b))
            print(f"{wl}: not comparable (stamps differ: {diff}); "
                  "record a same-environment baseline")
            status = 1
            continue
        for metric in a[wl][0]["metrics"]:
            va = [r["metrics"][metric] for r in a[wl] if metric in r["metrics"]]
            vb = [r["metrics"][metric] for r in b[wl] if metric in r["metrics"]]
            if not va or not vb:
                continue
            ma, sa = spread(va)
            mb, sb = spread(vb)
            change = (mb - ma) / ma if ma else float("nan")
            print(f"{wl} {metric}: a {ma:.6g} (IQR {sa:.1%}, n={len(va)})  "
                  f"b {mb:.6g} (IQR {sb:.1%}, n={len(vb)})  change {change:+.1%}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args()
    return compare(load(args.a), load(args.b))


if __name__ == "__main__":
    sys.exit(main())
