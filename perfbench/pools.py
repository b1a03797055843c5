"""Derive the workload pools from the registry and write ``pools.json``.

    python3 perfbench/pools.py

The rule (README.md, "Pools"): each workload's candidates are the
registry entries of one family, ordered by the SHA-256 of their name.
Walking that order, an entry is taken when its calibrated time is at
most ``CAP_S`` and it keeps the pool's summed time within
``PASS_BUDGET_S``; otherwise it is passed over. Calibration times one
execution of every candidate on the workload's input, in fresh sessions
of ``CHUNK`` entries each, after the benchmark's warm-up. Failing or
mismatching entries are not passed over. The pools are frozen in
``pools.json``; run this again only to re-derive them on purpose.
Calibrated times already in ``pools.json`` are reused; delete the file
to calibrate again.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PASS_BUDGET_S = 4.0
CAP_S = 2.0
CHUNK = 8
CORPUS_MODULES = {"dedup", "similarity", "text", "bpe", "lm", "graph", "cluster",
                  "multimodal"}
FACTS = {"lineitem", "orders"}
NOT_STAR = {"events", "documents", "embeddings"}
INPUT = {"monitor_sweep": "x10", "corpus_curation": "base", "stream_drain": "base"}


def _tables(sql: str) -> set[str]:
    return set(re.findall(
        r"\b(lineitem|orders|customer|supplier|part|nation|region|events|"
        r"documents|embeddings)\b", sql))


def candidates() -> dict[str, list[str]]:
    """The three families, before the output-growth test and trimming."""
    from sparkobs import queries as Q

    out = {w: [] for w in INPUT}
    for name, fn in Q.SPARK_QUERIES.items():
        mods = set(re.findall(r"sparkobs\.operators\.(\w+)", inspect.getsource(fn)))
        oracle = Q.ORACLE_SQL.get(name)
        if name.startswith("streaming_"):
            out["stream_drain"].append(name)
        elif mods & CORPUS_MODULES:
            out["corpus_curation"].append(name)
        elif oracle and _tables(oracle) & FACTS and not _tables(oracle) & NOT_STAR:
            out["monitor_sweep"].append(name)
    return out


def hash_order(names: list[str]) -> list[str]:
    return sorted(names, key=lambda n: hashlib.sha256(n.encode()).hexdigest())


def output_grows(names: list[str], base: str, x10: str) -> dict[str, bool]:
    """Whether an oracle's row count differs between the base and x10 input."""
    import duckdb

    import __spark_entry__

    counts = {}
    for d in (base, x10):
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in os.listdir(d):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(d, t)}')")
        oracles = __spark_entry__.oracle_sql(os.path.realpath(d))
        for n in names:
            counts.setdefault(n, []).append(
                con.execute(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0])
        con.close()
    return {n: c[0] != c[1] for n, c in counts.items()}


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import inputs
    from run import WORK, run_worker

    os.makedirs(WORK, exist_ok=True)
    base, digest = inputs.base_dir(WORK)
    x10, _ = inputs.x10_dir(WORK, base, digest)
    data = {"base": base, "x10": x10}
    cands = candidates()
    path = os.path.join(HERE, "pools.json")
    known, rows_only = {}, {}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        for wl in old["workloads"].values():
            known.update(wl.get("calibrated_s", {}))
        rows_only = old["rows_only"]
    doc = {"pass_budget_s": PASS_BUDGET_S, "cap_s": CAP_S, "host_cores": 4,
           "workloads": {}, "rows_only": rows_only}
    from sparkobs import queries as Q

    for w, names in cands.items():
        order = hash_order(names)
        if w == "monitor_sweep":
            grows = output_grows(order, base, x10)
            order = [n for n in order if not grows[n]]
        # a rows-only entry needs its committed shape as well as its time
        calib = {n: known[n] for n in order
                 if n in known and (n in Q.ORACLE_SQL or n in rows_only)}
        todo = [n for n in order if n not in calib]
        for i in range(0, len(todo), CHUNK):
            chunk = todo[i:i + CHUNK]
            out = os.path.join(WORK, "calibrate.json")
            res = run_worker(["--mode", "calibrate", "--pool", ",".join(chunk),
                              "--data", data[INPUT[w]]], out, 1800)
            os.remove(out)
            for n in chunk:
                calib[n] = res[n]["s"]
                if n not in Q.ORACLE_SQL and res[n]["shape"]:
                    rows, cols = res[n]["shape"]
                    rows_only[n] = {"rows": rows, "cols": cols}
        pool, total = [], 0.0
        for n in order:
            if calib[n] <= CAP_S and total + calib[n] <= PASS_BUDGET_S:
                pool.append(n)
                total += calib[n]
        doc["workloads"][w] = {"input": INPUT[w], "candidates": len(names),
                               "pool": pool, "calibrated_s": calib}
        print(f"{w}: {len(pool)} of {len(order)} entries, {total:.1f} s", flush=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
