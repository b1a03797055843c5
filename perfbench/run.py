"""sparkobs benchmark: one workload, one seed, one fresh measured process.

    python3 perfbench/run.py --workload monitor_sweep --seed 1 --seconds 20 --trace 0

Run from the root of a sparkobs checkout. Before the measured process
starts (and outside ``setup_s``) this script makes the inputs
(``inputs.py``), prepares the expected result of every pool entry
(DuckDB oracle digests, or the committed row counts of rows-only
entries) and, once per checkout, primes the program's own first-call
staging. It then starts ``worker.py`` and prints each metric as
``name value unit``; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [ROOT, HERE]
BENCH_VERSION = "perfbench-1"
WORKER_TIMEOUT_S = 170


def unit_of(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def load_pools() -> dict:
    with open(os.path.join(HERE, "pools.json")) as f:
        return json.load(f)


def data_for(workload: str, pools: dict) -> tuple[str, str]:
    import inputs

    base, digest = inputs.base_dir(WORK)
    if pools["workloads"][workload]["input"] == "x10":
        return inputs.x10_dir(WORK, base, digest)
    return base, digest


def expected_for(pool: list[str], data: str, digest: str, rows_only: dict) -> str:
    """Expected (rows, columns, value digest) per entry, cached per data
    digest and oracle text: DuckDB runs each oracle on the same files."""
    import duckdb

    import __spark_entry__
    from worker import value_digest

    oracles = __spark_entry__.oracle_sql(os.path.realpath(data))
    key = hashlib.sha256(
        json.dumps([digest, [(n, oracles.get(n), rows_only.get(n)) for n in pool]])
        .encode()
    ).hexdigest()[:16]
    path = os.path.join(WORK, f"expected-{key}.json")
    if os.path.exists(path):
        return path
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}')")
    out = {}
    for name in pool:
        if name in oracles:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"rows": len(rows), "cols": sorted(cols),
                         "digest": value_digest(rows, cols)}
        elif name in rows_only:
            out[name] = dict(rows_only[name], digest=None)
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return path


def worker_env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = "4"
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return env


def run_worker(argv: list[str], out: str, timeout: float) -> dict:
    """Start worker.py in its own process group and wait for it; the
    group (the JVM and the Python workers) is killed on timeout."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *argv,
           "--work", WORK, "--out", out, "--t0", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=worker_env(),
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            start_new_session=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"worker exceeded {timeout:.0f} s")
    finally:
        try:  # nothing of the group may outlive the run
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        tail = err.decode(errors="replace").strip().splitlines()[-15:]
        raise RuntimeError("worker failed:\n" + "\n".join(tail))
    with open(out) as f:
        return json.load(f)


def prime(workload: str, pool: list[str], data: str, digest: str) -> None:
    """Run the pool once per checkout so that the program's first-call
    staging (io.ensure_stage, under TMPDIR) is done before run 1."""
    key = hashlib.sha256(json.dumps([digest, pool]).encode()).hexdigest()[:16]
    marker = os.path.join(WORK, f"primed-{workload}-{key}")
    if os.path.exists(marker):
        return
    out = os.path.join(WORK, f"prime-{os.getpid()}.json")
    run_worker(["--mode", "prime", "--pool", ",".join(pool), "--data", data],
               out, WORKER_TIMEOUT_S * 3)
    os.remove(out)
    open(marker, "w").close()


def end_to_end(res: dict) -> dict:
    execs = res["execs"][: res["untraced_execs"]]
    per_entry: dict[str, list[float]] = {}
    for name, dt, _ in execs:
        per_entry.setdefault(name, []).append(dt)
    failed = sum(1 for _, _, ok in execs if not ok)
    entry_medians = [statistics.median(v) for v in per_entry.values()]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(res["passes"]),
        # the typical entry's and the slowest entry's median latency
        "query_p50_s": statistics.median(entry_medians),
        "query_tail_s": max(entry_medians),
        "ok_ratio": 1.0 - failed / len(execs),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: replace one expected digest; the run must "
                         "report that entry as failed")
    args = ap.parse_args()
    # a terminated run still kills its worker's process group (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "sparkobs"))):
        print(f"error: {ROOT} holds no sparkobs checkout to measure", file=sys.stderr)
        return 2
    pools = load_pools()
    if args.workload not in pools["workloads"]:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(pools['workloads'])}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    pool = pools["workloads"][args.workload]["pool"]
    data, digest = data_for(args.workload, pools)
    expected = expected_for(pool, data, digest, pools["rows_only"])
    prime(args.workload, pool, data, digest)

    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    argv = ["--mode", "measure", "--pool", ",".join(pool), "--data", data,
            "--expected", expected, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.corrupt_expected:
        argv.append("--corrupt")
    res = run_worker(argv, out, WORKER_TIMEOUT_S)
    os.remove(out)

    import duckdb

    stamp = dict(res["stamp"], nproc=len(os.sched_getaffinity(0)),
                 duckdb=duckdb.__version__, data_digest=digest,
                 bench_version=BENCH_VERSION, workload=args.workload,
                 seed=args.seed, run_seconds=args.seconds)
    failed = sum(1 for _, _, ok in res["execs"] if not ok)
    attempted = len(res["execs"])
    if args.trace:
        metrics = dict(res["layers"], fail_ratio=failed / attempted)
    else:
        metrics = end_to_end(res)
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    print(f"# pool ({len(pool)}): {' '.join(pool)}")
    print(f"# passes_s {[round(p, 3) for p in res['passes']]} "
          f"({len(pool)} executions each)")
    for name, err in sorted(res["errors"].items()):
        print(f"# FAILED {name}: {err}")
    if not args.trace:
        print(f"# fail_ratio {failed / attempted:.6g} ({failed} of {attempted})")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {unit_of(k)}")

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec = os.path.join(WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}-"
                       f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(rec, "w") as f:
        json.dump({"stamp": stamp, "metrics": metrics, "attempted": attempted,
                   "failed": failed, "errors": res["errors"], "execs": res["execs"],
                   "passes": res["passes"], "rss_mb": res["rss_mb"]}, f, indent=1)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
