"""One measured process: start the engine, run timed passes, check them.

Started by ``run.py`` in a fresh interpreter, so ``setup_s`` covers the
interpreter, the JVM, the session and the warm-up passes (which start
the Python/Arrow workers). One client runs the pool in a closed loop:
each execution is
the registry call plus a ``collect()`` of every row and column. The
result check, the cache-leftover probe and the release of per-query
state run outside the timer. Writes one JSON document to ``--out``.

    python3 perfbench/worker.py --mode measure --pool a,b --data DIR \
        --expected FILE --seed 1 --seconds 10 --trace 0 --t0 EPOCH --out FILE
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import spans  # noqa: E402

CORES = 4
WARMUP_PASSES = 2


def value_digest(rows, cols) -> str:
    from tools.check_oracle import canon

    h = hashlib.sha256()
    for line in canon(rows, cols):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def write_json(path: str, doc) -> None:
    with open(path, "w") as f:
        json.dump(doc, f)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    """The driver JVM: the gateway process, or its java child."""
    pid = spark.sparkContext._gateway.proc.pid
    for cand in [str(pid)] + [d for d in os.listdir("/proc") if d.isdigit()]:
        try:
            with open(f"/proc/{cand}/stat") as f:
                fields = f.read().rsplit(")", 1)
            comm = fields[0].split("(", 1)[1]
            ppid = int(fields[1].split()[1])
        except OSError:
            continue
        if comm == "java" and (int(cand) == pid or ppid == pid):
            return int(cand)
    return pid


def start_session(work: str, trace: bool):
    from sparkobs.session import get_spark

    # a fixed, pre-touched heap keeps the JVM's high-water memory from
    # following the collector's heap sizing (README.md, step 4)
    java_opts = ["-XX:-UsePerfData", "-Xms2g", "-XX:+AlwaysPreTouch",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": " ".join(java_opts),
    }
    if trace:
        evdir = os.path.join(work, f"eventlog-{os.getpid()}")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", conf)


class StreamProgress:
    """Micro-batch progress events, from a listener the harness adds."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state = sum(s.memoryUsedBytes for s in p.stateOperators)
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                events.append((dict(p.durationMs), p.numInputRows, state,
                               start.timestamp()))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)


class Runner:
    def __init__(self, spark, data, pool, expected=None, corrupt=False):
        """Without ``expected`` results nothing is checked (priming,
        calibration); ``corrupt`` replaces one expected digest (the
        check's self-test)."""
        import __spark_entry__

        registry = __spark_entry__.queries()
        self.spark, self.data, self.pool = spark, data, pool
        self.fns = {n: registry.get(n) for n in pool}
        self.expected = expected
        if corrupt:
            name = next(n for n in pool if expected.get(n, {}).get("digest"))
            expected[name] = dict(expected[name], digest="0" * 64)
        self.baseline_views = {t.name for t in spark.catalog.listTables()}
        self.tracer = None
        self.execs = []  # (name, seconds, ok)
        self.leftover = []  # (entries, mb)
        self.plan_s = 0.0
        self.errors = {}
        self.last_shape = None  # (rows, sorted columns) of the last execution

    def _check(self, name, rows, cols) -> str | None:
        exp = self.expected.get(name)
        if exp is None:
            return "no expected result"
        if len(rows) != exp["rows"]:
            return f"row count {len(rows)} != {exp['rows']}"
        if sorted(cols) != exp["cols"]:
            return f"columns {sorted(cols)} != {exp['cols']}"
        if exp.get("digest") and value_digest(rows, cols) != exp["digest"]:
            return "value digest differs from the oracle"
        return None

    def _release(self) -> None:
        from sparkobs.operators.dedup import unpersist_candidates

        unpersist_candidates()
        self.spark.catalog.clearCache()
        for t in self.spark.catalog.listTables():
            if t.name not in self.baseline_views and t.tableType == "TEMPORARY":
                self.spark.catalog.dropTempView(t.name)

    def _leftover(self) -> tuple[int, float]:
        sc = self.spark.sparkContext._jsc.sc()
        mb = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo())
        return sc.getPersistentRDDs().size(), mb / 2**20

    def execute(self, name: str) -> float:
        fn, tr = self.fns[name], self.tracer
        problem, df, rows = None, None, None
        t = time.perf_counter()
        try:
            if fn is None:
                raise KeyError(f"{name} is not in the registry")
            if tr is None:
                df = fn(self.spark, self.data)
                rows = df.collect()
            else:
                with tr.span(name, "query"):
                    with tr.span("build", "queries"):
                        df = fn(self.spark, self.data)
                    with tr.span("collect", "exec"):
                        rows = df.collect()
        except Exception as e:  # a failing query counts, the run goes on
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t
        if problem is None:
            self.last_shape = (len(rows), sorted(df.columns))
            if self.expected is not None:
                problem = self._check(name, rows, df.columns)
        try:
            if tr is not None and df is not None:
                self.plan_s += plan_seconds(self.spark, df)
            self.leftover.append(self._leftover())
            self._release()
        except Exception as e:  # a failing release counts, the run goes on
            problem = problem or f"release or probe failed: {type(e).__name__}: {str(e)[:300]}"
        if problem is not None:
            self.errors.setdefault(name, problem)
        self.execs.append((name, dt, problem is None))
        return dt

    def run_pass(self, rng: random.Random) -> float:
        order = list(self.pool)
        rng.shuffle(order)
        return sum(self.execute(n) for n in order)


def plan_seconds(spark, df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of df."""
    phases = df._jdf.queryExecution().tracker().phases()
    jmap = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return sum(v.durationMs() for v in jmap.values()) / 1000.0


def task_metrics(evdir: str, windows: list[tuple[float, float]]) -> dict:
    keys = ("run_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb")
    out = dict.fromkeys(keys, 0.0)
    for fname in os.listdir(evdir):
        with open(os.path.join(evdir, fname)) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev["Task Info"]["Finish Time"] / 1000.0
                if not any(a <= fin <= b for a, b in windows):
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                out["run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
                out["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                out["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                out["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return out


def layer_metrics(runner, tracer, traced_passes, untraced_passes, progress,
                  windows, session):
    """Per-layer metrics per traced pass, read while the context is live."""
    n = len(traced_passes)
    tracer.resolve_jobs()
    own = tracer.self_times()
    m: dict[str, float] = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
    }
    st = runner.spark.sparkContext.statusTracker()
    build_s = build_jobs = collect_s = jobs = stages = tasks = 0.0
    layers: dict[str, list[float]] = {}
    drains = []
    for sp in tracer.spans:
        dur = sp.t1 - sp.t0
        acc = layers.setdefault(sp.layer, [0, 0.0, 0])
        acc[0] += 1
        acc[1] += own[sp.sid]
        acc[2] += sp.jobs
        if sp.layer == "queries":
            build_s += dur
            build_jobs += tracer.subtree_jobs(sp.sid)
        elif sp.layer == "exec":
            collect_s += dur
            for jid in st.getJobIdsForGroup(f"pb-{sp.sid}"):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numCompletedTasks
        elif sp.layer == "streaming.monitors.run_to_memory":
            drains.append(sp)
    traced_pass = statistics.median(traced_passes)
    m.update({
        "queries.build_s": build_s / n,
        "queries.build_jobs": build_jobs / n,
        "exec.plan_s": runner.plan_s / n,
        "exec.collect_s": collect_s / n,
        "exec.jobs": jobs / n,
        "exec.stages": stages / n,
        "exec.tasks": tasks / n,
    })
    left = runner.leftover
    m["cache.leftover_entries"] = sum(e for e, _ in left) / len(left)
    m["cache.leftover_mb"] = sum(mb for _, mb in left) / len(left)
    for mod in spans.operator_modules():
        calls, self_s, jobs_ = layers.get(f"operators.{mod}", (0, 0.0, 0))
        m[f"operators.{mod}.calls"] = calls / n
        m[f"operators.{mod}.self_s"] = self_s / n
        m[f"operators.{mod}.jobs"] = jobs_ / n
    for mod, names in spans.BOUNDARIES.items():
        label = mod.removeprefix("sparkobs.")
        for lab in ([label] if names is None else [f"{label}.{x}" for x in names]):
            calls, self_s, _ = layers.get(lab, (0, 0.0, 0))
            m[f"{lab}.calls"] = calls / n
            m[f"{lab}.self_s"] = self_s / n
    # only the micro-batches that started inside a traced pass
    batches = [b for b in progress.events
               if any(a <= b[3] <= z for a, z in windows)]
    trig = sum(d.get("triggerExecution", 0) for d, *_ in batches) / 1e3

    def phase(key):
        return sum(d.get(key, 0) for d, *_ in batches) / 1e3 / n

    # a drain's floor: its wall time minus the triggers that started in it
    floor = sum(
        (sp.t1 - sp.t0) - sum(d.get("triggerExecution", 0) for d, _, _, t in batches
                               if sp.wall0 <= t <= sp.wall1) / 1e3
        for sp in drains)
    empty = sum(1 for _, rows, *_ in batches if rows == 0)
    m.update({
        "stream.batches": len(batches) / n,
        "stream.empty_batches": empty / n,
        "stream.useful_batch_ratio":
            (len(batches) - empty) / len(batches) if batches else 0.0,
        "stream.trigger_s": trig / n,
        "stream.add_batch_s": phase("addBatch"),
        "stream.query_planning_s": phase("queryPlanning"),
        "stream.wal_commit_s": phase("walCommit"),
        "stream.latest_offset_s": phase("latestOffset"),
        "stream.state_mb": max((s for _, _, s, _ in batches), default=0) / 2**20,
        "stream.floor_s": floor / n,
    })
    m["trace.overhead_s"] = traced_pass - statistics.median(untraced_passes)
    m["trace.accounted_ratio"] = sum(own.values()) / sum(traced_passes)
    return m


def measure(args, spark, session) -> dict:
    """Untimed warm-up passes, then timed passes until ``--seconds`` of
    timed work is done. The first pass in a process pays each entry's
    first-execution costs (codegen, class loading, worker imports): two
    to three times a later pass. The second is still a fifth to a third
    slower than the passes after it. So two passes are untimed. With
    tracing, pairs of an untraced and a traced pass follow until
    ``--seconds`` of traced work is done."""
    with open(args.expected) as f:
        expected = json.load(f)
    runner = Runner(spark, args.data, args.pool.split(","), expected,
                    corrupt=args.corrupt)
    rng = random.Random(args.seed)
    t = time.time()
    for _ in range(WARMUP_PASSES):
        runner.run_pass(rng)
    session["warmup_s"] += time.time() - t
    setup_s = time.time() - args.t0
    runner.execs.clear()
    runner.leftover.clear()
    passes = []
    while sum(passes) < args.seconds:
        passes.append(runner.run_pass(rng))
    out = {"setup_s": setup_s, "passes": passes, "untraced_execs": len(runner.execs)}
    if args.trace:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(spark.sparkContext)
        spans.instrument()
        progress = StreamProgress(spark)
        # untraced and traced passes alternate, so the JIT's warming
        # over a run does not show up as (negative) tracing overhead
        untraced, traced, windows = [], [], []
        while sum(traced) < args.seconds:
            untraced.append(runner.run_pass(rng))
            runner.tracer = spans._ACTIVE = tracer
            a = time.time()
            traced.append(runner.run_pass(rng))
            windows.append((a, time.time()))
            runner.tracer = spans._ACTIVE = None
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(progress.listener)
        out["traced_passes"] = traced
        out["windows"] = windows
        out["layers"] = layer_metrics(runner, tracer, traced, untraced, progress,
                                      windows, session)
    out["execs"] = runner.execs
    out["errors"] = runner.errors
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--mode", choices=("measure", "prime", "calibrate"), required=True)
    ap.add_argument("--pool", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, default=time.time())
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark = start_session(args.work, bool(args.trace))
    session = {"start_s": time.time() - args.t0, "warmup_s": 0.0}

    if args.mode == "prime":
        names = args.pool.split(",")
        runner = Runner(spark, args.data, names)
        for n in names:
            runner.execute(n)
        spark.stop()
        write_json(args.out, {"errors": runner.errors})
        return 0

    if args.mode == "calibrate":
        names = args.pool.split(",")
        runner = Runner(spark, args.data, names)
        res = {}
        for n in names:
            runner.last_shape = None
            res[n] = {"s": round(runner.execute(n), 3), "shape": runner.last_shape}
        spark.stop()
        write_json(args.out, res)
        return 0

    out = measure(args, spark, session)
    out["session"] = session
    out["rss_mb"] = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid(spark))}
    out["peak_rss_mb"] = sum(out["rss_mb"].values())
    out["stamp"] = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.stop()
    if args.trace:
        # the event log is complete only once the context has stopped
        n, traced_pass = len(out["traced_passes"]), statistics.median(out["traced_passes"])
        evdir = os.path.join(args.work, f"eventlog-{os.getpid()}")
        tm = task_metrics(evdir, out.pop("windows"))
        shutil.rmtree(evdir)
        layers = out["layers"]
        for k, v in tm.items():
            layers[f"spark.task_{k}" if k in ("run_s", "cpu_s") else f"spark.{k}"] = v / n
        layers["spark.busy_ratio"] = tm["run_s"] / n / (traced_pass * CORES)
    write_json(args.out, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
