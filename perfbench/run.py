#!/usr/bin/env python3
"""sift_spark benchmark: one workload per run in one local[4] Spark session.

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 30 --trace 0

A run generates its input tables once per checkout (``datagen.py``, under
``perfbench/.work/data``), starts the session, and runs one check pass that
also warms the JVM: every op of the run is built, collected and compared
with its DuckDB oracle, its recorded row count or its recorded shard
manifest.  It then times a fixed host control (a built-ins-only
``spark.range`` aggregate plus a pure-Python loop), runs the workload's
untimed settle passes and then a fixed number of timed passes over the run's
ops (``passes_per_minute`` of the workload per 60 s of ``--seconds``), each
pass in a seeded order.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` turns on Spark's event log, adds as many traced passes as
untraced ones, and reports the per-layer metrics: in traced passes every op
runs in its own job group and Py4J round trips are counted.  Each metric is
printed as ``name value unit``; the last line is the JSON result.  The run's
record (environment, metrics, per-op spans) goes to ``perfbench/.work/runs``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = "4"
MB = 1024 * 1024


def log(msg: str) -> None:
    print(f"[{time.time() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def configure_environment() -> None:
    """Pin the session shape and keep every file the run writes inside
    ``perfbench/.work``.  ``PYTHONPATH`` reaches the Python UDF workers, which
    otherwise cannot import ``sift_spark`` when launched outside the root."""
    for sub in ("local", "tmp", "warehouse", "eventlog", "out", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ.pop("SIFT_SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata file in /tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, ROOT)


def ensure_data() -> float:
    """Generate the input tables if this checkout has none; returns the
    seconds spent, which set-up time does not count."""
    import datagen

    t0 = time.time()
    for sf in (0.01, 0.1):
        path = os.path.join(WORK, "data", f"sf{sf}")
        if not os.path.isdir(path):
            datagen.write(path, sf)
    return time.time() - t0


def start_session(trace: bool):
    from sift_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def host_control(spark) -> float:
    """A fixed amount of work that does not use sift_spark: reading it next
    to the results tells a slow host window from a slow program."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id) % 1000) AS s").collect()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of the summed resident memory of the driver Python process and
    the driver JVM, sampled every 50 ms while running."""

    def __init__(self, pids: list[int]):
        self.pids, self.peak = pids, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def live_mb(spark) -> float:
    """Memory the run still holds after its passes: the driver JVM's heap
    after a full collection plus its non-heap pools, plus the Python
    driver's resident set.  Unlike resident memory, this does not depend on
    when the collector chose to grow the heap."""
    jvm = spark.sparkContext._jvm
    # repeated, with pauses: Spark's context cleaner releases shuffle and
    # broadcast state only after the first collection finds it unreachable
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.3)
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / MB + rss_mb(os.getpid())


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    values above it; below twenty values no percentile above the median has
    ten beyond it, and the maximum is reported as the 100th percentile."""
    xs = sorted(values)
    if len(xs) < 20:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


class Bench:
    """Runs one workload's check pass and timed passes, counting failures."""

    def __init__(self, workload, spark, trace: bool):
        from sift_spark.caching import release_local_caches

        self.wl, self.spark, self.trace = workload, spark, trace
        self.release = release_local_caches
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.py4j = None
        if trace:
            from tracing import Py4JCounter

            self.py4j = Py4JCounter(spark)

    def _group(self, gid: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")
        print(f"FAILED {name}: {what}", file=sys.stderr, flush=True)

    def check_pass(self) -> float:
        """Build, collect and verify every op once.  Returns the Spark-side
        seconds (the warm-up); comparing with the oracle is not counted."""
        self._group("check")
        spark_s = 0.0
        for name in self.wl.ops:
            self.attempted += 1
            try:
                seconds, err = self.wl.check(name)
                spark_s += seconds
            except Exception:
                err = traceback.format_exc()
            self.release()
            if err:
                self._fail(name, f"check failed: {err}")
        return spark_s

    def timed_pass(self, label: str, ops: list[str], traced: bool) -> dict:
        rec = {"label": label, "traced": traced, "ops": [], "spans": {},
               "local_persists": 0, "storage_mb": 0.0}

        @contextmanager
        def span(name: str):
            t0 = time.time()
            yield
            rec["spans"][name] = (t0, time.time())

        self._group(f"{label}:-:prologue")
        t_pass = time.time()
        self.wl.prologue(span)
        for name in ops:
            self.attempted += 1
            if traced:
                self._group(f"{label}:{name}:construct")
            p0 = self.py4j.calls if traced else 0
            c0 = time.time()
            try:
                built = self.wl.build(name)
                c1 = time.time()
                p1 = self.py4j.calls if traced else 0
                if traced:
                    self._group(f"{label}:{name}:action")
                self.wl.act(name, built)
                a1 = time.time()
            except Exception:
                self._fail(name, traceback.format_exc())
                self.release()
                continue
            if traced:
                rec["storage_mb"] = max(rec["storage_mb"], storage_mb(self.spark))
            rec["local_persists"] += self.release()
            rec["ops"].append({"op": name, "family": self.wl.family(name),
                               "construct": [c0, c1], "action": [c1, a1], "py4j": p1 - p0})
        rec["wall"] = time.time() - t_pass
        rec["output_mb"] = self.wl.output_mb()
        return rec


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def end_to_end(bench: Bench, passes: list[dict], setup_s: float, peak: float,
               live: float) -> dict:
    """Timings of the untraced passes.  Op times are summarized per op first
    (its median over passes), so the op metrics do not depend on which op
    happened to be slow in which pass."""
    untraced = [p for p in passes if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for o in (o for p in untraced for o in p["ops"]):
        per_op.setdefault(o["op"], []).append(o["action"][1] - o["construct"][0])
    medians = [statistics.median(xs) for xs in per_op.values()] or [0.0]
    tail_s, pct = tail(medians)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall"] for p in untraced),
        "op_p50_s": statistics.median(medians),
        "op_tail_s": tail_s,
        "pass_ratio": 1.0 - bench.failed / bench.attempted,
        "peak_rss_mb": peak,
        "live_mb": live,
    }, {"op_tail_percentile": pct, "op_tail_samples": len(per_op)}


def per_layer(passes: list[dict], groups: dict, run: dict, families: list[str],
              sink: bool) -> dict:
    """Per-layer metrics of every traced pass, then the median over passes."""
    from tracing import GroupStats, uncovered

    rows = []
    for p in (p for p in passes if p["traced"]):
        m: dict[str, float] = {}
        prefix = p["label"] + ":"
        ops = p["ops"]

        def jobs(op, phase):
            return groups.get(f"{p['label']}:{op['op']}:{phase}", GroupStats()).jobs

        m["queries.construct_s"] = sum(o["construct"][1] - o["construct"][0] for o in ops)
        m["queries.construct_driver_s"] = sum(
            uncovered(*o["construct"], jobs(o, "construct")) for o in ops)
        m["queries.construct_jobs"] = sum(len(jobs(o, "construct")) for o in ops)
        m["py4j.calls"] = sum(o["py4j"] for o in ops)
        m["queries.action_s"] = sum(o["action"][1] - o["action"][0] for o in ops)
        m["queries.action_driver_s"] = sum(uncovered(*o["action"], jobs(o, "action")) for o in ops)
        for art in ("tokens", "tf", "shingles"):
            a, b = p["spans"].get(f"queries.artifact_{art}_s", (0.0, 0.0))
            m[f"queries.artifact_{art}_s"] = b - a
        for fam in families:
            m[f"{fam}_s"] = sum(o["action"][1] - o["construct"][0] for o in ops if o["family"] == fam)
        m["caching.local_persists"] = p["local_persists"]
        m["caching.storage_mb"] = p["storage_mb"]
        pipe = [o for o in ops if o["family"] == "pipeline"]
        m["pipeline.build_s"] = sum(o["construct"][1] - o["construct"][0] for o in pipe)
        m["pipeline.export_s"] = sum(o["action"][1] - o["action"][0] for o in pipe)
        m["sinks.write_s"] = m["queries.action_s"] if sink else 0.0
        m["sinks.output_mb"] = p["output_mb"] if sink else 0.0
        mine = [g for gid, g in groups.items() if gid.startswith(prefix)]
        m["spark.jobs"] = sum(len(g.jobs) for g in mine)
        for key in ("stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb",
                    "shuffle_read_mb", "shuffle_fetch_wait_s", "spill_memory_mb",
                    "spill_disk_mb", "input_mb"):
            m[f"spark.{key}"] = sum(getattr(g, key) for g in mine)
        rows.append(m)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out.update(run)
    walls = {t: statistics.median(p["wall"] for p in passes if p["traced"] == t) for t in (0, 1)}
    out["trace.overhead_ratio"] = walls[1] / walls[0]
    return out


def environment(spark) -> dict:
    import duckdb
    import pandas
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "cores": os.cpu_count(), "spark_cpus": CPUS, "spark": spark.version,
        "java": jvm.System.getProperty("java.version"), "duckdb": duckdb.__version__,
        "python": platform.python_version(), "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "platform": platform.platform(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    configure_environment()
    import sift_spark  # noqa: F401  (fails here when run outside the repository)

    gen_s = ensure_data()
    spark = start_session(trace)
    session_s = time.time() - T_START - gen_s
    log(f"session up ({gen_s:.1f}s generating data)")

    import workloads
    from families import FAMILIES

    out_dir = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    wl = workloads.make(args.workload, spark, os.path.join(WORK, "data"), out_dir)
    bench = Bench(wl, spark, trace)
    ops = wl.ops
    warm_s = bench.check_pass()
    log(f"check pass done: {len(ops)} ops, {bench.failed} failed")
    control_s = host_control(spark)

    # The JIT keeps compiling long after the check pass, so settle passes
    # run first and are not counted.  The number of timed passes is fixed
    # per workload, so that every run does the same work whatever the
    # host's speed.  Tracing adds as many traced passes, in the order
    # untraced-traced-traced-untraced-..., so that both kinds see the same
    # share of the remaining warm-up.
    rng = random.Random(args.seed)
    for i in range(wl.settle_passes):
        bench.timed_pass(f"s{i}", rng.sample(ops, len(ops)), False)
    log(f"{wl.settle_passes} settle passes done")
    n = max(2, round(wl.passes_per_minute * args.seconds / 60))
    plan = [trace and i % 4 in (1, 2) for i in range(2 * n if trace else n)]
    passes: list[dict] = []
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    steal0 = steal_s()
    with RssSampler(pids) as rss:
        for i, traced in enumerate(plan):
            label = f"{'t' if traced else 'u'}{i}"
            passes.append(bench.timed_pass(label, rng.sample(ops, len(ops)), traced))
    steal = steal_s() - steal0
    live = live_mb(spark)
    log(f"{len(passes)} timed passes done")
    env = environment(spark)
    app_id = spark.sparkContext.applicationId
    wl.close()
    stop_session(spark)
    log("session stopped")

    e2e, tail_info = end_to_end(bench, passes, session_s + warm_s, rss.peak, live)
    metrics = dict(e2e)
    if trace:
        from tracing import read_event_log

        log_path = os.path.join(WORK, "eventlog", app_id)
        groups = read_event_log(log_path)
        os.remove(log_path)
        metrics = per_layer(
            passes, groups,
            {"session.start_s": session_s, "session.warmup_s": warm_s, "host.control_s": control_s},
            list(FAMILIES), sink=wl.sink)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "ops": ops, "environment": env, "data_generation_s": gen_s,
              "host.control_s": control_s, "host.steal_s": steal, "end_to_end": e2e,
              **tail_info,
              "metrics": metrics, "errors": bench.errors, "passes": passes}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "runs", name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)

    print(f"host.control_s {control_s:.4f} s")
    print(f"host.steal_s {steal:.2f} s (CPU time taken by other guests during the timed passes)")
    print(f"peak_rss_mb {rss.peak:.1f} MB (driver JVM + Python, during the timed passes)")
    print(f"op_p50_s {e2e['op_p50_s']:.4f} s (median over ops of each op's median time)")
    print(f"op_tail_percentile {tail_info['op_tail_percentile']:.1f} of "
          f"{tail_info['op_tail_samples']} op medians over {len(passes)} passes")
    print(f"fail_ratio {bench.failed / bench.attempted:.4f} ratio "
          f"({bench.failed} of {bench.attempted} ops)")
    result = {}
    for m in wanted:
        value = float(metrics[m["name"]])
        result[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']} {value:.6g} {m['unit']}")
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
