#!/usr/bin/env python3
"""spark-graph benchmark: seeded workloads run through the package's
public functions on a local Spark session, one client in a closed loop.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. Each run generates the fixture tables
(perfbench/fixture.py), sets the graph up several times, computes every
expected answer with DuckDB (perfbench/oracle.py), then runs whole
passes over the workload's operations until another pass would end
after ``--seconds``. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it holds the details (host record,
per-operation latencies and counters, failures). perfbench/NOTES.md
explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: fixture scale of a normal run and of --smoke (see fixture.py)
SF = 0.001
SMOKE_SF = 0.0002
#: graph set-ups per run; setup_s is their median
SETUPS = 2
DRIVER_MEM = "1g"

END_TO_END = {"setup_s": "s", "pass_s": "s", "driver_rss_mb": "MB"}
#: per-layer metric → (op counter family summed per pass, unit)
PER_LAYER = {
    "door.plan_s": ("plan_s", "s"),
    "door.action_s": ("action_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.job_span_s": ("job_span_s", "s"),
    "driver.gap_s": ("driver_gap_s", "s"),
    "ram.calls": ("ram_calls", "count"),
    "ram.kernel_s": ("ram_s", "s"),
    "trace.pass_s": ("wall_s", "s"),
    "trace.overhead_s": ("trace_s", "s"),
}
SETUP_LAYERS = ("session_s", "build_graph_s", "materialize_s")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["olap", "serve", "ingest"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="one traced pass of every workload on a tiny "
                        "fixture; checks every metric name")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    return args


# -- host and environment --------------------------------------------
def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def prepare_env(work: str) -> dict:
    """Pin the Spark environment before pyspark is imported: cores and
    driver heap sized to this host, every scratch file inside ``work``,
    and the package's default shuffle-partition count."""
    env = os.environ
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the package default (24g) exceeds small hosts; 1g holds this
    # fixture many times over, and a small heap means fewer freshly
    # touched pages, whose first-touch cost varies from run to run on
    # memory-overcommitted VMs
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    unset = env.pop("SPARK_SHUFFLE_PARTITIONS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = ("--conf spark.ui.showConsoleProgress=false"
                                  " pyspark-shell")
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
            "loadavg": os.getloadavg(),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
            "SPARK_SHUFFLE_PARTITIONS_removed": unset,
            "python": sys.version.split()[0]}


# -- Spark session and graph -----------------------------------------
def _proc_state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError):
        return None


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith(key + ":"))


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (FileNotFoundError, ProcessLookupError, IndexError):
                pass
    return out


class Session:
    """The Spark session and persisted graph of one run."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir
        self.spark = None
        self.graph = None

    def setup(self, times: int) -> list[dict]:
        """Set up ``times`` times (stopping the previous context each
        time) and return each set-up's phase times."""
        from incubator_hugegraph_spark.session import get_spark
        from incubator_hugegraph_spark.sources.tpch import build_graph

        out = []
        for _ in range(times):
            self._release()
            t0 = time.monotonic()
            spark = get_spark("perfbench")
            t1 = time.monotonic()
            graph = build_graph(spark, self.fixture_dir)
            t2 = time.monotonic()
            graph.vertices = graph.vertices.persist()
            graph.edges = graph.edges.persist()
            graph.vertices.count()
            graph.edges.count()
            t3 = time.monotonic()
            spark.sparkContext.setLogLevel("ERROR")
            self.spark, self.graph = spark, graph
            out.append({"session_s": t1 - t0, "build_graph_s": t2 - t1,
                        "materialize_s": t3 - t2, "total_s": t3 - t0})
        return out

    def _release(self) -> None:
        if self.spark is None:
            return
        from incubator_hugegraph_spark.graph import free_scratch
        free_scratch(self.spark)
        self.spark.stop()
        self.spark = self.graph = None

    def memory(self) -> dict:
        """Memory of the driver JVM and this process, in MB. The live
        heap is measured after a full collection."""
        from pyspark import SparkContext
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getHeapMemoryUsage().getUsed()
        out = {"jvm_live_heap_mb": heap / 2**20,
               "jvm_peak_rss_mb": _status_kb(
                   SparkContext._gateway.proc.pid, "VmHWM") / 1024,
               "py_rss_mb": _status_kb(os.getpid(), "VmRSS") / 1024,
               "py_peak_rss_mb": resource.getrusage(
                   resource.RUSAGE_SELF).ru_maxrss / 1024}
        return out

    def java_version(self) -> str:
        return self.spark.sparkContext._jvm.System.getProperty(
            "java.version")

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it and its workers."""
        from pyspark import SparkContext
        self._release()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        workers = _children(proc.pid)
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(
                _proc_state(p) not in (None, "Z") for p in workers):
            time.sleep(0.1)


# -- measurement -----------------------------------------------------
def run_op(op, tracer) -> dict:
    """Time one operation (call + collect); check it afterwards.
    An error or a failed check marks it failed; neither stops the run."""
    res, err, t1 = None, None, None
    with tracer.op(op.name) as stats:
        t0 = time.monotonic()
        try:
            res = op.call()
            t1 = time.monotonic()
            if hasattr(res, "collect"):
                res = res.collect()
        except Exception:  # counted as a failed operation
            err = traceback.format_exc()
        t2 = time.monotonic()
    t1 = t1 or t2
    stats.update(wall_s=t2 - t0, plan_s=t1 - t0, action_s=t2 - t1)
    if err is None:
        try:
            if not op.check(res):
                err = "check failed"
        except Exception:  # a crashing check is a failed check
            err = traceback.format_exc()
    if err is not None:
        print(f"[perfbench] {op.name} failed: {err}", file=sys.stderr)
    return {"op": op.name, "kind": op.kind, "latency": t2 - t0,
            "ok": err is None, "error": None if err is None
            else err.strip().splitlines()[-1], "stats": stats}


def measure(ops_for_pass, spark, tracer, seconds: float):
    """Whole passes until the next one would end after ``seconds``
    (at least one). ``free_scratch`` runs between operations, as a
    single-client server would between requests."""
    from incubator_hugegraph_spark.graph import free_scratch

    records: list[dict] = []
    pass_times: list[float] = []
    start = time.monotonic()
    while True:
        k = len(pass_times)
        total = 0.0
        for op in ops_for_pass(k):
            rec = run_op(op, tracer)
            rec["pass"] = k
            records.append(rec)
            total += rec["latency"]
            free_scratch(spark)
        pass_times.append(total)
        if (time.monotonic() - start + statistics.median(pass_times)
                > seconds):
            return records, pass_times


# -- reporting -------------------------------------------------------
def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with at least
    ten samples above it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def slope(xs: list[float], ys: list[float]) -> float | None:
    """Least-squares slope of ys on xs; None when xs do not vary."""
    if len(xs) < 2:
        return None
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if math.isclose(sxx, 0.0):
        return None
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def _latency_summary(values: list[float]) -> dict:
    out = {"n": len(values), "p50_s": statistics.median(values)}
    t = tail(values)
    if t is not None:
        out.update(tail_s=t[0], tail_pct=round(t[1], 1))
    return out


def summarize(name: str, records, pass_times, setups, memory) -> dict:
    from spans import FAMILIES

    lat = [r["latency"] for r in records]
    e2e = {"setup_s": statistics.median(s["total_s"] for s in setups),
           "pass_s": statistics.median(pass_times),
           "driver_rss_mb": memory["py_rss_mb"]}
    passes = len(pass_times)
    layer = {m: sum(r["stats"].get(fam, 0) for r in records) / passes
             for m, (fam, _) in PER_LAYER.items()}
    for key in SETUP_LAYERS:
        layer[f"setup.{key}"] = statistics.median(s[key] for s in setups)

    by_op: dict[str, list[dict]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r)
    per_op = {}
    for op, rs in by_op.items():
        for fam in FAMILIES:
            vals = [r["stats"][fam] for r in rs if fam in r["stats"]]
            if vals:
                per_op[f"{name}.{op}.{fam}"] = sum(vals) / len(vals)
    failed = sum(not r["ok"] for r in records)
    detail = {
        "workload": name, "passes": passes, "pass_times_s": pass_times,
        "attempted": len(records), "failed": failed,
        "failed_share": failed / len(records),
        "failures": [{"op": r["op"], "pass": r["pass"], "error": r["error"]}
                     for r in records if not r["ok"]],
        "latency": _latency_summary(lat),
        "ops": {op: _latency_summary([r["latency"] for r in rs])
                for op, rs in by_op.items()},
        "setups": setups, "memory": memory, "per_op": per_op,
    }
    if name == "ingest":
        writes = [r["latency"] for r in records if r["kind"] == "write"]
        reads = [r["latency"] for r in records if r["kind"] == "read"]
        rest_reads = [r for r in records if r["op"] == "kneighbor.rest"]
        detail["ingest"] = {
            "write": _latency_summary(writes),
            "read": _latency_summary(reads),
            # each cycle writes once before its reads, so the cycle
            # index is the number of writes that preceded a read
            "read_slope_s": slope([r["pass"] for r in rest_reads],
                                  [r["latency"] for r in rest_reads]),
        }
    return {"e2e": e2e, "layer": layer, "detail": detail,
            "attempted": len(records), "failed": failed}


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def layer_units() -> dict:
    units = {m: u for m, (_, u) in PER_LAYER.items()}
    units.update({f"setup.{k}": "s" for k in SETUP_LAYERS})
    return units


# -- entry points ----------------------------------------------------
def run_workload(session, name: str, seed: int, seconds: float, tracer,
                 setups) -> dict:
    import workloads
    from oracle import Oracle

    oracle = Oracle(session.fixture_dir)
    try:
        passes = workloads.BUILDERS[name](session.graph, oracle,
                                          random.Random(seed))
        records, pass_times = measure(passes, session.spark, tracer,
                                      seconds)
    finally:
        oracle.close()
    return summarize(name, records, pass_times, setups, session.memory())


def run(args, work: str, host: dict) -> tuple[dict, dict]:
    import fixture
    from spans import NullTracer, SparkTracer

    fixture_dir = os.path.join(work, "fixture")
    marks = [("start", time.monotonic())]
    rows = fixture.generate(fixture_dir, SF)
    marks.append(("fixture", time.monotonic()))
    session = Session(fixture_dir)
    try:
        setups = session.setup(SETUPS)
        marks.append(("setups", time.monotonic()))
        tracer = SparkTracer(session.spark) if args.trace else NullTracer()
        if args.trace:
            tracer.wrap_ram()
        res = run_workload(session, args.workload, args.seed, args.seconds,
                           tracer, setups)
        marks.append(("workload", time.monotonic()))
        host["java"] = session.java_version()
    finally:
        session.close()
    marks.append(("close", time.monotonic()))
    phases = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    if args.trace:
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(
            out, f"spans-{args.workload}-seed{args.seed}.json"))
    detail = dict(res["detail"], seed=args.seed, seconds=args.seconds,
                  trace=args.trace, sf=SF, fixture_rows=rows, host=host,
                  phases_s=phases)
    values = res["layer"] if args.trace else res["e2e"]
    units = layer_units() if args.trace else END_TO_END
    result = {"correct": res["failed"] == 0,
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": _metrics(values, units)}
    return result, detail


def smoke(args, work: str, host: dict) -> int:
    """Every workload once, traced, on a tiny fixture, in one process;
    fails if a declared metric name is missing or if olap or serve
    report a failed operation."""
    import fixture
    from spans import SparkTracer

    fixture_dir = os.path.join(work, "fixture")
    fixture.generate(fixture_dir, SMOKE_SF)
    session = Session(fixture_dir)
    summary = {}
    try:
        setups = session.setup(1)
        tracer = SparkTracer(session.spark)
        tracer.wrap_ram()
        # ingest last: its writes change the graph the others read
        for name in ("olap", "serve", "ingest"):
            res = run_workload(session, name, args.seed, 0, tracer, setups)
            summary[name] = {
                "attempted": res["attempted"], "failed": res["failed"],
                "failures": res["detail"]["failures"],
                "end_to_end": _metrics(res["e2e"], END_TO_END),
                "per_layer": _metrics(res["layer"], layer_units()),
                "per_op": sorted(res["detail"]["per_op"])}
    finally:
        session.close()
    declared = _declared_names()
    problems = []
    for name, s in summary.items():
        for kind in ("end_to_end", "per_layer"):
            missing = declared.get(kind, set()) - set(s[kind])
            if missing:
                problems.append(f"{name}: missing {kind} {sorted(missing)}")
        if name != "ingest" and s["failed"]:
            problems.append(f"{name}: {s['failed']} failed operations")
    print(json.dumps({"smoke": summary, "host": host,
                      "problems": problems}), flush=True)
    return 1 if problems else 0


def _declared_names() -> dict[str, set[str]]:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {k: {m["name"] for m in spec[k]}
            for k in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, f".work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        host = prepare_env(work)
        sys.path.insert(0, ROOT)
        # the package first: it routes pyarrow's allocator before any
        # pyarrow import, and a missing package fails the run here
        import incubator_hugegraph_spark
        if not incubator_hugegraph_spark.__file__.startswith(ROOT):
            raise SystemExit("incubator_hugegraph_spark is not the "
                             f"checkout's own copy under {ROOT}")
        import pyspark
        host["pyspark"] = pyspark.__version__
        if args.smoke:
            return smoke(args, work, host)
        result, detail = run(args, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
