"""Repo benchmark: seeded workloads over the engine's public functions.

Run from the repository root:

    python3 perfbench/run.py --workload etm_batch --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones from a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Warm jobs timed in a run, at the least.
MIN_WARM = 3
# Driver heap, fixed (-Xms = -Xmx). With the engine's 8g default, G1 grows
# the heap by GC timing, and the JVM's peak RSS then spreads 25% from run to
# run. 2g is about what the heap grows to at the default on these jobs.
HEAP = "2g"
# Layers whose Spark counters a traced job reports (session counters come
# from the set-up instead).
JOB_LAYERS = ("extract", "functions", "pipeline", "sources", "vsdb", "linkage", "llm.dedup")


def _identity(batches):
    yield from batches


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(user, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[1]) + int(f[2]), int(f[8])


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def configure_env(workdir: str, n: int) -> None:
    """Pin parallelism and point every scratch file into ``workdir``.
    Must run before the JVM starts: spark-submit reads these."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


class Session:
    """The benchmark's SparkSession. Set-up launches the JVM, so its time
    includes what every user of the engine pays once."""

    def __init__(self, n: int, workdir: str, trace: bool, run_id: str):
        self.n, self.workdir, self.trace, self.run_id = n, workdir, trace, run_id
        self.spark = None
        self.start_s = self.warm_s = float("nan")
        self.tracer = None

    def start(self) -> None:
        from sig_etl_spark.session import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}",
            },
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(self.spark, self.trace, f"{self.run_id}-setup")
        with tracer.span("session.warm", "session"):
            self.spark.range(1000).selectExpr("sum(id)").collect()
            self.spark.range(self.n * 8, numPartitions=self.n).mapInPandas(
                _identity, "id long").collect()
        self.start_s, self.warm_s = t1 - t0, time.perf_counter() - t1
        tracer.collect_counters()
        self.tracer = tracer

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# Per-layer time metrics that split a traced job into disjoint parts; their
# sum can exceed the job's wall time only if two of them count the same time.
LAYER_TIMES = (
    "extract.self_s", "extract.key_scan_s", "functions.self_s",
    "pipeline.checkpoint_write_s", "pipeline.reentry_read_s", "sources.read_csv_s",
    "vsdb.params_s", "vsdb.candidates_s", "linkage.self_s",
    "llm.dedup.exact_s", "llm.dedup.minhash_s", "llm.dedup.lsh_s",
    "llm.dedup.components_s", "llm.dedup.canonical_s",
)


def layer_report(tracer, wl, spark, res, traced_wall: float, untraced: float) -> dict:
    """Per-layer metrics of the traced job (0 for a layer the workload
    does not run)."""
    tracer.collect_counters()
    m = {
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced,
        "extract.self_s": sum(tracer.self_time(s) for s in tracer.by_name("extract")),
        "functions.self_s": tracer.layer_self("functions"),
        "sources.read_csv_s": tracer.layer_self("sources"),
        "linkage.self_s": tracer.layer_self("linkage"),
    }
    m.update(wl.layer_metrics(spark, tracer, res))
    for layer in JOB_LAYERS:
        for k, v in tracer.layer_counters(layer).items():
            m[f"{layer}.{k}"] = v
    return m


def trace_faults(tracer, report: dict, wall: float) -> list[str]:
    """Spans must be closed and nested in their parents, and the layer time
    metrics must not add up to more than the traced job took."""
    faults = []
    by_id = {s.span_id: s for s in tracer.spans}
    for s in tracer.spans:
        if s.end < s.start:
            faults.append(f"span {s.name} was never closed")
        p = by_id.get(s.parent)
        if p is not None and not (p.start <= s.start and s.end <= p.end):
            faults.append(f"span {s.name} is not inside its parent {p.name}")
    total = sum(report.get(k, 0) for k in LAYER_TIMES)
    if total > wall:
        faults.append(f"layer times sum to {total:.3f} s, more than the traced job's {wall:.3f} s")
    return faults


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    n = nproc()
    run_id = uuid.uuid4().hex[:12]
    workroot = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(workroot, f"{os.getpid()}-{run_id}")
    configure_env(workdir, n)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import workloads  # imports the engine
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(workdir, "tmp"))

    from spans import Tracer, dump_spans

    wl = workloads.WORKLOADS[args.workload](os.path.join(workdir, "inputs"), args.seed)
    session = Session(n, workdir, bool(args.trace), run_id)
    attempted = failed = 0
    quality: set[tuple[float, float]] = set()

    def iteration(tag: str, trace: bool) -> tuple[float, object, object]:
        """One job plus its output checks; returns (wall, tracer, result)."""
        nonlocal attempted, failed
        spark = session.spark
        spark.catalog.clearCache()
        tracer = Tracer(spark, trace, f"{run_id}-{tag}")
        wd = os.path.join(workdir, "jobs", tag)
        attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("run", "run"):
                res = wl.run(spark, tracer, wd)
            wall = time.perf_counter() - t0
            fails, precision, recall = wl.check(spark, res)
        except Exception:
            traceback.print_exc()
            failed += 1
            return float("nan"), None, None
        if fails:
            print(f"perfbench: {tag}: output check failed: {fails}", file=sys.stderr)
            failed += 1
        quality.add((precision, recall))
        return wall, tracer, res

    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        session.start()

        # The first job after set-up runs cold (JIT, codegen caches and
        # worker imports not yet warm); it is checked and its time goes to
        # the stamp. Warm jobs then run back to back for the window, at
        # least MIN_WARM of them; wall_s is their median, so a burst of
        # load from other guests on the host moves one job, not the run.
        # A traced run then runs one traced job.
        user0, steal0 = cpu_ticks()
        cold_s, _, _ = iteration("cold", False)
        warm: list[float] = []
        window_end = time.perf_counter() + args.seconds
        while len(warm) < MIN_WARM or time.perf_counter() < window_end:
            w, _, _ = iteration(f"warm{len(warm)}", False)
            warm.append(w)
        done = [w for w in warm if w == w]
        wall_s = statistics.median(done) if done else float("nan")
        if args.trace:
            wall, tracer, res = iteration("traced", True)
            if tracer is not None:
                report = layer_report(tracer, wl, session.spark, res, wall, wall_s)
                faults = trace_faults(tracer, report, wall)
                if faults:
                    print(f"perfbench: traced job: {faults}", file=sys.stderr)
                    failed += 1
                shares = {layer: round(tracer.layer_self(layer) / wall, 4)
                          for layer in ("run",) + JOB_LAYERS}
                tracer.release()
        user1, steal1 = cpu_ticks()
        rss_py, rss_jvm = vm_hwm_kb("self") / 1024.0, vm_hwm_kb(session.jvm_pid()) / 1024.0
        java = session.spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        session.stop()
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.isdir(workroot) and not os.listdir(workroot):
            os.rmdir(workroot)

    # Every job of a run works on the same inputs: precision and recall
    # must agree.
    precision, recall = min(quality) if quality else (0.0, 0.0)
    if len(quality) > 1:
        print(f"perfbench: precision/recall changed between jobs: {sorted(quality)}",
              file=sys.stderr)
        failed += 1
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": n, "pyspark": pyspark.__version__, "java": java,
        "python": platform.python_version(),
        "steal_user_ratio": (steal1 - steal0) / max(user1 - user0, 1),
        "gen_s": gen_s, "input_records": wl.records,
        "cold_job_s": cold_s,
        "warm_jobs_s": warm,
        "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm},
        "failed_frac": failed / max(attempted, 1),
    }
    if args.trace:
        spans_path = os.path.join(workroot, f"spans-{args.workload}-{args.seed}.jsonl")
        os.makedirs(workroot, exist_ok=True)
        dump_spans([session.tracer] + ([tracer] if tracer is not None else []), spans_path)
        stamp["spans"] = os.path.relpath(spans_path, ROOT)
        per = {"session.start_s": session.start_s, "session.warm_s": session.warm_s}
        for k, v in session.tracer.layer_counters("session").items():
            per[f"session.{k}"] = v
        if tracer is not None:
            stamp["traced_share"] = shares
            stamp["traced_layer_times_s"] = sum(report.get(k, 0) for k in LAYER_TIMES)
        for name in (m["name"] for m in spec["per_layer"]):
            if name not in per:
                per[name] = report.get(name, 0) if tracer is not None else 0.0
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        per = {
            "setup_s": session.start_s + session.warm_s,
            "wall_s": wall_s,
            "records_per_s": wl.records / wall_s,
            "precision": precision,
            "recall": recall,
            "peak_rss_mb": rss_py + rss_jvm,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print("perfbench stamp " + json.dumps(stamp))
    for name, value in per.items():
        print(f"perfbench {args.workload} {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # A failed job leaves NaN behind; the result is then incorrect anyway.
        "metrics": {k: {"value": float(v) if v == v else 0.0, "unit": units[k]}
                    for k, v in per.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
