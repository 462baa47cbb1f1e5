"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run generates its inputs from the
seed (untimed), starts the Spark session, runs the workload's first
operation (cold cycle / index build), then a closed loop of operations
for ``--seconds``, then the workload's untimed finishing step (the
recall search), checks every output, and prints every metric with
its unit; the last stdout line is the JSON result.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the package's
public functions in spans (see ``spans.py``) and reports the per-layer
metrics instead.  Work files go to ``.perfbench/work`` (removed at the
end); results and spans to ``.perfbench/results``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

# The loop runs for --seconds and at least this many operations.  Its
# first half still warms up (JIT: a probe batch falls from ~3.4 s to
# ~1.7 s over a 15 s loop), so op_p50_s is the median of the second
# half; the whole loop's median is printed as loop_p50_s.
MIN_LOOP_OPS = 4

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# name → unit; every workload reports all of them.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "quality": "ratio",
}
# Printed and stored beside them, but not in the result line: the cold
# first operation is one sample per run, and a host whose other tenants
# take CPUs for a few seconds moves it by more than any bound that could
# still catch a regression (see README.md).
UNITS = {**END_TO_END, "first_op_s": "s"}
SPANS = [
    "session.get_spark",
    "sources.read_table",
    "operators.snapshots",
    "plans.jobs_pipeline",
    "plans.person_assembly",
    "plans.cdc_pipeline",
    "plans.xml_sync",
    "sources.serialization.write",
    "sources.sinks.write",
    "llm.pq.index",
    "llm.pq.ivf_residuals",
    "llm.pq.search",
    "streaming.stores.read",
]
COUNTS = {
    "sources.read_rows": "rows",
    "plans.jobs_pipeline.rows_out": "rows",
    "plans.jobs_pipeline.quarantine_rows": "rows",
    "plans.cdc_pipeline.upserts": "rows",
    "plans.cdc_pipeline.deletes": "rows",
    "sources.serialization.bytes": "bytes",
    "sources.sinks.bytes": "bytes",
    "llm.pq.nlist": "count",
    "llm.pq.nprobe": "count",
    "llm.pq.refine_mult": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for s in SPANS:
        units.update({f"{s}_s": "s", f"{s}.self_s": "s", f"{s}.jobs": "count",
                      f"{s}.shuffle_bytes": "bytes"})
    units.update(COUNTS)
    return units


def tail(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are too few samples for any."""
    ordered = sorted(samples)
    n = len(ordered)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return f"p{p:g}", ordered[min(n - 1, int(n * p / 100))]
    return "max", ordered[-1]


def pin_resources(work: str) -> dict:
    """Pin CPUs, JVM heap and every scratch directory through the
    environment knobs ``session.py`` and Spark read."""
    # two task threads leave the other cores of a small host to the
    # JIT, the collector and the Python process; at these input sizes
    # more threads measured no faster
    cpus = min(2, len(os.sched_getaffinity(0)))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # far below any host's RAM; the workloads' inputs are a few MB
    mem = "512m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the launcher's too, keeps its temp files in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = tmp
    return {"cpus": cpus, "ram_gb": round(ram_gb, 1), "jvm_heap": mem}


def process_tree() -> list[int]:
    """This process and every live descendant."""
    pids, tree = [os.getpid()], []
    while pids:
        pid = pids.pop()
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:
            continue
        tree.append(pid)
        # threads come and go while we read; a vanished one has no children
        for task in tasks:
            try:
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    pids.extend(int(c) for c in fh.read().split())
            except FileNotFoundError:
                continue
    return tree


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this process and of each descendant, by
    command name; the tree's peak is reported as their sum."""
    peaks = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except FileNotFoundError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        peaks[f"{fields['Name'].strip()}-{pid}"] = kb / 1024
    return peaks


def cpu_clock() -> tuple[float, float]:
    """(CPU seconds used by the process tree, seconds of CPU the
    hypervisor stole from this machine).  Differences over an operation
    show whether a slow operation was slow on its own or on a host
    whose other tenants took the CPUs."""
    tick, used = os.sysconf("SC_CLK_TCK"), 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        # utime, stime, and the same of reaped children (Python workers)
        used += sum(int(f) for f in fields[11:15])
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return used / tick, steal / tick


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, waiting for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_workload(name: str):
    if name == "sync_cycle":
        from sync import SyncCycle

        return SyncCycle
    if name == "ann_search":
        from ann import AnnSearch

        return AnnSearch
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description="experts_etl_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark

        import __spark_entry__  # noqa: F401
        import experts_etl_spark  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cls = load_workload(args.workload)
    if cls is None:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    env = pin_resources(work)
    wl = cls(os.path.join(work, "data"), args.seed)

    t = time.perf_counter()
    wl.generate(0)
    gen_s = time.perf_counter() - t

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.wrap("experts_etl_spark.session", "get_spark", "session.get_spark", lazy=False)
        for point in wl.trace_points():
            tracer.wrap(*point)

    from experts_etl_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if tracer:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()  # first-job JIT and class loading belong to set-up
    wl.start(spark)
    setup_s = time.perf_counter() - T0 - gen_s

    durations, cpu_s, items, raised = [], [], [], []

    def run_op(op: int) -> None:
        wl.generate(op)
        if tracer:
            tracer.op = str(op)
        cpu0 = cpu_clock()
        t = time.perf_counter()
        try:
            n = wl.run(op)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            n = 0
            raised.append(op)
        durations.append(time.perf_counter() - t)
        cpu_s.append([b - a for a, b in zip(cpu0, cpu_clock())])
        items.append(n)

    run_op(0)
    loop_start, op = time.perf_counter(), 1
    while op <= MIN_LOOP_OPS or time.perf_counter() - loop_start < args.seconds:
        run_op(op)
        op += 1
    ops = list(range(op))
    if tracer:
        tracer.op = "finish"
    try:
        wl.finish()
    except Exception:  # noqa: BLE001 - fails the first operation, whose output it reads
        traceback.print_exc()
        raised.append(0)

    rss = peak_rss_mb()
    if tracer:
        tracer.attach_spark_counters(spark)
    versions = {
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    stop_spark(spark)

    check_failed, quality = wl.verify([o for o in ops if o not in raised])
    failed = sorted(set(raised) | set(check_failed))
    loop_d, loop_n = durations[1:], items[1:]
    warm = len(loop_d) // 2 + 1  # the first op of the warm half
    tail_name, tail_v = tail(loop_d)
    e2e = {
        "setup_s": setup_s,
        "first_op_s": durations[0],
        "op_p50_s": statistics.median(durations[warm:]),
        "peak_rss_mb": sum(rss.values()),
        "quality": quality,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, **versions, "generate_s": gen_s,
        "loop_ops": len(loop_d), "warm_ops": len(durations[warm:]),
        "loop_p50_s": statistics.median(loop_d), "op_tail": f"{tail_name} = {tail_v:.6g} s",
        f"{wl.item}_per_s": sum(loop_n) / sum(loop_d),
        "attempted": len(ops), "failed": len(failed),
        "failed_ratio": len(failed) / len(ops), "peak_rss_by_process": rss,
        "op_seconds": durations,
        "op_cpu_seconds": [c for c, _ in cpu_s],
        "op_host_steal_seconds": [st for _, st in cpu_s],
    }
    for k, v in info.items():
        if not k.startswith("op_") or k == "op_tail":
            print(f"info {k} = {v}")
    for k, v in e2e.items():
        alias = wl.aliases.get(k)
        kind = "end_to_end" if k in END_TO_END else "info"
        print(f"{kind} {k} = {v:.6g} {UNITS[k]}" + (f"  ({alias})" if alias else ""))

    tag = f"{args.workload}-seed{args.seed}"
    if tracer:
        layer = per_layer_units()
        values = tracer.summarize([str(o) for o in ops[warm:]])
        metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in layer.items()}
        for k, m in metrics.items():
            print(f"per_layer {k} = {m['value']:.6g} {m['unit']}")
        overhead = {}
        untraced = os.path.join(results, f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base_e2e = json.load(fh)["end_to_end"]
            overhead = {k: e2e[k] - base_e2e[k] for k in e2e if k in base_e2e}
            for k, v in overhead.items():
                print(f"trace_overhead {k} = {v:+.6g} {UNITS[k]}")
        tracer.dump(os.path.join(results, f"{tag}-spans.json"),
                    {"info": info, "end_to_end": e2e, "trace_overhead": overhead})
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "end_to_end": e2e, "metrics": metrics}, fh)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
