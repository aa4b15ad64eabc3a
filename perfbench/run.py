"""aarhus_spark benchmark.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts one Spark session at
local[nproc], builds the seeded corpus's index, drives one workload
(``retrieval`` or ``analytics``) from one client thread for
``--seconds``, checks every result and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the span tree is written under
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("retrieval", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of all CPUs from /proc/stat; given an
    earlier reading, the share of CPU time the hypervisor took since."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def driver_heap_mb(ram: float) -> int:
    """A quarter of RAM, capped at 768 MB: the corpus needs little, and
    every heap page the JVM first touches is a page fault, which virtual
    machines can make slow."""
    return int(min(768, ram / 4))


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Peak resident set (VmHWM) of each process, in MB."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024
        except OSError:
            continue
    return out


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def start_spark(work: str, cores: int, heap_mb: int):
    from aarhus_spark.session import get_spark
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session and its JVM, then wait for every process the run
    started (JVM, Python worker daemon and workers) to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "aarhus_spark", "__init__.py")):
        print(f"perfbench: no aarhus_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores, ram = nproc(), ram_mb()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers keep freed memory instead of returning it to the
    # kernel, so steady-state calls do not fault pages in again
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    sys.path.insert(0, ROOT)
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": cores, "ram_mb": round(ram),
             "driver_heap_mb": driver_heap_mb(ram), "loadavg_before": loadavg(),
             "python": platform.python_version()}

    from perfbench import workloads as W

    spark = None
    try:
        t0 = time.time()
        spark = start_spark(work, cores, driver_heap_mb(ram))
        stamp["spark"] = spark.version
        stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        b = W.Bench(spark, work, args.seed, cores, bool(args.trace))
        W.setup(b, args.workload)
        setup_s = time.time() - t0
        gc0 = jvm_gc_s(spark)
        t_run = time.time()
        steal0 = cpu_steal()
        W.run_window(b, args.workload, args.seconds)
        stamp["window_steal_frac"] = cpu_steal(steal0)
        problems = []
        if args.trace:
            W.sweep(b)
            probe_values, problems = W.run_probes(b)
        wall_s = time.time() - t_run
        gc_s = jvm_gc_s(spark) - gc0
        rss = peak_rss_mb(descendants(os.getpid()))
        stamp["peak_rss_mb_by_pid"] = rss
        e2e = W.end_to_end(b, setup_s, sum(rss.values()))
        metrics = W.per_layer(b, probe_values, gc_s, wall_s) if args.trace else e2e
    finally:
        if spark is not None:
            stop_spark(spark, descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
    stamp["loadavg_after"] = loadavg()
    failed = [c for c in b.calls if c.problems]
    result = {
        "correct": not failed and not problems,
        "attempted": len(b.calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"stamp": stamp, "result": result,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "extra": b.extra,
              "calls": [c.__dict__ for c in b.calls],
              "failures": [f"{c.layer}.{c.op}: {c.problems}" for c in failed] + problems,
              "spans": b.tracer.close()}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({"stamp": stamp}))
    for line in record["failures"][:20]:
        print("FAILED", line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
