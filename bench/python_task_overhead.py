"""Fixed cost of one Python task, with and without aarhus_spark loaded.

Times a warm no-op ``groupBy().applyInPandas`` over a 25-row
LocalRelation at local[1], so every call runs its one Python task in the
same reused worker: first while that worker has not imported
aarhus_spark, then again after one task has imported it. On CPython <
3.13 PySpark's worker calls ``importlib.invalidate_caches()`` before
every task, which re-reads the directory of every zip archive on
sys.path (about 16 importers over pyspark.zip); importing aarhus_spark
installs ``aarhus_spark._zipcache``, which skips unchanged archives.

Per call it records the driver's wall time and the worker's CPU time,
the change in the worker's ``time.process_time()`` since the previous
call. Writes ``BENCH/python_task_overhead_r10.json`` and prints it as
one JSON line.

Usage: python bench/python_task_overhead.py [reps]
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "BENCH", "python_task_overhead_r10.json")
SCHEMA = "pid long, cpu_s double, engine boolean, wrapped boolean"


def noop(pdf):
    """The task body: report the worker's state, do nothing else."""
    import os
    import sys
    import time
    import zipimport

    import pandas as pd
    return pd.DataFrame({
        "pid": [os.getpid()], "cpu_s": [time.process_time()],
        "engine": ["aarhus_spark" in sys.modules],
        "wrapped": [getattr(zipimport.zipimporter.invalidate_caches,
                            "_aarhus_keeps_unchanged", False)]})


def load_engine(pdf):
    import aarhus_spark  # noqa: F401  (installs the zip-directory cache)
    return noop(pdf)


def calls(df, fn, reps: int) -> list[tuple[float, object]]:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        row = df.groupBy("g").applyInPandas(fn, SCHEMA).collect()[0]
        out.append((time.perf_counter() - t0, row))
    return out


def summary(runs: list[tuple[float, object]]) -> dict:
    """Median wall and worker CPU per call; CPU needs the previous call
    in the same worker, so the first call gives none."""
    rows = [r for _, r in runs]
    cpu = [b["cpu_s"] - a["cpu_s"] for a, b in zip(rows, rows[1:])
           if a["pid"] == b["pid"]]
    return {
        "calls": len(runs),
        "workers": sorted({r["pid"] for r in rows}),
        "engine_loaded": all(r["engine"] for r in rows),
        "wrapper_installed": all(r["wrapped"] for r in rows),
        "wall_ms_median": round(statistics.median(w for w, _ in runs) * 1e3, 1),
        "wall_ms": [round(w * 1e3, 1) for w, _ in runs],
        "worker_cpu_ms_median": round(statistics.median(cpu) * 1e3, 1) if cpu else None,
        "worker_cpu_ms": [round(c * 1e3, 1) for c in cpu],
    }


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import pyarrow as pa
    import pyspark
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("python-task-overhead").master("local[1]")
             .config("spark.sql.shuffle.partitions", "1")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    df = spark.createDataFrame(pa.table({"g": [0] * 25, "x": list(range(25))}))
    try:
        calls(df, noop, 3)                      # warm the JVM and the worker
        before = calls(df, noop, reps)
        calls(df, load_engine, 1)
        calls(df, noop, 2)                      # first invalidation records the keys
        after = calls(df, noop, reps)
    finally:
        spark.stop()
    res = {
        "what": "warm no-op applyInPandas over a 25-row LocalRelation at local[1]",
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "cpus": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg()[0],
        "worker_without_engine": summary(before),
        "worker_with_engine": summary(after),
    }
    assert not res["worker_without_engine"]["engine_loaded"]
    assert res["worker_with_engine"]["engine_loaded"]
    with open(OUT, "w") as f:
        json.dump(res, f, indent=1)
        f.write("\n")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
