"""Python-worker CPU per trivial task, for both of a session's worker pools.

A session runs two PySpark daemons: one serves plain PythonRDD tasks
(`sc.parallelize(...).map`), the other SQL Python operators (here
`mapInPandas`). Each trivial task reports its worker's pid and
`time.process_time()`; with reused workers, the CPU a worker spent between
two of its reports is what one task costs beyond its own (empty) work.

Prints one JSON line: per pool, the median worker CPU per task in ms and
whether the workers run the stat-checked zip cache invalidation (see
elasticsearch_eslib_spark/pydaemon.py). A pyspark or CPython upgrade that
brings the per-task zip re-read back shows up here as ~200 ms per task.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import zipimport

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elasticsearch_eslib_spark.config import get_spark  # noqa: E402

TASKS = 4    # tasks per job, one per local core
ROUNDS = 8   # timed jobs per pool


def _probe(_=None):
    return (os.getpid(), time.process_time(),
            hasattr(zipimport.zipimporter.invalidate_caches, "stat_checked"))


def _probe_frames(batches):
    import pandas as pd

    for _ in batches:
        pass
    pid, cpu, checked = _probe()
    yield pd.DataFrame({"pid": [pid], "cpu": [cpu], "checked": [checked]})


def _ms_per_task(reports) -> float:
    """Median over workers of CPU between a worker's consecutive reports."""
    by_pid = {}
    for pid, cpu, _ in reports:
        by_pid.setdefault(pid, []).append(cpu)
    deltas = [(b - a) * 1e3 for cpus in by_pid.values()
              for a, b in zip(cpus, cpus[1:])]
    return round(statistics.median(deltas), 1) if deltas else float("nan")


def main() -> None:
    spark = get_spark("pytask-cost", master=f"local[{TASKS}]",
                      shuffle_partitions=TASKS)
    sc = spark.sparkContext
    frame = spark.range(TASKS, numPartitions=TASKS)
    pools = {
        "rdd": lambda: sc.parallelize(range(TASKS), TASKS)
        .map(_probe).collect(),
        "sql": lambda: [tuple(r) for r in frame.mapInPandas(
            _probe_frames, "pid long, cpu double, checked boolean").collect()],
    }
    out = {"python": sys.version.split()[0], "tasks": TASKS}
    try:
        for name, run in pools.items():
            run()  # start the pool's workers and import their modules
            reports = [r for _ in range(ROUNDS) for r in run()]
            out[f"{name}_ms_per_task"] = _ms_per_task(reports)
            out[f"{name}_stat_checked"] = all(r[2] for r in reports)
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
