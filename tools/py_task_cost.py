"""CPU seconds each Python task costs before it touches a row.

    python3 tools/py_task_cost.py

One local session from ``session.get_spark`` (the engine's settings,
its Python worker daemon included) on every core this process may use
runs three jobs over ``spark.range`` into the ``noop`` sink, at 8 and
at 32 partitions, ``ROWS_PER_TASK`` rows per partition:

- ``jvm``: the range alone, no Python;
- ``mapInPandas``: an identity ``mapInPandas``;
- ``mapInArrow``: an identity ``mapInArrow``.

Each job runs once untimed, then ``REPS`` times; the cheapest CPU
time of the whole process tree (driver, JVM, Python workers; the same
count as perfbench's ``batch_cpu_s``) is kept. A Python job's cost per
task is its CPU time minus the ``jvm`` job's at the same partition
count, divided by the partition count. The last line is the table as
one JSON object.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from run import tree_cpu_s  # noqa: E402

PARTITIONS = (8, 32)
REPS = 5
ROWS_PER_TASK = 1000


def _jobs(spark, parts: int) -> dict:
    df = spark.range(0, parts * ROWS_PER_TASK, numPartitions=parts)

    def identity(batches):
        yield from batches

    return {
        "jvm": df,
        "mapInPandas": df.mapInPandas(identity, df.schema),
        "mapInArrow": df.mapInArrow(identity, df.schema),
    }


def _cpu_s(df) -> float:
    df.write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(REPS):
        t0 = tree_cpu_s()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, tree_cpu_s() - t0)
    return best


def main() -> int:
    from legal_knowledge_graph_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="py-task-cost",
        cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    table = {}
    try:
        print(f"cores={cores} reps={REPS} rows/task={ROWS_PER_TASK}")
        print(f"{'partitions':>10} {'job':>12} {'cpu_s':>8} {'py_cpu_s/task':>14}")
        for parts in PARTITIONS:
            jobs = _jobs(spark, parts)
            cpu = {name: _cpu_s(df) for name, df in jobs.items()}
            for name, c in cpu.items():
                row = table[f"{name}@{parts}"] = {"cpu_s": round(c, 3)}
                shown = ""
                if name != "jvm":
                    row["py_cpu_s_per_task"] = round((c - cpu["jvm"]) / parts, 4)
                    shown = f"{row['py_cpu_s_per_task']:.4f}"
                print(f"{parts:>10} {name:>12} {c:>8.2f} {shown:>14}", flush=True)
    finally:
        spark.stop()
    print(json.dumps(table, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
