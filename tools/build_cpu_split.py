"""Where the CPU time of a warm build goes.

    python3 tools/build_cpu_split.py

One local session from ``session.get_spark`` (the engine's settings,
driver memory ``SPARK_DRIVER_MEM`` or 3g as in perfbench) on every
core this process may use writes ``PAGES`` seeded pages for a warm-up
seed and for the measured seed to parquet, builds the warm-up pages
once untimed, then builds the measured pages into an empty workdir
(perfbench's ``build_query`` build) and prints, for that build:

- CPU seconds by process: the driver (this Python process), the JVM,
  and the Python workers (every descendant of the JVM, counting the
  workers it has reaped);
- the JVM's CPU seconds by thread group, read from
  ``/proc/<jvm>/task/*``: the JIT compiler threads
  (``C1/C2 CompilerThread*``), the executor task threads
  (``Executor task launch worker*``) and the rest (py4j planning, GC,
  and threads that exited during the build);
- the number of Spark jobs the build ran (it runs in one job group);
- the number of Janino compiles (the count of Spark's
  ``CodegenMetrics`` compilation-time histogram).

The last line is the table as one JSON object.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from run import _descendants, _proc_table  # noqa: E402

PAGES = 500
SEED = 1
TICK = os.sysconf("SC_CLK_TCK")
JOB_GROUP = "build-cpu-split"


def _stat_ticks(path: str) -> tuple[int, int]:
    """(own, reaped children's) user + system ticks from a ``stat``
    file of ``/proc``."""
    with open(path) as f:
        stat = f.read()
    rest = stat[stat.rindex(")") + 2 :].split()
    return int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def _comm(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def _thread_group(name: str) -> str:
    if "CompilerThre" in name:
        return "compiler"
    if name.startswith("Executor task"):
        return "executor_task"
    return "other"


def _snapshot() -> dict[str, float]:
    """CPU seconds used so far by the driver, the JVM (split by thread
    group) and the Python workers."""
    me = os.getpid()
    table = _proc_table()
    tree = _descendants(me, table)
    jvm = next(p for p in tree if _comm(f"/proc/{p}/comm") == "java")
    own, reaped = _stat_ticks(f"/proc/{jvm}/stat")
    out = {"driver": sum(_stat_ticks(f"/proc/{me}/stat")), "jvm": own, "compiler": 0, "executor_task": 0}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            group = _thread_group(_comm(f"/proc/{jvm}/task/{tid}/comm"))
            ticks = _stat_ticks(f"/proc/{jvm}/task/{tid}/stat")[0]
        except OSError:  # the thread ended
            continue
        if group != "other":
            out[group] += ticks
    out["python_workers"] = reaped + sum(table[p][2] for p in _descendants(jvm, table))
    return {k: v / TICK for k, v in out.items()}


def main() -> int:
    from legal_knowledge_graph_spark.datagen import generate_pages
    from legal_knowledge_graph_spark.pipeline import run_pipeline
    from legal_knowledge_graph_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    spark = get_spark(
        app_name="build-cpu-split",
        cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc, jvm = spark.sparkContext, spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tmp = tempfile.mkdtemp(prefix="build-cpu-split-")
    try:
        pages = {}
        for seed in (f"warmup:{SEED}", SEED):
            path = os.path.join(tmp, f"pages-{seed}")
            generate_pages(spark, PAGES, seed).write.parquet(path)
            pages[seed] = spark.read.parquet(path)
        run_pipeline(spark, pages[f"warmup:{SEED}"], os.path.join(tmp, "kg-warmup"))

        sc.setJobGroup(JOB_GROUP, JOB_GROUP)
        c0, t0, n0 = _snapshot(), time.perf_counter(), compiles.getCount()
        run_pipeline(spark, pages[SEED], os.path.join(tmp, "kg"))
        wall_s = time.perf_counter() - t0
        c1, n1 = _snapshot(), compiles.getCount()
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = len(sc.statusTracker().getJobIdsForGroup(JOB_GROUP))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    cpu = {k: round(c1[k] - c0[k], 2) for k in c0}
    cpu["jvm_other"] = round(cpu["jvm"] - cpu["compiler"] - cpu["executor_task"], 2)
    cpu["total"] = round(cpu["driver"] + cpu["jvm"] + cpu["python_workers"], 2)
    table = {"cores": cores, "pages": PAGES, "wall_s": round(wall_s, 2), "cpu_s": cpu,
             "spark_jobs": jobs, "janino_compiles": n1 - n0}
    print(f"warm {PAGES}-page build on {cores} cores: {wall_s:.1f} s wall, {cpu['total']:.1f} CPU-s")
    for name in ("driver", "jvm", "python_workers"):
        print(f"  {name:<16} {cpu[name]:>7.2f} CPU-s")
    for name in ("compiler", "executor_task", "jvm_other"):
        print(f"    jvm {name:<12} {cpu[name]:>7.2f} CPU-s")
    print(f"  spark jobs       {jobs:>7}")
    print(f"  janino compiles  {n1 - n0:>7}")
    print(json.dumps(table, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
