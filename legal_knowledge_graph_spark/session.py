"""SparkSession factory tuned for the KG-construction workload.

Defaults are sized for the sandbox (local[N], single JVM) but every knob
is the one you would set on a real 1000-executor cluster:

- AQE on (runtime coalesce + skew-join splitting): at 100 TB the triple
  and linking joins are skewed by head entities; AQE splits oversized
  post-shuffle partitions without manual tuning.
- Arrow enabled with an explicit ``maxRecordsPerBatch`` so the batched
  pandas-UDF inference stages (mention/triple extraction, embedding)
  get large vectorized batches instead of per-document calls — this is
  the direct replacement for the reference's ``chain.batch(...,
  max_concurrency=k)`` knob (reference:
  src/generate_knowledge_graph/nodes/table_of_contents_extractor.py:71).
- shuffle partitions scale with parallelism; on a real cluster this is
  set to ~2-3x total cores (or left to AQE's coalescing with a high
  initial count).
- Python workers fork from ``worker_daemon``, which stops every task
  from re-reading the unchanged ``pyspark.zip`` directory; the package
  root leads the workers' ``PYTHONPATH`` so the daemon imports from any
  working directory.
- the driver JVM runs one C1 and one C2 JIT compiler thread
  (``JVM_OPTIONS``); see the constant for why.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 4096
DAEMON_MODULE = "legal_knowledge_graph_spark.worker_daemon"
# the directory (or zip) holding the package; every session master is
# local, so the executors see the driver's paths
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# HotSpot gives a 4-vCPU box three JIT compiler threads, two of them C2.
# Warm Spark jobs keep crossing compile thresholds for a long time
# (2,000-3,000 compiles per pass of perfbench's operator suite after
# its warm-up pass), and with two C2 threads that compile CPU was
# large and fell pass by pass: the first timed pass cost 12.7-14.1
# CPU-s and the next 2.9-3.6 s less. With one C2 thread: 11.9-12.4
# CPU-s, then 0.8-1.6 s less (4-vCPU Xeon VM, three seeds each).
# Spark prepends ``spark.driver.defaultJavaOptions`` to the caller's
# ``spark.driver.extraJavaOptions``, so both apply.
JVM_OPTIONS = "-XX:CICompilerCount=2"


def _worker_python_path(caller: str | None) -> str:
    """The package root, then the caller's entries in their order."""
    rest = [p for p in (caller or "").split(os.pathsep) if p and p != PACKAGE_ROOT]
    return os.pathsep.join([PACKAGE_ROOT, *rest])


def get_spark(
    app_name: str = "legal_knowledge_graph_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: enough tasks to keep every core busy through skewed
        # stages, few enough that small-SF test runs aren't dominated by
        # task overhead. AQE coalesces down when partitions are tiny.
        shuffle_partitions = max(2 * cores, 8)

    # local[N, F]: tolerate F-1 task retries like a real cluster
    # (spark.task.maxFailures defaults to 4 on a cluster; plain
    # local[N] aborts the whole job on the FIRST failure). The round-6
    # 400k/800k scaling runs hit intermittent sandbox-level Python
    # worker deaths (different stages each time, no kernel OOM, clean
    # reruns of identical code/data) — on a deterministic workload a
    # retried task recomputes the identical split, so retries are
    # output-safe and only cost time when a failure actually happens.
    task_failures = int(os.environ.get("SPARK_GRAFT_TASK_MAX_FAILURES", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cores},{task_failures}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        # Small dimension tables (entity canonical map, corpus list) are
        # broadcast; 64 MB covers the canonical-entity map at bench SF
        # while staying far below executor memory.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # dump a Python-level traceback if a worker ever dies mid-task
        # (the round-6 intermittent worker deaths were undiagnosable
        # without it); negligible steady-state cost
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.driver.defaultJavaOptions", JVM_OPTIONS)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = _worker_python_path(
        conf.get("spark.executorEnv.PYTHONPATH")
    )
    for k, v in conf.items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()
