"""Seeded benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload build_query --seed 1 --seconds 5 --trace 0

Workloads (README.md says why each was chosen, what it bypasses, and
the runs behind its sizes and settings):

- ``build_query``: one ``run_pipeline`` build of a seeded pages table,
  then a closed loop of graph-tool sessions (reopen + Q1-Q5) on it;
- ``operator_suite``: a warm pass and then timed passes over the
  query leaves listed in ``metrics.SUITE_LEAVES``, one per operator
  module, on seeded sf-shaped tables.

The run is one process with one local SparkSession on every core the
process may use. Inputs come from ``--seed`` alone. All scratch files
go under ``.perfbench_work/`` in the repository and are removed when
the run ends, failed or not. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "legal_knowledge_graph_spark"
DEFAULT_DRIVER_MEM = "3g"


@dataclass
class Ctx:
    """What a workload gets: the session, its arguments, a scratch
    directory and the tracer."""

    spark: object
    seed: int
    seconds: float
    tiny: bool
    work: str
    cores: int
    session_s: float
    tracer: object

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds this run's processes have used so far; the
        difference of two readings is the CPU time of what ran between
        them."""
        return tree_cpu_s()


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, state, CPU ticks) of every visible process. The
    ticks are the user and system time of the process and of the
    children it has reaped."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), rest[0], sum(map(int, rest[11:15])))
    return out


def _descendants(root: int, table: dict[int, tuple[int, str, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers). A descendant that exits is still
    counted once its parent, itself in the tree, has reaped it, which the
    JVM and the Python worker daemon do.

    The workloads report CPU time, not wall time, for the timed work:
    on the shared 4-vCPU reference box another tenant's load stretched a
    warm build's wall time by up to 30% and its CPU time by under 10%
    (README.md)."""
    me = os.getpid()
    table = _proc_table()
    return sum(table[p][2] for p in (me, *_descendants(me, table))) / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared by k
    processes counted 1/k in each, so a sum over processes counts the
    pages Python workers share with the daemon they forked from once.

    The JVM's PSS is read as its RSS: no other process of the tree
    shares its pages (the two differ by under 0.5%), and reading its
    ``smaps_rollup`` walks every page of a multi-GB heap under the JVM's
    memory-map lock, which took about 17 ms a read and stalled the JVM
    while it ran."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            jvm = f.read().strip() == "java"
        with open(f"/proc/{pid}/status" if jvm else f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("VmRSS:" if jvm else "Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended
        pass
    return 0


class MemSampler:
    """Samples the summed PSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak. A sample walks
    ``/proc`` and reads each Python process's ``smaps_rollup``, about
    15 ms of CPU with ten workers, so it runs once a second: every 0.25 s
    it took 6% of a core from the run it measures."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pids = [me, *_descendants(me, _proc_table())]
        self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_bytes / 1e6


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs; a run that lost much of it reads slow."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _point_env(work: str) -> dict[str, str]:
    """Point every path the run writes into ``work`` and put the repo
    root on the Python path of the driver and of Spark's workers (the
    workers import the package by name and start from the JVM's
    environment, not from this process's ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    py_path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONPATH"] = py_path
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    tempfile.tempdir = None
    for p in (os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.executorEnv.PYTHONPATH": py_path,
        "spark.ui.showConsoleProgress": "false",
        # keep every job of the run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(os.getpid(), _proc_table())
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        table = _proc_table()
        alive = [p for p in started if p in table and table[p][1] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _workloads():
    import graph
    import suite

    return {"build_query": graph.run, "operator_suite": suite.run}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build_query", "operator_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--size",
        choices=["full", "tiny"],
        default="full",
        help="tiny: a few hundred pages/rows, for the self-check",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from metrics import COMMON_LAYER, END_TO_END, LAYER_GROUPS, layer_units
    from tracer import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sampler = MemSampler()
    spark = None
    try:
        os.makedirs(work)
        conf = _point_env(work)
        sampler.start()
        from legal_knowledge_graph_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        settings = {
            "master": spark.sparkContext.master,
            "cores": cores,
            "driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "size": args.size,
        }
        print("settings " + json.dumps(settings), flush=True)
        ctx = Ctx(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            tiny=args.size == "tiny",
            work=work,
            cores=cores,
            session_s=session_s,
            tracer=Tracer(spark.sparkContext, bool(args.trace)),
        )
        steal0 = _steal_s()
        res = _workloads()[args.workload](ctx)
        steal_s = _steal_s() - steal0
        peak_mb = sampler.stop()
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print("info " + json.dumps({**res.info, "steal_s": steal_s}, sort_keys=True), flush=True)
    if args.trace:
        units = layer_units()
        values = {**res.layer, "setup.session_s": ctx.session_s, "host.steal_s": steal_s}
        missing = sorted((set(LAYER_GROUPS[args.workload]) | set(COMMON_LAYER)) - set(values))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        for workload, group in LAYER_GROUPS.items():
            if workload != args.workload:
                values.update(dict.fromkeys(group, 0))
    else:
        units = END_TO_END
        values = {**res.end_to_end, "peak_pss_mb": peak_mb}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(
        json.dumps(
            {
                "correct": bool(res.correct),
                "attempted": int(res.attempted),
                "failed": int(res.failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
