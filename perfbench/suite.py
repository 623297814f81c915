"""``operator_suite`` workload: the query leaves of ``metrics.SUITE_LEAVES``.

Set-up writes the seeded sf-shaped ``documents`` and ``embeddings``
tables the leaves read, with the generator functions of
``tools/gen_bench_sf.py`` and ``np.random.default_rng(seed)`` (three
times; ``setup_s`` is the median), then makes one warm pass in which
every leaf's output is fingerprinted. The timed part is whole passes
over the leaves, repeated until ``--seconds`` have passed (at least
one). A timed pass consumes each leaf's output with the same
fingerprint aggregate as the warm pass, so the warm pass compiled
exactly the plans that are timed (a ``noop``-sink pass after it ran
10-20% slower and varied more), and each timed output is checked
against the warm pass's fingerprint. Leaf outputs are at most a few
thousand rows, so the aggregate adds little. As on ``build_query``,
times are CPU time of the process tree: ``batch_cpu_s`` is the median
CPU time of a pass, ``op_cpu_geomean_ms`` the geometric mean of each
leaf's median CPU time per call, and ``rows_per_cpu_s`` the leaves' total
output rows per CPU second of a pass. A traced run makes at least two
passes and traces every other one; ``trace.overhead_pct`` compares the
two kinds.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from metrics import SUITE_LEAVES, Result
from tracer import overhead_pct

FULL_SF = 0.1
TINY_SF = 0.002
SETUP_REPS = 3


def _write_tables(spark, path: str, seed: int, sf: float) -> None:
    """The tables the leaves read, sized like gen_bench_sf's sf tables,
    each read back once to check its row count."""
    import numpy as np

    import gen_bench_sf as g

    os.makedirs(path)
    mult = sf / 0.1  # gen_bench_sf sizes are relative to sf0.1
    rng = np.random.default_rng(seed)
    tables = {
        "documents": g.gen_documents(rng, int(5000 * mult)),
        "embeddings": g.gen_embeddings(rng, int(2000 * mult)),
    }
    for name, pdf in tables.items():
        pdf.to_parquet(f"{path}/{name}.parquet")
        if spark.read.parquet(f"{path}/{name}.parquet").count() != len(pdf):
            raise RuntimeError(f"{name} table has the wrong row count")


def _pass(ctx, leaves: dict, data: str) -> tuple[dict, dict, dict, list[str]]:
    """Run every leaf once with its output consumed by the
    order-insensitive fingerprint aggregate; returns per-leaf
    fingerprints, wall seconds and CPU seconds, and the leaves that
    raised."""
    from bench_scaling import _fingerprint

    fps, secs, cpu, errors = {}, {}, {}, []
    for name, fn in leaves.items():
        with ctx.tracer.span(f"suite.{name}"):
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            try:
                r = _fingerprint(fn(ctx.spark, data))
            except Exception:  # a failing leaf is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                errors.append(name)
                continue
            secs[name] = time.perf_counter() - t0
            cpu[name] = ctx.cpu_s() - c0
        fps[name] = [str(r["s"]), int(r["n"])]
    return fps, secs, cpu, errors


def run(ctx):
    from legal_knowledge_graph_spark import entry_queries

    spark, tracer = ctx.spark, ctx.tracer
    leaves = {name: getattr(entry_queries, f"q_{name}") for name in SUITE_LEAVES}

    # ---- set-up: seeded tables, then an untimed warm pass
    setup_times = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        data = ctx.path(f"sf{i}")
        _write_tables(spark, data, ctx.seed, TINY_SF if ctx.tiny else FULL_SF)
        setup_times.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    tracer.paused = True
    fingerprints, _, _, errors = _pass(ctx, leaves, data)
    warmup_s = time.perf_counter() - t0
    attempted = len(leaves)
    failed = len(errors)
    empty = sorted(n for n, (_, rows) in fingerprints.items() if rows == 0)
    failed += len(empty)

    # ---- timed: whole passes; each leaf's output must fingerprint as
    # it did in the warm pass
    pass_s: list[float] = []
    pass_cpu_s: list[float] = []
    traced_pass_s: dict[bool, list[float]] = {True: [], False: []}
    leaf_s: dict[str, list[float]] = defaultdict(list)
    leaf_cpu_s: dict[str, list[float]] = defaultdict(list)
    mismatched: set[str] = set()
    deadline = time.perf_counter() + ctx.seconds
    while len(pass_s) < (2 if tracer.enabled else 1) or time.perf_counter() < deadline:
        tracer.paused = len(pass_s) % 2 == 0
        c_pass, t_pass = ctx.cpu_s(), time.perf_counter()
        fps, secs, cpu, errors = _pass(ctx, leaves, data)
        pass_s.append(time.perf_counter() - t_pass)
        pass_cpu_s.append(ctx.cpu_s() - c_pass)
        traced_pass_s[not tracer.paused].append(pass_s[-1])
        attempted += len(leaves)
        bad = {n for n in fps if fps[n] != fingerprints.get(n)}
        failed += len(errors) + len(bad)
        mismatched |= bad
        for name, t in secs.items():
            leaf_s[name].append(t)
            leaf_cpu_s[name].append(cpu[name])
    tracer.paused = False

    batch_cpu_s = statistics.median(pass_cpu_s)
    out_rows = sum(rows for _, rows in fingerprints.values())
    end_to_end = {
        "batch_cpu_s": batch_cpu_s,
        "rows_per_cpu_s": out_rows / batch_cpu_s,
        "op_cpu_geomean_ms": statistics.geometric_mean(
            statistics.median(v) * 1000 for v in leaf_cpu_s.values()
        ),
        "setup_s": statistics.median(setup_times),
    }
    info = {
        "workload": "operator_suite",
        "sf": TINY_SF if ctx.tiny else FULL_SF,
        "passes": len(pass_s),
        "phase_s": {"warmup": warmup_s, "timed": sum(pass_s)},
        "pass_s": pass_s,
        "fingerprints": fingerprints,
        "empty_outputs": empty,
        "mismatched": sorted(mismatched),
        "leaf_ms": {n: round(statistics.median(v) * 1000, 1) for n, v in leaf_s.items()},
        "leaf_cpu_ms": {n: round(statistics.median(v) * 1000, 1) for n, v in leaf_cpu_s.items()},
    }
    layer = {}
    if tracer.enabled:
        stats, task_failures = tracer.job_stats()
        layer = {"spark.task_failures": task_failures}
        task_s: dict[str, float] = defaultdict(float)
        for name in leaves:
            layer[f"suite.{name}.s"] = statistics.median(
                s.wall_s for s in tracer.named(f"suite.{name}")
            )
        n_traced = len(traced_pass_s[True])
        for span in tracer.spans:
            leaf = span.name.removeprefix("suite.")
            task_s[SUITE_LEAVES[leaf]] += stats[span.group].task_s / n_traced
        layer.update({f"suite.{m}.task_s": v for m, v in task_s.items()})
        layer["setup.warmup_s"] = warmup_s
        layer["trace.hook_ms"] = tracer.hook_s * 1000
        layer["trace.overhead_pct"] = overhead_pct(traced_pass_s[True], traced_pass_s[False])
    correct = failed == 0 and len(fingerprints) == len(leaves)
    return Result(attempted, failed, correct, end_to_end, layer, info)
