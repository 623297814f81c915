"""Metric names and units, shared by the workloads, the runner and the
self-check, and the record a workload returns. ``BENCHMARK.json``
lists the same names; README.md says what each means on each workload.

Every workload prints every metric. The per-layer metrics are grouped
by the workload whose calls produce them; a workload must return every
metric of its own group and of ``COMMON_LAYER``, and the runner prints
the other workload's group as 0 (that layer did no work in this run).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: pipeline.STAGES, in order
STAGES = (
    "extracted",
    "mentions",
    "raw_triples",
    "canonical_map",
    "triples",
    "chunks",
    "chunks_summarized",
    "nodes",
    "edges",
)

END_TO_END = {
    "batch_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "op_cpu_geomean_ms": "ms",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}

STAGE_FIELDS = {
    "wall_s": "s",
    "build_s": "s",
    "write_s": "s",
    "task_s": "s",
    "serial_s": "s",
    "jobs": "count",
    "shuffle_mb": "MB",
}

QUERY_TOOLS = ("q1", "q2", "q3", "q4", "q5")
QUERY_FIELDS = {"p50_ms": "ms", "jobs": "count", "rows_scanned": "count"}

#: operator_suite leaves (run as ``entry_queries.q_<leaf>``) -> the
#: package module whose operator the leaf exercises: one leaf for each
#: module that ``run_pipeline`` never calls, the cheapest such leaf of
#: ``bench.BENCH_QUERIES`` where a module has several. ``sample_per_group``
#: is not in that list: its one curation leaf there, ``dedup_groups``,
#: cost 15-20 s of a 45-60 s run, more than the time budget allows
#: (README.md).
SUITE_LEAVES = {
    "simhash": "dedup",
    "ivf_ann": "similarity",
    "contamination": "quality",
    "sample_per_group": "curation",
    "token_stats": "textstats",
    "image_pixel_stats": "multimodal",
}


def _build_query_layer() -> dict[str, str]:
    out: dict[str, str] = {}
    for st in STAGES:
        for f, unit in STAGE_FIELDS.items():
            out[f"stage.{st}.{f}"] = unit
    out["checkpoint.flush_lineage_s"] = "s"
    out["checkpoint.open_s"] = "s"
    out["build.unattributed_s"] = "s"
    out["build.triples"] = "count"
    out["build.triple_precision"] = "ratio"
    out["build.triple_recall"] = "ratio"
    for q in QUERY_TOOLS:
        for f, unit in QUERY_FIELDS.items():
            out[f"query.{q}.{f}"] = unit
    return out


def _suite_layer() -> dict[str, str]:
    out = {f"suite.{leaf}.s": "s" for leaf in SUITE_LEAVES}
    out.update({f"suite.{m}.task_s": "s" for m in SUITE_LEAVES.values()})
    return out


COMMON_LAYER = {
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "spark.task_failures": "count",
    "trace.hook_ms": "ms",
    "trace.overhead_pct": "%",
    "host.steal_s": "s",
}

#: workload -> the per-layer metrics its calls produce
LAYER_GROUPS = {"build_query": _build_query_layer(), "operator_suite": _suite_layer()}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name -> its unit, in report order."""
    out: dict[str, str] = {}
    for group in LAYER_GROUPS.values():
        out.update(group)
    out.update(COMMON_LAYER)
    return out


@dataclass
class Result:
    """What a workload returns to the runner."""

    attempted: int
    failed: int
    correct: bool
    end_to_end: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
