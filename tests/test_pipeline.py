"""End-to-end pipeline gates: triple P/R >= 0.95, idempotence, resume.

- P/R: exact (subj, pred, obj) match after canonicalization vs the
  generator's golden triples (FIXTURES.md F3; the BASELINE.json gate).
- Idempotence: two independent runs materialize byte-identical
  nodes/edges (deterministic content-derived ids — unlike the
  reference's uuid4-per-run, utils/database.py:85,105).
- Resume: delete the last stages' checkpoints, rerun, assert the
  surviving stages were NOT recomputed (lineage rows don't grow) and
  the final tables are identical.
- Commit files: each stage's stored schema is the one a parquet read
  infers, a reopen runs no Spark job, the lineage flush matches the
  committed tables in at most two jobs, and a zero-page input commits
  and reopens every stage.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from legal_knowledge_graph_spark.datagen import (
    PAGES_SCHEMA,
    alias_table,
    generate_golden_triples,
    generate_pages,
)
from legal_knowledge_graph_spark.operators.checkpoint import StageCatalog
from legal_knowledge_graph_spark.pipeline import STAGES, run_pipeline

N = 120
_GROUPS = itertools.count()


def _jobs(sc, fn):
    """``fn()`` and the number of Spark jobs it ran (in its own job
    group)."""
    group = f"test-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def built40(spark, tmp_path_factory):
    """A 40-page build's workdir and the job count of each lineage
    flush it ran."""
    wd = str(tmp_path_factory.mktemp("built40"))
    flush_jobs = []
    flush = StageCatalog.flush_lineage

    def counted(cat):
        flush_jobs.append(_jobs(spark.sparkContext, lambda: flush(cat))[1])

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(StageCatalog, "flush_lineage", counted)
        run_pipeline(spark, generate_pages(spark, 40), wd)
    return wd, flush_jobs


def _table_fingerprint(df):
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ).collect()[0]


def _golden_canonical(spark):
    """surface_norm -> golden entity id, normalized the same way the
    engine normalizes (exercised independently in test_linking)."""
    from legal_knowledge_graph_spark.functions.text import normalize_surface

    rows = alias_table()
    df = spark.createDataFrame(rows, ["surface", "gid"])
    return {
        r["sn"]: r["gid"]
        for r in df.select(normalize_surface(F.col("surface")).alias("sn"), "gid")
        .distinct()
        .collect()
    }


def test_pipeline_triple_pr_and_idempotence(spark, tmp_path):
    pages = generate_pages(spark, N)
    out = run_pipeline(spark, pages, str(tmp_path / "run1"))

    golden = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in generate_golden_triples(spark, N).collect()
    }
    # engine canonical ids are surface strings; map them to golden
    # ENT ids via the alias table for exact-match comparison
    g_map = _golden_canonical(spark)
    got = set()
    for r in out["triples"].collect():
        got.add((r["url"], g_map.get(r["subj"], r["subj"]), r["pred"], g_map.get(r["obj"], r["obj"])))

    tp = len(got & golden)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(golden), 1)
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"

    # idempotence: a second, independent run materializes identical tables
    out2 = run_pipeline(spark, generate_pages(spark, N), str(tmp_path / "run2"))
    for t in ("nodes", "edges", "triples"):
        assert tuple(_table_fingerprint(out[t])) == tuple(_table_fingerprint(out2[t])), t


def test_pipeline_resume(spark, tmp_path):
    wd = str(tmp_path / "resume")
    pages = generate_pages(spark, 40)
    out1 = run_pipeline(spark, pages, wd)
    fp_nodes = _table_fingerprint(out1["nodes"])
    fp_edges = _table_fingerprint(out1["edges"])
    lineage_before = out1["nodes"].sparkSession.read.parquet(f"{wd}/_lineage")
    early = lineage_before.where(
        F.col("stage").isin("extracted", "mentions", "canonical_map")
    ).count()

    # simulate a crash after the chunking stage: later checkpoints lost
    for stage in ("chunks_summarized", "nodes", "edges"):
        shutil.rmtree(f"{wd}/{stage}", ignore_errors=True)

    out2 = run_pipeline(spark, pages, wd)
    assert tuple(_table_fingerprint(out2["nodes"])) == tuple(fp_nodes)
    assert tuple(_table_fingerprint(out2["edges"])) == tuple(fp_edges)

    lineage_after = out2["nodes"].sparkSession.read.parquet(f"{wd}/_lineage")
    # surviving stages were read, not recomputed: no new lineage commits
    assert (
        lineage_after.where(
            F.col("stage").isin("extracted", "mentions", "canonical_map")
        ).count()
        == early
    )
    # recomputed stages committed again
    assert lineage_after.where(F.col("stage") == "nodes").count() >= 1
    # per-partition lineage carries counts
    assert (
        lineage_after.agg(F.sum("row_count")).collect()[0][0] > 0
    )


def test_resume_survives_mid_write_kill(spark, tmp_path):
    """Crash-consistency of the commit protocol (``_SUCCESS``, then
    ``_schema.json``): a stage directory left by a KILLED write
    (partial/corrupt parquet files, NO _SUCCESS) must be treated as
    uncommitted — recomputed and overwritten — and the final tables
    must equal a clean run's."""
    wd = str(tmp_path / "crash")
    pages = generate_pages(spark, 40)
    out1 = run_pipeline(spark, pages, wd)
    fp_nodes = _table_fingerprint(out1["nodes"])
    fp_edges = _table_fingerprint(out1["edges"])

    # simulate a kill DURING the chunks_summarized write: drop the
    # commit marker, corrupt one data file, truncate another, and lose
    # everything downstream
    stage_dir = f"{wd}/chunks_summarized"
    os.remove(f"{stage_dir}/_SUCCESS")
    parts = sorted(glob.glob(f"{stage_dir}/part-*.parquet"))
    assert parts, "expected parquet part files"
    with open(parts[0], "wb") as f:
        f.write(b"\x00garbage not parquet\x00")
    if len(parts) > 1:
        with open(parts[1], "ab") as f:
            f.truncate(max(os.path.getsize(parts[1]) // 2, 1))
    for stage in ("nodes", "edges"):
        shutil.rmtree(f"{wd}/{stage}", ignore_errors=True)

    out2 = run_pipeline(spark, pages, wd)
    assert tuple(_table_fingerprint(out2["nodes"])) == tuple(fp_nodes)
    assert tuple(_table_fingerprint(out2["edges"])) == tuple(fp_edges)
    # the killed stage was re-committed: marker restored, files readable
    assert os.path.exists(f"{stage_dir}/_SUCCESS")
    assert tuple(_table_fingerprint(spark.read.parquet(stage_dir))) == tuple(
        _table_fingerprint(out2["chunks_summarized"])
    )

    # a kill between the parquet commit and the schema file: _SUCCESS
    # present, _schema.json missing — not committed, so recomputed
    def edge_commits():
        lineage = spark.read.parquet(f"{wd}/_lineage")
        return lineage.where(F.col("stage") == "edges").select("committed_at").distinct().count()

    commits = edge_commits()
    os.remove(f"{wd}/edges/_schema.json")
    out3 = run_pipeline(spark, pages, wd)
    assert os.path.exists(f"{wd}/edges/_schema.json")
    assert edge_commits() == commits + 1
    assert tuple(_table_fingerprint(out3["edges"])) == tuple(fp_edges)


def test_checkpoint_files_bucketed(spark, tmp_path):
    wd = str(tmp_path / "bk")
    run_pipeline(spark, generate_pages(spark, 30), wd)
    # nodes/edges written partitioned by bucket (Iceberg bucket(N,id)
    # equivalent): directory-per-bucket layout
    assert glob.glob(f"{wd}/nodes/bucket=*"), "nodes not bucket-partitioned"
    assert glob.glob(f"{wd}/edges/bucket=*"), "edges not bucket-partitioned"


def test_stored_schemas_match_inference(spark, built40):
    wd, _ = built40
    cat = StageCatalog(spark, wd)
    for stage in STAGES:
        assert cat.schema(stage) == spark.read.parquet(cat.path(stage)).schema, stage
    for stage in ("nodes", "edges"):
        last = cat.schema(stage).fields[-1]
        assert (last.name, last.dataType) == ("bucket", IntegerType()), stage


def test_reopen_runs_no_spark_jobs(spark, built40):
    """A committed workdir reopens without a schema-inference read:
    zero Spark jobs."""
    wd, _ = built40
    pages = generate_pages(spark, 40)
    out, jobs = _jobs(spark.sparkContext, lambda: run_pipeline(spark, pages, wd))
    assert jobs == 0
    assert out["nodes"].count() > 0


def test_lineage_matches_committed_tables(spark, built40):
    """The one-shuffle flush writes, per stage and file partition, the
    row count and first-column fingerprint of the committed table."""
    wd, flush_jobs = built40
    assert len(flush_jobs) == 1 and flush_jobs[0] <= 2, flush_jobs
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{wd}/_lineage").drop("committed_at").collect()
    )
    want = []
    for stage in STAGES:
        table = spark.read.parquet(f"{wd}/{stage}")
        want += [
            (stage, *r)
            for r in table.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count(F.lit(1)),
                F.coalesce(F.bit_xor(F.xxhash64(table.columns[0])), F.lit(0)),
            )
            .collect()
        ]
    assert got == sorted(want)


def _child_edges_by_join(chunks_abs):
    """CHILD (src_id, dst_id, url) rows the way the edges stage first
    derived them: each chunk joined to the row whose path_key is its
    parent_path, the url's Corpus node when there is none."""
    from legal_knowledge_graph_spark.functions.ids import node_id

    ch = chunks_abs.select(
        "url",
        "path_key",
        "parent_path",
        node_id("url", "path_key", "span_start", "span_end").alias("nid"),
    )
    parents = ch.select(
        "url", F.col("path_key").alias("parent_path"), F.col("nid").alias("pid")
    )
    return ch.join(parents, ["url", "parent_path"], "left").select(
        F.coalesce("pid", node_id("url", F.lit("Corpus"))).alias("src_id"),
        F.col("nid").alias("dst_id"),
        "url",
    )


def test_tree_edges_child_rows_equal_join(spark, built40):
    """``tree_edges`` computes a CHILD edge's parent id from the
    (url, parent_path) window's span; on the committed 40-page tree and
    on zero rows it gives the rows of the join formulation."""
    from legal_knowledge_graph_spark.operators.materialize import (
        absolute_chunks,
        tree_edges,
    )

    wd, _ = built40
    out = run_pipeline(spark, generate_pages(spark, 40), wd)
    chunks_abs = absolute_chunks(out["chunks_summarized"])

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def child(frame):
        return tree_edges(frame).where(F.col("type") == "CHILD").select(
            "src_id", "dst_id", "url"
        )

    want = rows(_child_edges_by_join(chunks_abs))
    assert len(want) == chunks_abs.count() > 40
    assert rows(child(chunks_abs)) == want
    empty = chunks_abs.where(F.lit(False))
    assert rows(child(empty)) == rows(_child_edges_by_join(empty)) == []


def test_build_stage_job_counts(spark, tmp_path, monkeypatch):
    """Spark jobs per stage of a 20-page build, one job group per stage:
    the chunker's one map pass is the chunks stage's only job, and the
    nodes and edges stages re-base chunk spans with a projection, not a
    join. 34 jobs in all here, steady over 3 repeats (4 cores)."""
    sc = spark.sparkContext
    groups = {}
    stage = StageCatalog.stage

    def grouped(cat, name, compute, partition_col=None, force=False):
        group = groups[name] = f"test-build-{name}-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            return stage(cat, name, compute, partition_col, force)
        finally:
            sc._jsc.clearJobGroup()

    monkeypatch.setattr(StageCatalog, "stage", grouped)
    run_pipeline(spark, generate_pages(spark, 20), str(tmp_path / "jobs"))
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = {s: len(sc.statusTracker().getJobIdsForGroup(g)) for s, g in groups.items()}
    assert set(jobs) == set(STAGES)
    assert jobs["chunks"] == 1, jobs
    assert jobs["nodes"] <= 7 and jobs["edges"] <= 4, jobs


def test_entity_nodes_equal_distinct(spark, built40):
    """``entity_nodes`` keeps the canonical-map row whose surface is its
    own canonical id; that gives the rows of a ``distinct`` over the
    canonical ids, on the 40-page build and on alias surfaces whose
    components hold several surfaces."""
    from legal_knowledge_graph_spark.operators.linking import link_entities
    from legal_knowledge_graph_spark.operators.materialize import entity_nodes

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def by_distinct(cmap):
        # one row per distinct canonical id, standing as its own surface
        ids = cmap.select("canonical_id").distinct()
        return entity_nodes(ids.withColumn("surface_norm", F.col("canonical_id")))

    wd, _ = built40
    built = run_pipeline(spark, generate_pages(spark, 40), wd)["canonical_map"]
    aliases = alias_table()[: 5 * 40]
    linked = link_entities(
        spark.createDataFrame(
            [(f"u{i}", s) for i, (s, _) in enumerate(aliases)], ["url", "surface"]
        )
    )
    sizes = [r["n"] for r in linked.groupBy("canonical_id").agg(F.count("*").alias("n")).collect()]
    assert max(sizes) > 1
    for cmap in (built, linked):
        want = rows(by_distinct(cmap))
        assert len(want) == cmap.select("canonical_id").distinct().count() > 0
        assert rows(entity_nodes(cmap)) == want


def test_zero_page_build(spark, tmp_path):
    """Empty input: every stage commits, reads back empty with its
    stored schema, and a rerun reads all 9 stages."""
    wd = str(tmp_path / "empty")
    pages = spark.createDataFrame([], PAGES_SCHEMA)
    out = run_pipeline(spark, pages, wd)
    cat = StageCatalog(spark, wd)
    for stage in STAGES:
        assert cat.committed(stage), stage
        assert out[stage].schema == cat.schema(stage), stage
        assert out[stage].count() == 0, stage
    markers = {s: os.stat(f"{wd}/{s}/_SUCCESS").st_mtime_ns for s in STAGES}
    lineage_rows = cat.lineage().count()

    out2, jobs = _jobs(spark.sparkContext, lambda: run_pipeline(spark, pages, wd))
    assert jobs == 0
    assert {s: os.stat(f"{wd}/{s}/_SUCCESS").st_mtime_ns for s in STAGES} == markers
    assert cat.lineage().count() == lineage_rows
    for stage in STAGES:
        assert out2[stage].schema == cat.schema(stage), stage
        assert out2[stage].count() == 0, stage
