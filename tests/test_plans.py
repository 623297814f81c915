"""Physical-plan property tests — the `.explain` audit as regressions.

At 100 TB the plan shape IS the performance contract: these assert the
scan prunes columns, predicates reach parquet, small sides broadcast,
top-k plans as TakeOrderedAndProject, and the hot projections stay in
whole-stage codegen. A change that silently degrades any of these
fails here long before a benchmark would catch it.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.datagen import generate_pages
from legal_knowledge_graph_spark.operators.extract import extract_text


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plan_pages")
    generate_pages(spark, 60).write.mode("overwrite").parquet(str(d / "pages"))
    return str(d / "pages")


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_html_binary_column(spark, pages_path):
    """The fat binary column must never be read for text-only
    consumers: column pruning has to reach through the split
    expressions to the parquet ReadSchema."""
    p = spark.read.parquet(pages_path)
    df = extract_text(p).select("url", "intro", "body")
    m = re.search(r"ReadSchema: ([^\n]*)", _optimized(df))
    assert m, "no ReadSchema in plan"
    assert "html" not in m.group(1)
    assert "text" in m.group(1)


def test_filter_pushdown_reaches_scan(spark, pages_path):
    p = spark.read.parquet(pages_path)
    df = extract_text(p.where(F.col("lang") == "en")).select("url")
    s = _optimized(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", s)
    assert m, "no PushedFilters in plan"
    assert "EqualTo(lang,en)" in m.group(1)


def test_topk_is_take_ordered(spark, sf_dir):
    """orderBy().limit(k) must plan as TakeOrderedAndProject — never a
    global sort materialization."""
    from legal_knowledge_graph_spark.operators.similarity import brute_force_top_k

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "vid", F.col("vec_id").cast("long")
    )
    q = [0.1] * len(embs.first()["embedding"])
    df = brute_force_top_k(embs, "vid", "embedding", q, k=5)
    assert "TakeOrderedAndProject" in _physical(df)


def test_canonicalize_joins_broadcast(spark, pages_path):
    """The canonical map must broadcast into the triple table — the
    big side never shuffles for canonicalization."""
    from legal_knowledge_graph_spark.operators.triples import (
        canonicalize_triples,
        extract_triples,
    )

    p = spark.read.parquet(pages_path)
    extracted = extract_text(p)
    cmap = spark.createDataFrame(
        [("alpha corp", "E1")], "surface_norm string, canonical_id string"
    )
    df = canonicalize_triples(extract_triples(extracted), cmap)
    phys = _physical(df)
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_lookup_by_id_prunes_buckets(spark, tmp_path):
    from legal_knowledge_graph_spark.operators.query import lookup_by_id
    from legal_knowledge_graph_spark.pipeline import run_pipeline

    out = run_pipeline(
        spark, generate_pages(spark, 20), str(tmp_path / "kg_plan")
    )
    some_id = out["nodes"].first()["node_id"]
    df = lookup_by_id(out["nodes"], [some_id])
    phys = _physical(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", phys)
    assert m and "bucket" in m.group(1), phys[:500]


def test_split_stays_in_codegen(spark, pages_path):
    """The T1 split projection must be inside a WholeStageCodegen span
    (native expressions, no Python in the loop)."""
    p = spark.read.parquet(pages_path)
    df = extract_text(p).select("url", "body_span_start", "body_span_end")
    phys = _physical(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the compact plan
    assert "*(" in phys, phys[:300]
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_ann_bucket_layouts_prune_partitions(spark, sf_dir, tmp_path):
    """The ANN scale claims made in operators/similarity.py must hold
    physically: a table written partitionBy(lsh_bucket) / (ivf_cell)
    and probed with the operator's bucket predicate shows partition
    filters in the scan — only the probed buckets are read."""
    from legal_knowledge_graph_spark.operators.similarity import (
        ivf_assign,
        lsh_bucket,
        train_ivf_centroids,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "vid", F.col("vec_id").cast("long")
    )
    dim = len(embs.first()["embedding"])

    lsh_path = str(tmp_path / "lsh_idx")
    lsh_bucket(embs, "embedding", dim, n_planes=4).write.partitionBy(
        "lsh_bucket"
    ).parquet(lsh_path)
    probe = spark.read.parquet(lsh_path).where(F.col("lsh_bucket").isin([0, 1, 2]))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", _physical(probe))
    assert m and "lsh_bucket" in m.group(1)

    ivf_path = str(tmp_path / "ivf_idx")
    cents = train_ivf_centroids(embs, "embedding", k=4)
    ivf_assign(embs, "embedding", cents).write.partitionBy("ivf_cell").parquet(ivf_path)
    probe2 = spark.read.parquet(ivf_path).where(F.col("ivf_cell").isin([0, 1]))
    m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", _physical(probe2))
    assert m2 and "ivf_cell" in m2.group(1)


def test_batch_topk_broadcasts_queries(spark, sf_dir):
    from legal_knowledge_graph_spark.operators.similarity import batch_top_k

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "vid", F.col("vec_id").cast("long")
    )
    queries = embs.limit(3).select(
        F.col("vid").alias("qid"), F.col("embedding").alias("qv")
    )
    df = batch_top_k(embs, queries, "vid", "embedding", "qid", "qv", k=3)
    phys = _physical(df)
    assert "BroadcastNestedLoopJoin" in phys or "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys


def test_murmur3_int32_matches_spark_hash(spark):
    """The balanced bucket write inverts Spark's Murmur3 int hash on
    the driver; if the engine's hash ever changed, the write would
    silently skew (never corrupt) — this pin makes it loud."""
    from pyspark.sql import functions as F

    from legal_knowledge_graph_spark.functions.partitioning import murmur3_int32

    rows = (
        spark.range(-500, 2000)
        .select(F.col("id").cast("int").alias("i"), F.hash(F.col("id").cast("int")).alias("h"))
        .collect()
    )
    assert all(murmur3_int32(r["i"]) == r["h"] for r in rows)


def test_repartition_buckets_balanced_one_slot_per_bucket(spark):
    """Every bucket value must land in its own shuffle slot (exact
    balance), and the rows must be exactly preserved."""
    from pyspark.sql import functions as F

    from legal_knowledge_graph_spark.functions.partitioning import (
        repartition_buckets_balanced,
    )

    df = spark.range(3200).select(
        F.col("id").alias("k"), (F.col("id") % 32).cast("int").alias("bucket")
    )
    out = repartition_buckets_balanced(df, "bucket", 32)
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct("bucket").alias("nb"), F.count("*").alias("n"))
        .collect()
    )
    # one bucket per non-empty slot, 100 rows each
    assert all(r["nb"] == 1 and r["n"] == 100 for r in per_part)
    assert len(per_part) == 32
    assert out.count() == 3200
    assert out.select(F.sum("k")).first()[0] == sum(range(3200))


def test_slot_keys_fill_every_slot_at_4096():
    """One capped scan finds, for every bucket, the smallest key that
    hashes into its slot, up to 4096 slots."""
    from legal_knowledge_graph_spark.functions.partitioning import _slot_keys, murmur3_int32

    for n, n_buckets in [(4096, 4096), (4096, 64), (64, 64)]:
        keys = _slot_keys(n, n_buckets)
        assert keys is not None and len(keys) == n_buckets
        first = {}
        for x in range(max(keys) + 1):
            first.setdefault(murmur3_int32(x) % n, x)
        assert keys == tuple(first[b * n // n_buckets] for b in range(n_buckets))


def test_repartition_buckets_balanced_falls_back_when_scan_capped(spark, monkeypatch):
    from legal_knowledge_graph_spark.functions import partitioning

    monkeypatch.setattr(partitioning, "_slot_keys", lambda n, n_buckets: None)
    df = spark.range(320).select(
        F.col("id").alias("k"), (F.col("id") % 32).cast("int").alias("bucket")
    )
    out = partitioning.repartition_buckets_balanced(df, "bucket", 32)
    assert re.search(r"hashpartitioning\(bucket#\d+, \d+\)", _optimized(out))
    assert out.count() == 320


def test_attach_vectors_embeds_non_entity_rows_only(spark):
    """Each non-Entity row's vector is its own summary-else-content
    embedding, whatever rows share its batch; Entity rows get null."""
    import numpy as np

    from legal_knowledge_graph_spark.operators.materialize import attach_vectors
    from legal_knowledge_graph_spark.operators.summarize import embed_texts_np

    rows = [
        (f"n{i}", label, summary, content)
        for i, (label, summary, content) in enumerate(
            [
                ("Chunk", None, "the court held the appeal"),
                ("Entity", None, "Supreme Court"),
                ("Corpus", "a statute summary", "body text"),
                ("Entity", "x", "y"),
                ("Chunk", "", ""),
                ("Chunk", None, "appeal held court the the"),
            ]
        )
    ]
    nodes = spark.createDataFrame(
        rows, "node_id string, label string, summary string, content string"
    ).withColumn("vector", F.lit(None).cast("array<float>"))
    got = {r["node_id"]: r["vector"] for r in attach_vectors(nodes, dim=16).collect()}
    for node_id, label, summary, content in rows:
        if label == "Entity":
            assert got[node_id] is None
        else:
            text = summary if summary and summary.strip() else content
            want = embed_texts_np([text], 16)[0]
            assert np.array_equal(np.asarray(got[node_id], dtype=np.float32), want)
