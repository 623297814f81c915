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


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    from legal_knowledge_graph_spark.pipeline import run_pipeline

    pages = generate_pages(spark, 20)
    out = run_pipeline(spark, pages, str(tmp_path_factory.mktemp("kg_query")))
    nodes, edges = out["nodes"], out["edges"]
    chunk = (
        edges.where(F.col("type") == "NEXT").orderBy("src_id").first()["src_id"]
    )
    parent = edges.where(F.col("type") == "CHILD").orderBy("src_id").first()["src_id"]
    return {"pages": pages, "nodes": nodes, "edges": edges, "chunk": chunk, "parent": parent}


def _partition_filters(df) -> dict[str, list[str]]:
    """PartitionFilters of each parquet scan, keyed by table (an edges
    scan reads ``src_id``)."""
    out: dict[str, list[str]] = {"nodes": [], "edges": []}
    scans = re.finditer(
        r"FileScan parquet \[([^\]]*)\][^\n]*PartitionFilters: \[([^\]]*)\]", _physical(df)
    )
    for m in scans:
        out["edges" if "src_id" in m.group(1) else "nodes"].append(m.group(2))
    return out


def test_point_tools_prune_node_buckets(kg):
    """Q2 and Q5 read only the node buckets of their literal ids."""
    from legal_knowledge_graph_spark.operators.query import get_corpus_toc, resolve_response

    corpus = kg["nodes"].where(F.col("label") == "Corpus").first()["node_id"]
    for df in (
        get_corpus_toc(kg["nodes"], corpus),
        resolve_response(kg["nodes"], kg["pages"], [kg["chunk"], kg["parent"]]),
    ):
        scans = _partition_filters(df)["nodes"]
        assert scans and all(re.search(r"bucket#\d+ (=|IN) ", f) for f in scans), scans


def test_edge_tools_prune_both_tables(kg):
    """Q3 and Q4 read one literal edges bucket and prune the nodes scan
    dynamically to the buckets of the ids they found."""
    from legal_knowledge_graph_spark.operators.query import search_children, search_neighbors

    for df in (
        search_children(kg["nodes"], kg["edges"], kg["parent"], [0.1] * 64),
        search_neighbors(kg["nodes"], kg["edges"], kg["chunk"]),
    ):
        scans = _partition_filters(df)
        assert scans["edges"] and all(
            re.search(r"bucket#\d+ = \d+\)", f) for f in scans["edges"]
        ), scans
        assert scans["nodes"] and all(
            "dynamicpruningexpression(bucket" in f for f in scans["nodes"]
        ), scans


def test_search_corpus_has_no_range_exchange(kg):
    from legal_knowledge_graph_spark.operators.query import search_corpus

    assert "rangepartitioning" not in _physical(search_corpus(kg["nodes"]))


def test_lookup_by_id_runs_no_job(spark, kg):
    from legal_knowledge_graph_spark.operators.query import lookup_by_id

    sc = spark.sparkContext
    sc.setJobGroup("test-lookup-plan", "test-lookup-plan")
    try:
        _physical(lookup_by_id(kg["nodes"], [kg["chunk"], kg["parent"], kg["chunk"]]))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert sc.statusTracker().getJobIdsForGroup("test-lookup-plan") == []


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
        lsh_bucket_tables,
        train_ivf_centroids,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "vid", F.col("vec_id").cast("long")
    )
    dim = len(embs.first()["embedding"])

    lsh_path = str(tmp_path / "lsh_idx")
    lsh_bucket_tables(embs, "embedding", dim, n_planes=4).write.partitionBy(
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


def _chunk_tree(spark):
    """A two-document chunk tree in the chunker's shape: depth-1
    articles with a null parent, depth-2 sections under them."""
    rows = [
        ("u1", "A1", None, 1, 0, 0, 40, "", None, False),
        ("u1", "A1/s1", "A1", 2, 0, 0, 20, "one. two.", "one.", True),
        ("u1", "A1/s2", "A1", 2, 1, 20, 40, "three.", None, True),
        ("u1", "A2", None, 1, 1, 40, 60, "", "a2.", False),
        ("u1", "A2/s1", "A2", 2, 0, 40, 60, "four.", None, True),
        ("u2", "A1", None, 1, 0, 5, 9, "", None, False),
        ("u2", "A1/s1", "A1", 2, 0, 5, 9, "five.", None, True),
    ]
    return spark.createDataFrame(
        rows,
        "url string, path_key string, parent_path string, depth int, "
        "sibling_order int, span_start long, span_end long, content string, "
        "summary string, is_leaf boolean",
    )


def test_tree_edges_and_document_summaries_plan_no_join(spark):
    """The CHILD edge's parent id comes from the (url, parent_path)
    window and the document summary's roots from ``parent_path IS
    NULL``: neither plan joins."""
    from legal_knowledge_graph_spark.operators.materialize import tree_edges
    from legal_knowledge_graph_spark.operators.summarize import document_summaries

    chunks = _chunk_tree(spark)
    for df in (tree_edges(chunks), document_summaries(chunks)):
        phys = _physical(df)
        assert "Join" not in phys, phys
    # roots only, in sibling order; a section's summary never reaches it
    assert dict(document_summaries(chunks).collect()) == {"u1": "a2.", "u2": ""}


def test_ensure_parallel_repartitions_broadcast_stream_side(spark, tmp_path):
    """A one-partition scan on the stream side of a broadcast join is
    still narrow: the guard repartitions it. A shuffle upstream makes
    the guard a no-op."""
    from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel

    path = str(tmp_path / "one_split")
    spark.range(0, 2000, 1, 1).write.parquet(path)
    scan = spark.read.parquet(path)
    small = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
    joined = scan.join(F.broadcast(small), "id")
    assert "BroadcastExchange" in _physical(joined)
    assert joined.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    out = ensure_parallel(joined)
    assert "RoundRobinPartitioning" in _physical(out)
    assert out.rdd.getNumPartitions() == target
    shuffled = scan.groupBy((F.col("id") % 7).alias("k")).count()
    assert ensure_parallel(shuffled) is shuffled


def test_chunk_documents_plan_no_exchange(spark, pages_path, tmp_path):
    """The chunker aligns sections and builds each document's article
    rows in one map pass: over an extracted table read in enough splits,
    its plan has no shuffle."""
    from legal_knowledge_graph_spark.operators.chunker import chunk_documents

    path = str(tmp_path / "extracted")
    target = spark.sparkContext.defaultParallelism
    extract_text(spark.read.parquet(pages_path)).repartition(target, "url").write.parquet(path)
    tree = chunk_documents(spark.read.parquet(path))
    phys = _physical(tree)
    assert "Exchange" not in phys, phys
    assert tree.where(~F.col("is_leaf")).count() > 0
