"""End-to-end KG construction pipeline: the Spark shape of the
reference's ``generate.py`` lifecycle (SURVEY.md §3.1).

    pages -> extract(T1) -> {mentions(M1), triples(M2)}
          -> link(C1: LSH -> score -> CC) -> canonicalize
          -> chunk(M2/F1/A1) -> summarize-levels(A3/M3)
          -> embed(W6) -> nodes/edges materialize (W4-W7)

Every arrow is a pure ``DataFrame -> DataFrame`` transform; every named
stage commits through the StageCatalog (checkpoint/resume + lineage).
Explicit ``repartition`` boundaries sit between extraction, linking,
and materialization (the north rule's stage boundaries): extraction
output is re-bucketed by url hash so the downstream chunk/align and
mention stages see uniform partitions regardless of input file layout;
the canonical map is tiny and broadcasts into the triple join.

Run via ``spark-submit --py-files <zip> -m`` or programmatically
through :func:`run_pipeline`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.partitioning import (
    repartition_buckets_balanced,
)
from legal_knowledge_graph_spark.operators.checkpoint import StageCatalog
from legal_knowledge_graph_spark.operators.materialize import N_BUCKETS
from legal_knowledge_graph_spark.operators.chunker import chunk_documents
from legal_knowledge_graph_spark.operators.extract import extract_text
from legal_knowledge_graph_spark.operators.linking import link_entities
from legal_knowledge_graph_spark.operators.materialize import (
    absolute_chunks,
    attach_vectors,
    build_toc,
    chunk_nodes,
    corpus_nodes,
    entity_nodes,
    finish_edges,
    tree_edges,
    triple_edges,
)
from legal_knowledge_graph_spark.operators.summarize import (
    document_summaries,
    summarize_tree,
)
from legal_knowledge_graph_spark.operators.triples import (
    canonicalize_triples,
    detect_mentions,
    extract_triples,
)

STAGES = [
    "extracted",
    "mentions",
    "raw_triples",
    "canonical_map",
    "triples",
    "chunks",
    "chunks_summarized",
    "nodes",
    "edges",
]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    embed_dim: int = 64,
) -> dict[str, DataFrame]:
    """Run (or resume) the full construction DAG; returns the committed
    stage tables. A stage whose checkpoint is already committed is
    read, not recomputed (reference S4/S5 cache semantics,
    table_of_contents_extractor.py:55-65)."""
    cat = StageCatalog(spark, workdir)
    n_partitions = spark.sparkContext.defaultParallelism

    # Stage boundary 1: extraction. Re-bucket by url hash so document
    # work (align kernel = CPU-heavy per doc) spreads uniformly even if
    # the input arrives sorted/clustered (e.g. by crawl host).
    extracted = cat.stage(
        "extracted",
        lambda: extract_text(pages).repartition(n_partitions, F.col("url")),
    )

    mentions = cat.stage("mentions", lambda: detect_mentions(extracted))
    raw_triples = cat.stage("raw_triples", lambda: extract_triples(extracted))

    # Stage boundary 2: linking (its own shuffles internally: distinct
    # surfaces -> LSH bands -> CC). Output is small (distinct surfaces).
    canonical_map = cat.stage("canonical_map", lambda: link_entities(mentions))

    triples = cat.stage(
        "triples", lambda: canonicalize_triples(raw_triples, canonical_map)
    )

    chunks = cat.stage("chunks", lambda: chunk_documents(extracted))
    chunks_sum = cat.stage("chunks_summarized", lambda: summarize_tree(chunks))

    def _nodes() -> DataFrame:
        doc_sum = document_summaries(chunks_sum)
        toc = build_toc(chunks_sum)
        nodes = (
            corpus_nodes(extracted, doc_sum, toc)
            .unionByName(chunk_nodes(absolute_chunks(chunks_sum)))
            .unionByName(entity_nodes(canonical_map))
        )
        # attach_vectors is a true single-pass map since round 6 (no
        # self-join), so the union has ONE consumer and needs no
        # checkpoint — one materialization fewer per run.
        # Stage boundary 3: materialize — cluster by id bucket for the
        # partitioned write, with EXACT slot balance: plain
        # repartition(bucket) Poisson-hashes 32 bucket values into the
        # cores-scaled shuffle slots (at 64 slots the busiest write
        # task held 3/32 of ALL node data vs an ideal 0.5/32 — a 6x
        # data-proportional straggler that throttled the 4x-cores
        # scaling leg), and AQE REBALANCE re-coalesces to
        # advisory-sized partitions, starving write parallelism
        # instead. See repartition_buckets_balanced.
        return repartition_buckets_balanced(
            attach_vectors(nodes, dim=embed_dim), "bucket", N_BUCKETS
        )

    nodes = cat.stage("nodes", _nodes, partition_col="bucket")

    def _edges() -> DataFrame:
        # same balanced-write rationale as the nodes write above
        return repartition_buckets_balanced(
            finish_edges(
                tree_edges(absolute_chunks(chunks_sum)).unionByName(triple_edges(triples))
            ),
            "bucket",
            N_BUCKETS,
        )

    edges = cat.stage("edges", _edges, partition_col="bucket")

    # one batched lineage append for every stage committed this run
    cat.flush_lineage()

    return {
        "extracted": extracted,
        "mentions": mentions,
        "raw_triples": raw_triples,
        "canonical_map": canonical_map,
        "triples": triples,
        "chunks": chunks,
        "chunks_summarized": chunks_sum,
        "nodes": nodes,
        "edges": edges,
    }
