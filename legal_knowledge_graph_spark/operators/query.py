"""Query surface — the reference's five Cypher-backed tools as pure
DataFrame functions (Q1-Q5, SURVEY.md §2.8).

The reference exposes these as LangChain tools running Cypher against
Neo4j (src/search_knowledge_graph/tools/*); the agent loop (Q6) is an
orchestration concern, so the engine exposes the tools directly —
any agent can drive them. Every function takes the committed
``nodes``/``edges`` DataFrames and returns a DataFrame; nothing
collects and building a tool's DataFrame runs no Spark job.

Bucket pruning contract: every id-addressed tool reads only the
buckets its ids hash to. It needs what ``run_pipeline`` commits:
- a ``bucket`` column on both tables (``bucket(node_id)`` on nodes,
  ``bucket(src_id)`` on edges, materialize.N_BUCKETS buckets) over
  bigint ids;
- PREV edges written as the exact swap of NEXT, so a chunk's
  neighbours are all in its own edges bucket.
Point ids get a literal bucket predicate, ``bucket == bucket(lit(id))``:
Catalyst folds it to a constant, and the scan shows a static
``PartitionFilters: [bucket = n]``. Id sets derived from edges join
``nodes`` on ``(node_id, bucket)`` against a ``F.broadcast`` id side
that carries ``bucket(node_id)``; dynamic partition pruning then reads
only the matched node buckets. The broadcast hint is required: the
planner sizes a filtered path-based parquet side as the whole table, so
without it a large edges table plans a sort-merge join and DPP (which
reuses only a broadcast) is dropped.

Scale notes:
- top-k similarity = score + ``orderBy().limit(k)`` — Catalyst plans
  TakeOrderedAndProject (no global sort materialization).
- cosine scoring is a native Catalyst expression over the zipped
  arrays (``aggregate(zip_with(...))``) — JVM-side, codegen'd; no
  Python in the loop. Vectors are L2-normalized at write time so
  cosine == dot product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.ids import bucket
from legal_knowledge_graph_spark.functions.text import summary_else_content
from legal_knowledge_graph_spark.operators.materialize import N_BUCKETS

DEFAULT_TOP_K = 5  # reference search_chunk.py:32
DEFAULT_THRESHOLD = 0.0  # reference search_chunk.py:33


def _bucket_of(node_id: int) -> Column:
    """The bucket of one literal id; Catalyst folds it to a constant."""
    return bucket(F.lit(int(node_id)).cast("long"), N_BUCKETS)


def _with_bucket(ids: DataFrame) -> DataFrame:
    """A broadcast ``(node_id, bucket)`` id side: joined to ``nodes`` on
    both columns, it lets DPP prune the nodes scan to its buckets."""
    return F.broadcast(ids.withColumn("bucket", bucket("node_id", N_BUCKETS)))


def lookup_by_id(nodes: DataFrame, ids: list[int], id_col: str = "node_id") -> DataFrame:
    """Point lookup with explicit bucket-partition pruning.

    The tables are written ``partitionBy(bucket)`` with
    ``bucket = pmod(xxhash64(id), N)``; an ``id IN (...)`` filter alone
    does not prune partitions (the optimizer cannot invert the hash),
    so each id's bucket is added as a literal partition predicate,
    which Catalyst constant-folds — no job runs. On Iceberg this is
    what hidden ``bucket(N, id)`` partitioning does automatically; on
    plain parquet it must be explicit.
    """
    ids = sorted({int(i) for i in ids})
    return nodes.where(
        F.col("bucket").isin([_bucket_of(i) for i in ids]) & F.col(id_col).isin(ids)
    )


def cosine(a: Column, b: Column) -> Column:
    """Native cosine over two float arrays (dot product of
    L2-normalized vectors; full cosine if not normalized)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )
    return dot / F.when(norm(a) * norm(b) == 0, F.lit(1.0)).otherwise(norm(a) * norm(b))


def search_corpus(nodes: DataFrame) -> DataFrame:
    """Q1 (tools/search_corpus.py:23-27): all corpora ordered by name.

    One partition sorted in place: the scan stays parallel, and no
    range exchange samples the input in a job of its own."""
    return (
        nodes.where(F.col("label") == "Corpus")
        .select(F.col("node_id").alias("contract_id"), F.col("name").alias("contract_name"))
        .repartition(1)
        .sortWithinPartitions("contract_name")
    )


def get_corpus_toc(nodes: DataFrame, corpus_id: int) -> DataFrame:
    """Q2 (tools/get_corpus_toc.py:29-32): point lookup -> TOC JSON."""
    return (
        lookup_by_id(nodes, [corpus_id])
        .where(F.col("label") == "Corpus")
        .select("node_id", "toc_json")
    )


def reshape_toc(df: DataFrame, toc_col: str = "toc_json") -> DataFrame:
    """Q2 read side, full parity (tools/get_corpus_toc.py:37-121): the
    stored TOC JSON string reshaped into the components schema
    ``[{component_name, component_description, childs}]``, re-emitted
    as a compact JSON string column ``components_json``. Arrow-batched
    map stage (the reshape is quirky dict logic, not SQL — see
    functions/parse.toc_to_components for the branch-by-branch
    reproduction)."""
    from typing import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    from legal_knowledge_graph_spark.functions.parse import reshape_toc_json

    keep = [c for c in df.columns if c != toc_col]
    schema = T.StructType(
        [df.schema[k] for k in keep]
        + [T.StructField("components_json", T.StringType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            out["components_json"] = pdf[toc_col].map(reshape_toc_json)
            yield out

    return df.mapInPandas(run, schema)


def search_children(
    nodes: DataFrame,
    edges: DataFrame,
    parent_id: int,
    query_vector: list[float],
    top_k: int = DEFAULT_TOP_K,
    threshold: float = DEFAULT_THRESHOLD,
    sub_variant: bool = False,
) -> DataFrame:
    """Q3 (tools/search_chunk.py:35-46): 1-hop CHILD expansion from
    ``parent_id``, cosine-scored against ``query_vector``, score >
    threshold, top-k. Returns (node_id, name, text, score) where text
    follows the summary-else-content rule (search_chunk.py:42).

    ``sub_variant=True`` reproduces SearchSubComponentTool
    (search_chunk.py:108-118) exactly, including its quirk: the Cypher
    returns ``c.leaf`` — a property the write path never sets — so the
    ``leaf`` column is always null by construction."""
    kids = edges.where(
        (F.col("bucket") == _bucket_of(parent_id))
        & (F.col("type") == "CHILD")
        & (F.col("src_id") == parent_id)
    ).select(F.col("dst_id").alias("node_id"))
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    cols = [
        F.col("node_id"),
        F.col("name"),
        summary_else_content(
            F.coalesce("summary", F.lit("")), F.coalesce("content", F.lit(""))
        ).alias("text"),
        F.col("score"),
    ]
    if sub_variant:
        cols.append(F.lit(None).cast("boolean").alias("leaf"))
    return (
        nodes.join(_with_bucket(kids), ["node_id", "bucket"])
        .where(F.col("vector").isNotNull())
        .withColumn("score", cosine(F.col("vector"), qv))
        .where(F.col("score") > threshold)
        .select(*cols)
        .orderBy(F.desc("score"), "node_id")
        .limit(top_k)
    )


def search_neighbors(nodes: DataFrame, edges: DataFrame, chunk_id: int) -> DataFrame:
    """Q4 (tools/search_neighbor_chunk.py:30-40): both NEXT directions,
    DISTINCT, summary-else-content.

    PREV is the swap of NEXT, so both directions are the chunk's
    outgoing NEXT and PREV edges, all in its one edges bucket; the
    semi-join keeps each neighbour node once."""
    nb = edges.where(
        (F.col("bucket") == _bucket_of(chunk_id))
        & F.col("type").isin("NEXT", "PREV")
        & (F.col("src_id") == chunk_id)
    ).select(F.col("dst_id").alias("node_id"))
    return nodes.join(_with_bucket(nb), ["node_id", "bucket"], "left_semi").select(
        "node_id",
        "name",
        summary_else_content(
            F.coalesce("summary", F.lit("")), F.coalesce("content", F.lit(""))
        ).alias("text"),
    )


def resolve_response(
    nodes: DataFrame, pages: DataFrame, chunk_ids: list[int]
) -> DataFrame:
    """Q5 (tools/response.py:29-62): fetch chunks by id, then RECOMPUTE
    the span by locating the chunk content inside the page text,
    dropping chunks whose content is not found verbatim (the
    reference's ``content_file.find`` -> drop-if-absent semantics,
    response.py:50-61)."""
    sel = lookup_by_id(nodes, chunk_ids).select("node_id", "name", "url", "content")
    joined = sel.join(pages.select("url", "text"), "url")
    loc = F.expr("instr(text, content)")  # first occurrence, 1-based, 0 if absent
    return (
        joined.withColumn("_loc", loc)
        .where(F.col("_loc") > 0)
        .select(
            "node_id",
            "name",
            F.col("url").alias("file_path"),
            (F.col("_loc") - 1).cast("long").alias("span_start"),
            (F.col("_loc") - 1 + F.length("content")).cast("long").alias("span_end"),
            "content",
        )
    )


def rank_reciprocal_scores(df: DataFrame, rank_col: str = "rank") -> DataFrame:
    """The reference's retrieval scoring glue (search.py:30-43,
    run_benchmark.py:64-87): the i-th retrieved snippet (0-based) gets
    score ``1/(i+1)`` — with a 1-based rank column that is ``1/rank``.
    Adds a ``score`` column (rounded to 6 dp for engine portability)."""
    return df.withColumn("score", F.round(F.lit(1.0) / F.col(rank_col), 6))


def span_overlap_pr(retrieved: DataFrame, golden: DataFrame) -> DataFrame:
    """The LegalBenchRAG character-overlap precision/recall metric
    (reference run_benchmark.py:122-137 delegates to the legalbenchrag
    submodule) as one DataFrame job.

    retrieved(query_id, url, span_start, span_end)
    golden(query_id, url, span_start, span_end)
    -> (query_id, precision, recall)

    Overlap length is summed over the interval-intersection join;
    P = overlap / retrieved chars, R = overlap / golden chars.
    """
    r = retrieved.select(
        "query_id",
        "url",
        F.col("span_start").alias("rs"),
        F.col("span_end").alias("re"),
    )
    g = golden.select(
        "query_id",
        "url",
        F.col("span_start").alias("gs"),
        F.col("span_end").alias("ge"),
    )
    ov = (
        r.join(g, ["query_id", "url"])
        .withColumn(
            "olap",
            F.greatest(
                F.lit(0).cast("long"),
                F.least("re", "ge") - F.greatest("rs", "gs"),
            ),
        )
        .groupBy("query_id")
        .agg(F.sum("olap").alias("overlap"))
    )
    r_len = r.groupBy("query_id").agg(F.sum(F.col("re") - F.col("rs")).alias("rlen"))
    g_len = g.groupBy("query_id").agg(F.sum(F.col("ge") - F.col("gs")).alias("glen"))
    return (
        r_len.join(g_len, "query_id", "full")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("overlap", F.lit(0)) / F.greatest("rlen", F.lit(1))).alias("precision"),
            (F.coalesce("overlap", F.lit(0)) / F.greatest("glen", F.lit(1))).alias("recall"),
        )
    )
