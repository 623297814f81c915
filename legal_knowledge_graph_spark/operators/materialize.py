"""Stage 6 — graph materialization (W1-W7 analogues).

The reference writes a Corpus->Chunk* property-graph into Neo4j, one
MERGE per node/edge over a single bolt session
(utils/database.py:78-208), with fresh uuid4 ids per run
(database.py:85,105) — re-runs duplicate the graph. Here the graph is
two bucketed columnar tables with **deterministic content-derived
ids** (functions/ids.py), so materialization is idempotent: re-running
any stage yields byte-identical tables (the resume/idempotence tests
hang off this).

Tables:
- ``nodes(node_id, label, name, url, span_start, span_end, content,
  summary, order, toc_json, vector, bucket)``
  labels: Corpus (one per url, reference database.py:84-102), Chunk
  (every tree node, database.py:104-158 — the reference writes only
  Corpus+Chunk labels in practice, database.py:160-196), Entity (one
  per canonical entity — the KG side).
- ``edges(src_id, dst_id, type, pred, url, span_start, span_end,
  bucket)``
  types: CHILD (parent->child, database.py:137-139), NEXT/PREV
  (consecutive-sibling chain both directions, database.py:140-151 —
  derived here with one window ``lag``, PREV is the swap of NEXT),
  TRIPLE (canonical subj->obj with predicate + provenance — the
  north-star entity graph).

Scale notes:
- both tables carry a ``bucket = pmod(xxhash64(id), N)`` column and
  are written ``partitionBy(bucket)`` — the plain-parquet equivalent
  of Iceberg ``bucket(N, node_id)`` partitioning: point lookups and
  id-equi-joins prune to one bucket.
- CHILD and NEXT derivation is one window over (url, parent) after a
  single shuffle; the CHILD parent id is computed from the window, not
  joined for, and PREV is a projection (no second shuffle).
- entity-degree metrics use two-phase **salted** aggregation: the head
  entity (one canonical id on ~20% of mentions) would otherwise land
  its entire count on one reducer. Salt -> partial agg -> final agg is
  the standard skew pattern; AQE skew-join handles the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.ids import bucket, node_id
from legal_knowledge_graph_spark.functions.text import summary_else_content

N_BUCKETS = 32

NODE_COLS = [
    "node_id",
    "label",
    "name",
    "url",
    "span_start",
    "span_end",
    "content",
    "summary",
    "order",
    "toc_json",
    "vector",
]


def _finish_nodes(df: DataFrame) -> DataFrame:
    return df.select(*NODE_COLS).withColumn("bucket", bucket("node_id", N_BUCKETS))


def corpus_nodes(extracted: DataFrame, doc_summaries: DataFrame, toc: DataFrame) -> DataFrame:
    """One Corpus node per url (reference database.py:84-102).

    name = final url path segment (reference uses file basename,
    database.py:86); toc_json = the document's TOC as a JSON string
    (database.py:87 stores json.dumps of the TOC dict).
    """
    return _finish_nodes(
        extracted.join(doc_summaries, "url", "left")
        .join(toc, "url", "left")
        .select(
            node_id("url", F.lit("Corpus")).alias("node_id"),
            F.lit("Corpus").alias("label"),
            F.element_at(F.split("url", "/"), -1).alias("name"),
            "url",
            F.lit(0).cast("long").alias("span_start"),
            F.length("text").cast("long").alias("span_end"),
            F.col("text").alias("content"),
            "summary",
            F.lit(0).alias("order"),
            "toc_json",
            F.lit(None).cast("array<float>").alias("vector"),
        )
    )


def build_toc(chunks: DataFrame) -> DataFrame:
    """(url, toc_json): nested {article: [section, ...]} from the chunk
    tree — the reference's TOC dict (table_of_contents_extractor
    output) reconstructed from structure."""
    secs = chunks.where("is_leaf").groupBy("url", "parent_path").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sibling_order", "path_key"))),
                lambda x: F.concat(F.lit('"'), x["path_key"], F.lit('"')),
            ),
            ",",
        ).alias("sec_arr"),
        F.min("span_start").alias("art_start"),
    )
    return secs.groupBy("url").agg(
        F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("art_start", "parent_path", "sec_arr"))
                    ),
                    lambda x: F.concat(
                        F.lit('"'), x["parent_path"], F.lit('":['), x["sec_arr"], F.lit("]")
                    ),
                ),
                ",",
            ),
            F.lit("}"),
        ).alias("toc_json")
    )


def chunk_nodes(chunks_abs: DataFrame) -> DataFrame:
    """Chunk nodes with ABSOLUTE spans. Expects ``chunks_abs`` to carry
    absolute span columns + summary. node_id is content-derived
    (url, path_key, span) — idempotent, unlike reference uuid4."""
    return _finish_nodes(
        chunks_abs.select(
            node_id("url", "path_key", "span_start", "span_end").alias("node_id"),
            F.lit("Chunk").alias("label"),
            F.element_at(F.split("path_key", "/"), -1).alias("name"),
            "url",
            "span_start",
            "span_end",
            "content",
            "summary",
            F.col("sibling_order").alias("order"),
            F.lit(None).cast("string").alias("toc_json"),
            F.lit(None).cast("array<float>").alias("vector"),
        )
    )


def entity_nodes(canonical_map: DataFrame) -> DataFrame:
    """One Entity node per canonical id (the KG side).

    ``link_entities`` sets a component's ``canonical_id`` to the min
    ``surface_norm`` over its distinct surfaces, so exactly one row per
    id has ``surface_norm == canonical_id``: a filter, not a
    ``distinct``."""
    return _finish_nodes(
        canonical_map.where(F.col("surface_norm") == F.col("canonical_id"))
        .select(
            node_id("canonical_id", F.lit("Entity")).alias("node_id"),
            F.lit("Entity").alias("label"),
            F.col("canonical_id").alias("name"),
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("long").alias("span_start"),
            F.lit(None).cast("long").alias("span_end"),
            F.lit(None).cast("string").alias("content"),
            F.lit(None).cast("string").alias("summary"),
            F.lit(0).alias("order"),
            F.lit(None).cast("string").alias("toc_json"),
            F.lit(None).cast("array<float>").alias("vector"),
        )
    )


def absolute_chunks(chunks: DataFrame) -> DataFrame:
    """Re-base body-relative chunk spans to absolute text offsets: a
    projection, since the chunker gives every row of a document its
    page's ``body_span_start``."""
    off = F.col("body_span_start")
    return (
        chunks.withColumn("span_start", F.col("span_start") + off)
        .withColumn("span_end", F.col("span_end") + off)
        .drop("body_span_start")
    )


def tree_edges(chunks_abs: DataFrame) -> DataFrame:
    """CHILD + NEXT + PREV edges from the chunk tree, in one window pass
    over (url, parent_path) — one exchange, no join.

    CHILD: Corpus->article (parent_path null) and article->section —
    reference database.py:137-139 + top-level chain 166-180.
    NEXT: lag over (url, parent) ordered by sibling_order — exactly the
    consecutive-sibling MERGE loop at database.py:140-151. PREV is the
    swap (the reference writes both directions explicitly).

    A CHILD edge's parent id is computed from its siblings, not joined
    for: the chunker's per-document pass gives each parent the span
    (min child start, max child end), and ``absolute_chunks`` adds the
    one ``body_span_start`` of the url to every row, so the parent's
    node id is
    ``node_id(url, parent_path, min(span_start), max(span_end))`` over
    the (url, parent_path) window. Roots (parent_path null) hang off
    the url's Corpus node.
    """
    w = Window.partitionBy("url", "parent_path")
    nid = node_id("url", "path_key", "span_start", "span_end")
    parent_nid = node_id(
        "url", "parent_path", F.min("span_start").over(w), F.max("span_end").over(w)
    )
    ch = chunks_abs.select(
        "url",
        nid.alias("nid"),
        F.when(F.col("parent_path").isNull(), node_id("url", F.lit("Corpus")))
        .otherwise(parent_nid)
        .alias("pid"),
        F.lag(nid).over(w.orderBy("sibling_order")).alias("prev_nid"),
    )
    child = ch.select(
        F.col("pid").alias("src_id"),
        F.col("nid").alias("dst_id"),
        F.lit("CHILD").alias("type"),
        F.lit(None).cast("string").alias("pred"),
        "url",
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
    )
    nxt = ch.where(F.col("prev_nid").isNotNull()).select(
        F.col("prev_nid").alias("src_id"),
        F.col("nid").alias("dst_id"),
        F.lit("NEXT").alias("type"),
        F.lit(None).cast("string").alias("pred"),
        "url",
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
    )
    prv = nxt.select(
        F.col("dst_id").alias("src_id"),
        F.col("src_id").alias("dst_id"),
        F.lit("PREV").alias("type"),
        "pred",
        "url",
        "span_start",
        "span_end",
    )
    return child.unionByName(nxt).unionByName(prv)


def triple_edges(canonical_triples: DataFrame) -> DataFrame:
    """(url, subj, pred, obj, span_start, span_end) -> TRIPLE edges
    between Entity nodes, provenance preserved."""
    return canonical_triples.select(
        node_id("subj", F.lit("Entity")).alias("src_id"),
        node_id("obj", F.lit("Entity")).alias("dst_id"),
        F.lit("TRIPLE").alias("type"),
        "pred",
        "url",
        "span_start",
        "span_end",
    )


def finish_edges(edges: DataFrame) -> DataFrame:
    return edges.withColumn("bucket", bucket("src_id", N_BUCKETS))


def attach_vectors(nodes: DataFrame, dim: int = 64) -> DataFrame:
    """Fill the vector column for non-Corpus nodes using the
    summary-else-content rule (reference database.py:153-157,
    search_chunk.py:42) — Corpus vectors use summary-else-content too
    (database.py:183-196). Pure map stage."""
    from typing import Iterator  # noqa: F401  (signature annotation)

    import pyarrow as pa
    import pyarrow.compute  # noqa: F401  (pa.compute used in run)

    from pyspark.sql import types as T

    from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel
    from legal_knowledge_graph_spark.operators.summarize import embed_texts_np

    # Round 6: the vector is computed INLINE in one map pass. The
    # previous shape ran a (node_id, text) embedding branch and JOINED
    # it back — a "pure map stage" that actually shuffled the full node
    # payload twice (both join sides hash-partitioned by node_id).
    with_text = nodes.withColumn(
        "_vec_text",
        summary_else_content(F.coalesce("summary", F.lit("")), F.coalesce("content", F.lit(""))),
    )
    out_cols = [f.name for f in nodes.schema.fields if f.name != "vector"]
    schema = T.StructType(
        [nodes.schema[c] for c in out_cols]
        + [T.StructField("vector", T.ArrayType(T.FloatType()), True)]
    )

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # mapInArrow, not mapInPandas: the node payload (content /
        # summary / toc_json) rides through as Arrow buffers — only
        # `_vec_text` (the one column the embedder needs) and `label`
        # are materialized as Python objects. The pandas form converted
        # every heavy string column to Python objects and back per
        # batch (round-6 second half).
        import numpy as np

        for batch in batches:
            ent = np.asarray(
                pa.compute.equal(batch.column("label"), "Entity").to_numpy(
                    zero_copy_only=False
                ),
                dtype=bool,
            )
            # Entity rows get a null vector: embed only the others
            texts = pa.compute.filter(batch.column("_vec_text"), pa.array(~ent))
            vecs = embed_texts_np([t or "" for t in texts.to_pylist()], dim)
            n = batch.num_rows
            counts = np.where(ent, 0, dim).astype(np.int64)
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            vec_arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(vecs.astype(np.float32).ravel(), pa.float32()),
                mask=pa.array(ent),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in out_cols] + [vec_arr],
                names=out_cols + ["vector"],
            )

    return ensure_parallel(with_text).mapInArrow(run, schema)


def entity_degrees_salted(triples: DataFrame, n_salts: int = 16) -> DataFrame:
    """(subj) degree counts via two-phase salted aggregation.

    The head entity concentrates ~20% of all triples on one key; a
    plain groupBy sends them to one reducer. Phase 1 groups on
    (subj, salt) — 16-way fan-out of the hot key — phase 2 sums the
    partials. Count aggregation is associative so the result is exact.
    """
    salted = triples.withColumn(
        "_salt", F.pmod(F.xxhash64("url", "span_start"), F.lit(n_salts))
    )
    partial = salted.groupBy("subj", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("subj").agg(F.sum("c").alias("degree"))
