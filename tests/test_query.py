"""Query surface (Q1-Q5) over a materialized graph + span-overlap P/R
harness (FIXTURES.md F6 semantics)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.datagen import generate_pages
from legal_knowledge_graph_spark.functions.text import summary_else_content
from legal_knowledge_graph_spark.operators.query import (
    cosine,
    get_corpus_toc,
    lookup_by_id,
    resolve_response,
    search_children,
    search_corpus,
    search_neighbors,
    span_overlap_pr,
)
from legal_knowledge_graph_spark.operators.summarize import embed_texts_np
from legal_knowledge_graph_spark.pipeline import run_pipeline

N = 30


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    wd = tmp_path_factory.mktemp("graph")
    pages = generate_pages(spark, N)
    out = run_pipeline(spark, pages, str(wd))
    return {"pages": pages, **out}


def test_q1_search_corpus(graph):
    rows = search_corpus(graph["nodes"]).collect()
    assert len(rows) == N
    names = [r["contract_name"] for r in rows]
    assert names == sorted(names)


def test_q2_toc(graph):
    cid = search_corpus(graph["nodes"]).first()["contract_id"]
    toc = get_corpus_toc(graph["nodes"], cid).collect()
    assert len(toc) == 1
    parsed = json.loads(toc[0]["toc_json"])
    assert all(k.startswith("ARTICLE_") for k in parsed)
    assert all(isinstance(v, list) and v for v in parsed.values())


def test_q3_topk_cosine_retrieval(graph):
    """Querying with a section's own text must retrieve that section
    first among its siblings (deterministic embeddings make this
    exact)."""
    nodes, edges = graph["nodes"], graph["edges"]
    # pick an article with >= 2 sections
    art = (
        nodes.where((F.col("label") == "Chunk") & F.col("name").startswith("ARTICLE"))
        .orderBy("url", "order")
        .first()
    )
    kids = (
        edges.where((F.col("type") == "CHILD") & (F.col("src_id") == art["node_id"]))
        .join(nodes, F.col("dst_id") == F.col("node_id"))
        .select("node_id", "summary", "content")
        .collect()
    )
    assert len(kids) >= 2
    target = kids[0]
    qtext = target["summary"] or target["content"]
    qvec = [float(x) for x in embed_texts_np([qtext])[0]]
    res = search_children(nodes, edges, art["node_id"], qvec, top_k=3).collect()
    assert res, "no results"
    assert res[0]["node_id"] == target["node_id"]
    assert res[0]["score"] == pytest.approx(1.0, abs=1e-5)
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)

    # Sub-variant quirk parity (reference search_chunk.py:108-118):
    # returns a `leaf` column that is ALWAYS null (the property is
    # never written by the reference's write path).
    sub = search_children(
        nodes, edges, art["node_id"], qvec, top_k=3, sub_variant=True
    ).collect()
    assert [r["node_id"] for r in sub] == [r["node_id"] for r in res]
    assert all(r["leaf"] is None for r in sub)


def test_q4_neighbors(graph):
    nodes, edges = graph["nodes"], graph["edges"]
    mid = (
        edges.where(F.col("type") == "NEXT")
        .groupBy("dst_id")
        .count()
        .join(
            edges.where(F.col("type") == "NEXT").select(F.col("src_id").alias("dst_id")),
            "dst_id",
        )
        .first()["dst_id"]
    )
    nb = search_neighbors(nodes, edges, mid).collect()
    assert len(nb) == 2  # middle sibling has both prev and next


def test_q5_resolve_and_bucket_pruning(graph):
    nodes, pages = graph["nodes"], graph["pages"]
    some = (
        nodes.where((F.col("label") == "Chunk") & F.col("name").startswith("section"))
        .limit(3)
        .collect()
    )
    ids = [r["node_id"] for r in some]
    res = {r["node_id"]: r for r in resolve_response(nodes, pages, ids).collect()}
    assert set(res) == set(ids)
    # recomputed spans must equal the materialized absolute spans
    # (planted content is unique within each page)
    for r in some:
        assert res[r["node_id"]]["span_start"] == r["span_start"]
        assert res[r["node_id"]]["span_end"] == r["span_end"]

    pruned = lookup_by_id(nodes, ids)
    assert pruned.count() == len(ids)
    # the plan carries a partition filter on bucket
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


# Unpruned full-scan formulations of Q3-Q5: no bucket predicate, NEXT
# edges only. The pruned tools must give the same rows on every input.


def _text():
    return summary_else_content(
        F.coalesce("summary", F.lit("")), F.coalesce("content", F.lit(""))
    ).alias("text")


def _full_scan_children(nodes, edges, parent_id, qv, top_k=5):
    kids = edges.where(
        (F.col("type") == "CHILD") & (F.col("src_id") == parent_id)
    ).select(F.col("dst_id").alias("node_id"))
    q = F.array(*[F.lit(float(x)) for x in qv])
    return (
        nodes.join(kids, "node_id")
        .where(F.col("vector").isNotNull())
        .withColumn("score", cosine(F.col("vector"), q))
        .where(F.col("score") > 0.0)
        .select("node_id", "name", _text(), "score")
        .orderBy(F.desc("score"), "node_id")
        .limit(top_k)
    )


def _full_scan_neighbors(nodes, edges, chunk_id):
    nxt = edges.where(F.col("type") == "NEXT")
    fwd = nxt.where(F.col("src_id") == chunk_id).select(F.col("dst_id").alias("node_id"))
    bwd = nxt.where(F.col("dst_id") == chunk_id).select(F.col("src_id").alias("node_id"))
    nb = fwd.unionByName(bwd).dropDuplicates(["node_id"])
    return nodes.join(nb, "node_id").select("node_id", "name", _text())


def _full_scan_resolve(nodes, pages, chunk_ids):
    sel = nodes.where(F.col("node_id").isin([int(i) for i in chunk_ids]))
    loc = F.expr("instr(text, content)")
    return (
        sel.select("node_id", "name", "url", "content")
        .join(pages.select("url", "text"), "url")
        .withColumn("_loc", loc)
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


def _same_rows(got, want) -> list:
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in want.collect())
    return rows


def test_q5_degenerate_ids_match_full_scan(graph):
    nodes, pages = graph["nodes"], graph["pages"]
    chunks = [
        r["node_id"]
        for r in nodes.where(F.col("label") == "Chunk").orderBy("node_id").limit(2).collect()
    ]
    missing = 1 + max(r["node_id"] for r in nodes.select("node_id").collect())
    found = _same_rows(
        resolve_response(nodes, pages, chunks), _full_scan_resolve(nodes, pages, chunks)
    )
    assert found
    for ids, want in [([], []), (chunks + chunks[:1] * 3, found), ([missing, *chunks], found)]:
        rows = _same_rows(
            resolve_response(nodes, pages, ids), _full_scan_resolve(nodes, pages, ids)
        )
        assert rows == want, ids


def test_q3_childless_parent_matches_full_scan(graph):
    nodes, edges = graph["nodes"], graph["edges"]
    parents = edges.where(F.col("type") == "CHILD").select(F.col("src_id").alias("node_id"))
    leaf = (
        nodes.where(F.col("label") == "Chunk")
        .join(parents, "node_id", "left_anti")
        .orderBy("node_id")
        .first()
    )
    qv = [float(x) for x in leaf["vector"]]
    rows = _same_rows(
        search_children(nodes, edges, leaf["node_id"], qv),
        _full_scan_children(nodes, edges, leaf["node_id"], qv),
    )
    assert rows == []


def test_q4_chain_ends_and_lone_node_match_full_scan(graph):
    """A first and a last sibling have one neighbour each; a node with
    no NEXT/PREV edge (a Corpus node: every Chunk of the fixture has a
    sibling) has none."""
    nodes, edges = graph["nodes"], graph["edges"]
    nxt = edges.where(F.col("type") == "NEXT")
    first = nxt.join(nxt.select(F.col("dst_id").alias("src_id")), "src_id", "left_anti")
    last = nxt.join(nxt.select(F.col("src_id").alias("dst_id")), "dst_id", "left_anti")
    lone = nodes.where(F.col("label") == "Corpus").orderBy("node_id").first()["node_id"]
    cases = [
        (first.orderBy("src_id").first()["src_id"], 1),
        (last.orderBy("dst_id").first()["dst_id"], 1),
        (lone, 0),
    ]
    for chunk, n in cases:
        rows = _same_rows(
            search_neighbors(nodes, edges, chunk), _full_scan_neighbors(nodes, edges, chunk)
        )
        assert len(rows) == n, chunk


def test_span_overlap_pr(spark):
    retrieved = spark.createDataFrame(
        [(1, "u", 0, 10), (1, "u", 20, 30), (2, "u", 0, 4)],
        "query_id long, url string, span_start long, span_end long",
    )
    golden = spark.createDataFrame(
        [(1, "u", 5, 25), (2, "v", 0, 4)],
        "query_id long, url string, span_start long, span_end long",
    )
    pr = {r["query_id"]: r for r in span_overlap_pr(retrieved, golden).collect()}
    # q1: overlap = (5..10)+(20..25) = 10; retrieved len 20, golden len 20
    assert pr[1]["precision"] == pytest.approx(0.5)
    assert pr[1]["recall"] == pytest.approx(0.5)
    # q2: no overlapping url -> 0
    assert pr[2]["precision"] == 0.0
    assert pr[2]["recall"] == 0.0
