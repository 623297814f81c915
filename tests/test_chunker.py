"""Chunk tree vs golden spans (FIXTURES.md F5).

The spans must be EARNED by the fuzzy alignment kernel (the
reference's propose->align path, chunker.py:93-121 + 150-196), not
copied from the heading regex — so exact golden-span equality here
proves the aligner recovers planted boundaries including through the
repeated-filler tie-breaking cases.
"""

from __future__ import annotations

from legal_knowledge_graph_spark.datagen import (
    generate_golden_chunks,
    generate_pages,
)
from legal_knowledge_graph_spark.operators.chunker import chunk_documents
from legal_knowledge_graph_spark.operators.extract import extract_text

N = 80


def test_chunk_tree_matches_golden(spark):
    extracted = extract_text(generate_pages(spark, N))
    got = {
        (r["url"], r["path_key"]): r
        for r in chunk_documents(extracted).collect()
    }
    golden = {
        (r["url"], r["path_key"]): r
        for r in generate_golden_chunks(spark, N).collect()
    }
    assert set(got) == set(golden)
    for key, g in golden.items():
        r = got[key]
        assert (r["span_start"], r["span_end"]) == (g["span_start"], g["span_end"]), key
        assert r["parent_path"] == g["parent_path"], key
        assert r["depth"] == g["depth"], key
        assert r["sibling_order"] == g["sibling_order"], key


def test_internal_node_aggregation(spark):
    """Article content == concat of section contents in sibling order;
    article span == (min child start, max child end) — reference
    transform_tree semantics (chunker.py:172-174)."""
    extracted = extract_text(generate_pages(spark, 12))
    chunks = chunk_documents(extracted).collect()
    by_parent: dict = {}
    for r in chunks:
        if r["is_leaf"]:
            by_parent.setdefault((r["url"], r["parent_path"]), []).append(r)
    arts = {(r["url"], r["path_key"]): r for r in chunks if not r["is_leaf"]}
    assert arts
    for (url, parent), kids in by_parent.items():
        kids.sort(key=lambda r: r["sibling_order"])
        a = arts[(url, parent)]
        assert a["span_start"] == min(k["span_start"] for k in kids)
        assert a["span_end"] == max(k["span_end"] for k in kids)
        assert a["content"] == "".join(k["content"] for k in kids)


def test_summarize_tree_partition_local_equals_level_join(spark):
    """Round 6: summarize_tree runs the level loop inside one Arrow
    pass over url-partitioned chunks. Pin it against the previous
    global join-per-level formulation on an adversarial tree:
    3 depths, childless parent (null summary), blank-summary fallback
    to content, duplicate sibling_order (child_text tiebreak), a leaf
    at an intermediate depth, unicode, empty content."""
    from pyspark.sql import functions as F

    from legal_knowledge_graph_spark.operators.summarize import (
        _summ_stage,
        summarize_tree,
    )

    def summarize_tree_reference(chunks):
        keep = ["url", "path_key"]
        depths = sorted(
            (r["depth"] for r in chunks.select("depth").distinct().collect()),
            reverse=True,
        )
        leaf_sum = _summ_stage(chunks.where("is_leaf"), "content", keep)
        summaries = leaf_sum
        for d in [d for d in depths if d < depths[0]]:
            parents = chunks.where((F.col("depth") == d) & ~F.col("is_leaf"))
            kids = (
                chunks.where(F.col("depth") == d + 1)
                .join(summaries, ["url", "path_key"], "left")
                .select(
                    "url",
                    F.col("parent_path").alias("path_key"),
                    "sibling_order",
                    F.when(
                        F.length(F.trim(F.coalesce("summary", F.lit("")))) > 0,
                        F.col("summary"),
                    )
                    .otherwise(F.col("content"))
                    .alias("child_text"),
                )
            )
            agg_in = kids.groupBy("url", "path_key").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("sibling_order", "child_text"))
                        ),
                        lambda x: x["child_text"],
                    ),
                    "\n\n",
                ).alias("agg_text")
            )
            lvl = _summ_stage(
                parents.select("url", "path_key").join(agg_in, ["url", "path_key"]),
                "agg_text",
                keep,
            )
            summaries = summaries.unionByName(lvl)
        return chunks.join(summaries, ["url", "path_key"], "left")

    data = [
        ("u1", "A", None, 1, 0, "", False),
        ("u1", "A/x", "A", 2, 1, "Zeta one. Two. Three.", True),
        ("u1", "A/y", "A", 2, 1, "Alpha one. Two.", True),
        ("u1", "A/z", "A", 2, 0, "  ", True),
        ("u1", "B", None, 1, 1, "self content here. More.", True),
        ("u1", "C", None, 1, 2, "childless parent", False),
        ("u2", "A", None, 1, 0, "", False),
        ("u2", "A/m", "A", 2, 0, "", False),
        ("u2", "A/m/1", "A/m", 3, 0, "deep leaf. ünïcode ™.", True),
        ("u2", "A/m/2", "A/m", 3, 1, "another deep. x.", True),
        ("u3", "solo", None, 1, 0, "single. doc.", True),
    ]
    df = spark.createDataFrame(
        data,
        "url string, path_key string, parent_path string, depth int,"
        " sibling_order int, content string, is_leaf boolean",
    )
    got = sorted(tuple(r) for r in summarize_tree(df).collect())
    want = sorted(tuple(r) for r in summarize_tree_reference(df).collect())
    assert got == want


def _chunk_tree_by_aggregation(leaves):
    """Article rows derived from the section rows in Catalyst: a
    groupBy(url, parent_path) aggregate, a row_number window for the
    article's sibling_order and a union (the chunker's first
    formulation)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    art = leaves.groupBy("url", "parent_path").agg(
        F.min("span_start").alias("span_start"),
        F.max("span_end").alias("span_end"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sibling_order", "content"))),
                lambda x: x["content"],
            ),
            "",
        ).alias("content"),
    )
    w = Window.partitionBy("url").orderBy("span_start")
    return leaves.unionByName(
        art.select(
            "url",
            F.col("parent_path").alias("path_key"),
            F.lit(None).cast("string").alias("parent_path"),
            F.lit(1).alias("depth"),
            (F.row_number().over(w) - 1).alias("sibling_order"),
            "span_start",
            "span_end",
            "content",
            F.lit(False).alias("is_leaf"),
        )
    )


def test_one_pass_tree_equals_aggregation(spark):
    """The chunker emits each document's article rows in the pass that
    aligns its sections; they equal the Catalyst aggregation of those
    sections on 80 generated pages, on zero rows, and on a body whose
    ARTICLE heading has no Section (no article row). Every row carries
    its page's body_span_start."""
    from pyspark.sql import functions as F

    cols = [
        "url", "path_key", "parent_path", "depth", "sibling_order",
        "span_start", "span_end", "content", "is_leaf",
    ]
    no_section = spark.createDataFrame(
        [("u0", "ARTICLE I. Definitions only, no sections here.", 7)],
        "url string, body string, body_span_start long",
    )
    extracted = extract_text(generate_pages(spark, N))
    cases = [
        extracted,
        extracted.where(F.lit(False)),
        no_section,
        extracted.select("url", "body", "body_span_start").unionByName(no_section),
    ]
    for pages in cases:
        tree = chunk_documents(pages)
        got = sorted(tuple(r) for r in tree.select(*cols).collect())
        want = sorted(
            tuple(r)
            for r in _chunk_tree_by_aggregation(tree.where("is_leaf").select(*cols)).collect()
        )
        assert got == want
        offs = dict(pages.select("url", "body_span_start").collect())
        assert all(offs[r["url"]] == r["body_span_start"] for r in tree.collect())
    assert chunk_documents(no_section).count() == 0
    assert len(got) > N
