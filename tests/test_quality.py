"""Quality-filter operators: repetition stats, PII scrub, benchmark
contamination — hand-computed cases."""

from __future__ import annotations

from legal_knowledge_graph_spark.operators.quality import (
    ngram_contamination,
    pii_scrub,
    repetition_stats,
)


def test_repetition_stats_hand_computed(spark):
    rows = [
        # 4 lines, 2 of them duplicates of line 1 -> dup frac 2/4
        (0, "nav bar\nnav bar\nnav bar\nreal content here"),
        # degenerate bigram text: "spam spam spam spam" -> bigrams
        # ["spam spam"]*3 -> top 3/3
        (1, "spam spam spam spam"),
        # all-distinct prose
        (2, "alpha beta gamma delta"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}

    assert got[0]["n_lines"] == 4
    assert got[0]["dup_line_frac_x1000"] == 500
    assert got[1]["n_bigrams"] == 3
    assert got[1]["top_bigram_count"] == 3
    assert got[1]["top_bigram_frac_x1000"] == 1000
    # "spam" x4 -> 1 distinct / 4 tokens
    assert got[1]["distinct_token_ratio_x1000"] == 250
    assert got[2]["top_bigram_count"] == 1
    assert got[2]["top_bigram_frac_x1000"] == 333
    assert got[2]["distinct_token_ratio_x1000"] == 1000
    assert got[3]["n_bigrams"] == 0
    assert got[3]["top_bigram_count"] == 0
    assert got[3]["distinct_token_ratio_x1000"] == 0


def test_pii_scrub_redacts_and_counts(spark):
    rows = [
        (0, "reach me at jane.doe+x@example.co.uk or 555-123-4567 ok"),
        (1, "call 555.123.4567 and 555-000-1111"),
        (2, "no pii here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df, "doc_id", "text").collect()}
    assert got[0]["n_emails"] == 1 and got[0]["n_phones"] == 1
    assert "<EMAIL>" in got[0]["text_redacted"]
    assert "<PHONE>" in got[0]["text_redacted"]
    assert "jane.doe" not in got[0]["text_redacted"]
    assert "4567" not in got[0]["text_redacted"]
    assert got[1]["n_phones"] == 2 and got[1]["n_emails"] == 0
    assert got[2]["text_redacted"] == "no pii here"
    assert got[3]["n_emails"] == 0 and got[3]["text_redacted"] == ""


def test_ngram_contamination_flags_exact_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "a completely different document with fresh words"),
            # two distinct contaminated 3-grams
            (2, "quick brown fox and lazy dog tonight whatever"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("quick brown fox",), ("lazy dog tonight",)], "q string"
    )
    got = {
        r["doc_id"]: r["n_contaminated_ngrams"]
        for r in ngram_contamination(docs, bench, "doc_id", "text", "q", n=3).collect()
    }
    assert got[0] >= 2  # contains both benchmark 3-grams
    assert 1 not in got  # clean doc absent from the result
    assert got[2] == 2


def test_ngram_contamination_plan_never_shuffles_corpus(spark):
    """Round 6: the bounded-bench path matches token-id windows inside
    one Arrow pass — the corpus side must reach the map stage with no
    join and no explode; the only aggregation is over matched rows."""
    docs = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b c",)], "q string")
    plan = (
        ngram_contamination(docs, bench, "doc_id", "text", "q", n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "Join" not in plan and "Generate" not in plan  # no join, no explode


def test_ngram_contamination_oversized_bench_falls_back_to_join(spark, monkeypatch):
    """Above MAX_BENCH_GRAMS the broadcast semi-join plan (the scale
    fallback) must be used and produce the same rows."""
    from legal_knowledge_graph_spark.operators import quality

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x y z")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("a b c",), ("b c d",)], "q string")
    fast = sorted(
        tuple(r)
        for r in ngram_contamination(docs, bench, "doc_id", "text", "q", n=3).collect()
    )
    monkeypatch.setattr(quality, "MAX_BENCH_GRAMS", 1)
    slow_df = ngram_contamination(docs, bench, "doc_id", "text", "q", n=3)
    plan = slow_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert sorted(tuple(r) for r in slow_df.collect()) == fast
