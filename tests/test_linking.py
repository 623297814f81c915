"""Entity linking: LSH blocking + CC vs exact single-linkage semantics,
and the end-to-end triple P/R >= 0.95 gate (FIXTURES.md F3/F4)."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.datagen import (
    alias_table,
    generate_golden_triples,
    generate_pages,
    page_record,
)
from legal_knowledge_graph_spark.operators import cc
from legal_knowledge_graph_spark.operators.cc import connected_components
from legal_knowledge_graph_spark.operators.extract import extract_text
from legal_knowledge_graph_spark.operators.linking import link_entities
from legal_knowledge_graph_spark.operators.triples import (
    canonicalize_triples,
    detect_mentions,
    extract_triples,
)

N = 150


def _union_find_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_vs_union_find(spark):
    import random

    rng = random.Random(13)
    nodes = list(range(60))
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [e for e in edges if e[0] != e[1]]
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()
    }
    exp = _union_find_components(nodes, edges)
    # compare partitions restricted to nodes that appear in edges
    seen = {n for e in edges for n in e}
    for n in seen:
        assert got[n] == exp[n], n


def test_cc_driver_fast_path_equals_distributed(spark, monkeypatch):
    """The bounded driver union-find fast path (DRIVER_CAP) and the
    large-star/small-star loop (DRIVER_CAP=0 forces it) must produce
    identical assignments — including self-loop-only vertices, which
    only the distributed nodes table sees."""
    import random

    rng = random.Random(99)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(160)]
    edges += [(n, n) for n in range(500, 505)]  # self-loop-only nodes
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    monkeypatch.setattr(cc, "DRIVER_CAP", 0)
    dist = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert fast == dist
    for n in range(500, 505):
        assert fast[n] == n


def test_cc_raises_when_loop_does_not_converge(spark, monkeypatch):
    """A 64-node path needs more large-star/small-star rounds than
    MAX_ITER=2 allows: the loop must raise rather than return its
    unsettled state (which split the path into 60 components); with
    the default MAX_ITER it converges to the one true component."""
    path = spark.createDataFrame([(i, i + 1) for i in range(63)], ["src", "dst"])
    monkeypatch.setattr(cc, "DRIVER_CAP", 0)
    with monkeypatch.context() as m:
        m.setattr(cc, "MAX_ITER", 2)
        with pytest.raises(RuntimeError, match="MAX_ITER=2"):
            connected_components(path)
    comps = {r["component"] for r in connected_components(path).collect()}
    assert comps == {0}


def test_single_linkage_parity_vs_exact(spark):
    """CC over tau-thresholded cosine edges == exact single-linkage cut
    at distance tau (the C1 equivalence, utils/cluster.py:4-26)."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(6, 16))
    vecs, golden = [], []
    for c in range(6):
        for _ in range(8):
            v = centers[c] + rng.normal(scale=0.05, size=16)
            vecs.append(v)
            golden.append(c)
    X = np.array(vecs)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sim = Xn @ Xn.T
    tau = 0.25
    n = len(vecs)
    edges = [
        (i, j) for i, j in itertools.combinations(range(n), 2) if 1 - sim[i, j] < tau
    ]
    exp = _union_find_components(list(range(n)), edges)
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()
    }
    # same partition => same canonical min per component
    for i in range(n):
        assert got.get(i, i) == exp[i]
    # and the partition matches the planted clusters
    by_comp = {}
    for i in range(n):
        by_comp.setdefault(exp[i], set()).add(golden[i])
    assert all(len(s) == 1 for s in by_comp.values())
    assert len(by_comp) == 6


def test_linking_clusters_alias_variants(spark):
    """All five planted surface variants of an entity land in one
    cluster; distinct entities stay separate."""
    aliases = alias_table()[: 5 * 40]  # first 40 entities, all variants
    mentions = spark.createDataFrame(
        [(f"u{i}", s) for i, (s, _) in enumerate(aliases)], ["url", "surface"]
    )
    cmap = link_entities(mentions)
    rows = cmap.collect()
    # map each golden entity -> set of canonical ids its surfaces got
    from legal_knowledge_graph_spark.functions.text import normalize_surface

    norm_df = spark.createDataFrame(aliases, ["surface", "golden"]).withColumn(
        "surface_norm", normalize_surface(F.col("surface"))
    )
    joined = norm_df.join(cmap, "surface_norm").select("golden", "canonical_id").collect()
    by_golden = {}
    by_canon = {}
    for r in joined:
        by_golden.setdefault(r["golden"], set()).add(r["canonical_id"])
        by_canon.setdefault(r["canonical_id"], set()).add(r["golden"])
    # every golden entity collapses to exactly one canonical id
    assert all(len(v) == 1 for v in by_golden.values()), {
        k: v for k, v in by_golden.items() if len(v) > 1
    }
    # and no canonical id spans two golden entities
    assert all(len(v) == 1 for v in by_canon.values()), {
        k: v for k, v in by_canon.items() if len(v) > 1
    }


def test_triple_precision_recall_ge_095(spark):
    """The headline gate: end-to-end extract -> link -> canonicalize,
    exact (subj, pred, obj) match per url vs golden, P/R >= 0.95."""
    pages = generate_pages(spark, N)
    extracted = extract_text(pages)
    mentions = detect_mentions(extracted)
    raw = extract_triples(extracted)
    cmap = link_entities(mentions)
    triples = canonicalize_triples(raw, cmap)

    # translate canonical ids (lexicographic min normalized surface) to
    # golden ENT ids via the alias table
    from legal_knowledge_graph_spark.functions.text import normalize_surface

    alias = spark.createDataFrame(alias_table(), ["surface", "golden"]).withColumn(
        "surface_norm", normalize_surface(F.col("surface"))
    )
    canon_to_golden = (
        cmap.join(alias, "surface_norm")
        .groupBy("canonical_id")
        .agg(F.collect_set("golden").alias("gs"))
        .collect()
    )
    mapping = {}
    for r in canon_to_golden:
        assert len(r["gs"]) == 1, f"impure cluster {r['canonical_id']}: {r['gs']}"
        mapping[r["canonical_id"]] = r["gs"][0]

    got = {
        (r["url"], mapping.get(r["subj"], r["subj"]), r["pred"], mapping.get(r["obj"], r["obj"]))
        for r in triples.collect()
    }
    exp = {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in generate_golden_triples(spark, N).collect()
    }
    tp = len(got & exp)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(exp), 1)
    assert precision >= 0.95, (precision, list(got - exp)[:5])
    assert recall >= 0.95, (recall, list(exp - got)[:5])
    # spans must also match exactly for true positives (extractor finds
    # the planted sentences at their recorded offsets)
    golden_spans = {
        (r["url"], r["span_start"], r["span_end"])
        for r in generate_golden_triples(spark, N).collect()
    }
    got_spans = {
        (r["url"], r["span_start"], r["span_end"]) for r in triples.collect()
    }
    assert len(got_spans & golden_spans) / max(len(golden_spans), 1) >= 0.95


def test_head_entity_skew_planted(spark):
    """ENT0 must dominate mentions (~20%) — the skew the salting /
    AQE-skew-join design is built for."""
    recs = [page_record(i) for i in range(200)]
    all_triples = [t for r in recs for t in r["triples"]]
    ent0 = sum(1 for t in all_triples if t[0] == "ENT0" or t[2] == "ENT0")
    frac = ent0 / len(all_triples)
    assert 0.15 < frac < 0.45, frac


def test_cluster_entity_vectors_single_linkage_parity(spark):
    """C1 vector tier == exact single-linkage at cosine distance 0.25
    (union-find over the threshold graph as the in-memory oracle —
    FIXTURES.md F4 semantics)."""
    import numpy as np

    rng = np.random.RandomState(7)
    centroids = rng.randn(6, 16)
    rows = []
    golden = []
    eid = 0
    for c in range(6):
        for _ in range(5):
            v = centroids[c] + 0.05 * rng.randn(16)
            rows.append((eid, [float(x) for x in v]))
            golden.append(c)
            eid += 1
    # two isolated outliers
    for _ in range(2):
        v = rng.randn(16) * 10
        rows.append((eid, [float(x) for x in v]))
        golden.append(-eid)
        eid += 1

    df = spark.createDataFrame(rows, "entity_id long, vector array<float>")
    got = {
        r["entity_id"]: r["cluster_id"]
        for r in __import__(
            "legal_knowledge_graph_spark.operators.linking", fromlist=["x"]
        ).cluster_entity_vectors(df, "entity_id", "vector").collect()
    }

    # in-memory oracle: union-find over pairs with cosine sim > 0.75
    # computed from the SAME float32 vectors the engine reads back
    vecs = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    n = len(vecs)
    norms = np.linalg.norm(vecs, axis=1)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            sim = float(vecs[i] @ vecs[j] / (norms[i] * norms[j]))
            if sim >= 0.75:
                parent[find(i)] = find(j)
    oracle = {}
    for i in range(n):
        oracle.setdefault(find(i), []).append(i)

    # same partition (cluster ids may differ; compare partitions)
    got_parts = {}
    for e, c in got.items():
        got_parts.setdefault(c, set()).add(e)
    assert sorted(map(sorted, got_parts.values())) == sorted(
        sorted(v) for v in oracle.values()
    )
    # planted structure recovered: 6 clusters of 5 + 2 singletons
    sizes = sorted(len(v) for v in got_parts.values())
    assert sizes == [1, 1, 5, 5, 5, 5, 5, 5]


def test_score_pairs_pruned_equals_unpruned(spark):
    """The pruning ladder (length bound + real_quick_ratio/quick_ratio
    early-exit) must be invisible: pruned-at-threshold == unpruned
    scored-then-filtered, scores bit-identical (same difflib ratio)."""
    from legal_knowledge_graph_spark.functions.text import normalize_surface
    from legal_knowledge_graph_spark.operators.linking import (
        candidate_pairs,
        score_pairs,
    )

    aliases = alias_table()[: 5 * 60]
    surfaces = (
        spark.createDataFrame([(s,) for s, _ in aliases], ["surface"])
        .select(normalize_surface(F.col("surface")).alias("surface_norm"))
        .where(F.length("surface_norm") > 0)
        .distinct()
    )
    pairs = candidate_pairs(surfaces).localCheckpoint()
    assert pairs.count() > 50  # the comparison is non-trivial
    for thr in (0.84, 0.5):
        exact = {
            (r["left"], r["right"]): r["score"]
            for r in score_pairs(pairs).where(F.col("score") >= thr).collect()
        }
        pruned = {
            (r["left"], r["right"]): r["score"]
            for r in score_pairs(pairs, threshold=thr).collect()
        }
        assert pruned == exact


def _digest(df):
    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    return len(rows), hashlib.sha1(repr(rows).encode()).hexdigest()[:10]


def test_lsh_blocking_rows_pinned(spark, monkeypatch):
    """Linking blocks through dedup's LSH primitives (shingles, the
    permutation-min signatures, the capped band self-join) with an
    xxhash64 gram hash. Its rows are pinned on 200 seeded pages: the
    candidate pairs under the default bucket cap and under a cap of 3
    (which drops most buckets), and the canonical map built on them."""
    from legal_knowledge_graph_spark.functions.text import normalize_surface
    from legal_knowledge_graph_spark.operators import linking
    from legal_knowledge_graph_spark.operators.linking import candidate_pairs

    mentions = detect_mentions(
        extract_text(generate_pages(spark, 200, seed=7))
    ).localCheckpoint()
    surfaces = (
        mentions.select(normalize_surface(F.col("surface")).alias("surface_norm"))
        .where(F.length("surface_norm") > 0)
        .distinct()
        .localCheckpoint()
    )
    assert _digest(candidate_pairs(surfaces)) == (14808, "7bf93c1a79")
    assert _digest(link_entities(mentions)) == (665, "4215ce3c2a")
    monkeypatch.setattr(linking, "MAX_BLOCK", 3)
    assert _digest(candidate_pairs(surfaces)) == (534, "57ac738f4e")


def test_link_entities_job_count(spark):
    """Linking computes its CC node ids (``xxhash64(surface)``) and its
    canonical ids (a window min over the component) in place instead of
    joining a sid map and a per-component aggregate back: building and
    collecting the canonical map of 200 alias surfaces runs at most 14
    Spark jobs."""
    aliases = alias_table()[: 5 * 40]
    mentions = spark.createDataFrame(
        [(f"u{i}", s) for i, (s, _) in enumerate(aliases)], ["url", "surface"]
    ).localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("test-link-jobs", "test-link-jobs")
    try:
        rows = link_entities(mentions).collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(rows) == 80
    assert len(sc.statusTracker().getJobIdsForGroup("test-link-jobs")) <= 14
