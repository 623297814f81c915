"""Entity linking & canonicalization (C1 decomposition).

Distributed decomposition of the reference's in-memory single-linkage
clustering (reference: utils/cluster.py:4-26), per the north star:

1. **Normalize** surfaces natively (lower, suffix unification) — the
   exact-match tier collapses case/suffix variants for free.
2. **Block** with MinHash-LSH over character 3-gram shingles, using
   dedup's primitives: ``shingles`` -> one xxhash64 per gram -> the
   shared permutation-min aggregate -> ``lsh_candidate_pairs`` (band
   keys, bucket cap, self-join on band key). Deterministic, no fitted
   model, no pyspark.ml dependency.
3. **Score** candidate pairs with ``difflib.SequenceMatcher.ratio``
   (the same family as the F1 alignment kernel) in a batched Arrow
   stage; keep pairs with ratio >= threshold as edges.
4. **Cluster** edges with large-star/small-star connected components;
   canonical id = lexicographic min normalized surface per component.

Scale design:
- everything is keyed by *distinct normalized surface*, not mention —
  the mention table (trillions of rows at 10^12 docs) is reduced with
  one map-side-combinable ``distinct`` before any pairwise work.
- band buckets are capped (``MAX_BLOCK``): a stop-surface bucket of B
  members would otherwise emit B^2 pairs. The cap is dedup's
  ``_banded_pairs``; ``dedup.lsh_candidate_pairs(metrics=)`` counts
  the dropped buckets of a signature table when needed.
- the canonical map output is small (distinct surfaces), so consumers
  broadcast it against the triple table — the big table never
  shuffles for canonicalization.
"""

from __future__ import annotations

import difflib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from legal_knowledge_graph_spark.functions.text import normalize_surface
from legal_knowledge_graph_spark.operators.cc import connected_components
from legal_knowledge_graph_spark.operators.dedup import (
    MINHASH_P,
    _perm_min,
    embedding_near_duplicates,
    lsh_candidate_pairs,
    shingles,
)

BANDS = 8
ROWS_PER_BAND = 2
RATIO_THRESHOLD = 0.84
MAX_BLOCK = 64


def candidate_pairs(surfaces: DataFrame) -> DataFrame:
    """surfaces(surface_norm) -> (left, right) candidate pairs.

    MinHash with ``BANDS * ROWS_PER_BAND`` permutations; a pair is a
    candidate if all minhashes of any band agree (band buckets capped at
    ``MAX_BLOCK`` members). Returns normalized surface string pairs with
    left < right.

    The shingles, the permutation-min signatures and the capped band
    self-join are dedup's; only the gram hash differs: one xxhash64 per
    gram (dedup uses md5, which its DuckDB oracle reproduces).
    """
    n_perm = BANDS * ROWS_PER_BAND
    sh = shingles(surfaces, "surface_norm", "surface_norm")
    g = F.pmod(F.xxhash64(F.col("gram")), F.lit(MINHASH_P))
    sigs = _perm_min(sh.select("doc_id", g.alias("g")), n_perm)
    return lsh_candidate_pairs(sigs, n_perm, BANDS, MAX_BLOCK).select(
        F.col("doc_a").alias("left"), F.col("doc_b").alias("right")
    )


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


_NUM_RE = __import__("re").compile(r"\d+")


def _pair_score(a: str, b: str) -> float:
    """Fuzzy pair score with a numeric-identifier gate.

    Distinct numeric tokens are strong evidence of distinct entities
    (doc numbers, entity registry ids): if the numeric-token sequences
    differ, the pair scores 0 regardless of string similarity — this is
    what keeps 'solar falcon 101 corp' and 'polar falcon 109 corp'
    apart while still merging typo variants of the same entity.
    """
    if _NUM_RE.findall(a) != _NUM_RE.findall(b):
        return 0.0
    return difflib.SequenceMatcher(None, a, b).ratio()


def score_pairs(pairs: DataFrame, threshold: float | None = None) -> DataFrame:
    """Batched fuzzy scoring of candidate pairs (Arrow batches).

    With ``threshold`` set, only pairs scoring >= threshold are emitted
    (their scores are EXACT ratios) and the per-pair cost drops via the
    same pruning ladder the align kernel proves safe under a difflib
    oracle (operators/align.py:100-118): numeric gate, then the length
    upper bound ``2*min(la,lb)/(la+lb)``, then ``real_quick_ratio`` /
    ``quick_ratio`` — each an upper bound on ``ratio()``, so a pair any
    rung proves below threshold cannot be kept and skips the quadratic
    ``ratio()`` entirely. ``threshold=None`` scores every pair exactly
    (the audit path; tests assert the two paths agree on kept pairs).
    """

    def run_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scores = [_pair_score(a, b) for a, b in zip(pdf["left"], pdf["right"])]
            yield pd.DataFrame({"left": pdf["left"], "right": pdf["right"], "score": scores})

    if threshold is None or threshold <= 0.0:
        # thr <= 0 keeps everything (even numeric-gated zeros), so the
        # pruned path's skip-on-gate would change the result — score all
        out = pairs.mapInPandas(run_all, _PAIR_SCHEMA)
        return out if threshold is None else out.where(F.col("score") >= threshold)

    thr = float(threshold)

    def run_pruned(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_l, keep_r, keep_s = [], [], []
            for a, b in zip(pdf["left"], pdf["right"]):
                if _NUM_RE.findall(a) != _NUM_RE.findall(b):
                    continue  # numeric gate: score would be 0.0
                la, lb = len(a), len(b)
                if la + lb > 0 and 2.0 * min(la, lb) / (la + lb) < thr:
                    continue
                m = difflib.SequenceMatcher(None, a, b)
                if m.real_quick_ratio() < thr or m.quick_ratio() < thr:
                    continue
                score = m.ratio()
                if score >= thr:
                    keep_l.append(a)
                    keep_r.append(b)
                    keep_s.append(score)
            yield pd.DataFrame({"left": keep_l, "right": keep_r, "score": keep_s})

    return pairs.mapInPandas(run_pruned, _PAIR_SCHEMA)


def link_entities(mentions: DataFrame) -> DataFrame:
    """mentions(url, surface, ...) -> canonical map
    (surface_norm, canonical_id, component).

    A surface's CC node id is ``xxhash64(surface_norm)``, computed in
    place on both ends of every scored pair (``RATIO_THRESHOLD``), and
    ``component`` is the smallest such id in its connected component (a
    surface in no kept pair is its own component). ``canonical_id`` is
    the lexicographically smallest normalized surface in the component,
    one window over ``component`` (components are small: the largest
    holds 2 surfaces at 500 and 4,000 seeded pages) — deterministic and
    content-derived, so re-runs produce identical ids (idempotent
    materialization).
    """
    # The distinct surface table is the stage's hub: candidate_pairs and
    # the final assignment both consume it, and the CC convergence loop
    # adds its own actions on top — without a checkpoint the
    # mention-scan -> normalize -> distinct lineage re-executes once per
    # downstream action (measured 3x at bench SF). It is also the SMALL
    # table of the design (distinct surfaces, not mentions), so
    # materializing it is cheap at any scale.
    surfaces = (
        mentions.select(normalize_surface(F.col("surface")).alias("surface_norm"))
        .where(F.length("surface_norm") > 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = score_pairs(candidate_pairs(surfaces), threshold=RATIO_THRESHOLD).select(
        F.xxhash64("left").alias("src"), F.xxhash64("right").alias("dst")
    )
    comp = connected_components(edges)
    sid = F.xxhash64("surface_norm")
    return (
        surfaces.join(comp, sid == comp["node"], "left")
        .select("surface_norm", F.coalesce("component", sid).alias("component"))
        .select(
            "surface_norm",
            F.min("surface_norm").over(Window.partitionBy("component")).alias("canonical_id"),
            "component",
        )
    )


def cluster_entity_vectors(
    entities: DataFrame,
    id_col: str = "entity_id",
    vec_col: str = "vector",
    distance_threshold: float = 0.25,
) -> DataFrame:
    """C1 vector tier — the reference's
    ``AgglomerativeClustering(metric="cosine", linkage="single",
    distance_threshold=0.25)`` (utils/cluster.py:4-26) decomposed for
    Spark: single-linkage at threshold tau is EXACTLY connected
    components over the graph whose edges join pairs with
    cosine_distance < tau, so the distributed form is
    (1) exact above-similarity pair generation (broadcast matrix
    product — operators/dedup.embedding_near_duplicates) and
    (2) large-star/small-star CC. Returns
    (entity_id, cluster_id) with cluster_id = min entity id per
    component (deterministic, content-derived).

    Strictness note: sklearn's ``distance_threshold`` is exclusive
    (merge while distance < tau), so the edge rule is
    ``similarity > 1 - tau``.
    """
    ids = entities.select(F.col(id_col).alias("node"))
    # similarity strictly greater than 1 - tau (see note above):
    # embedding_near_duplicates uses >=, so nudge by the smallest
    # representable margin via a post-filter on the exact score is
    # unnecessary here — equality at the float boundary is measure-zero
    # and the reference's own float comparison has the same knife edge.
    pairs = embedding_near_duplicates(
        entities, id_col, vec_col, threshold=1.0 - distance_threshold
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges)
    return (
        ids.join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("cluster_id"),
        )
    )
