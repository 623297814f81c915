"""Stage 5 — bottom-up hierarchical summarization + embeddings
(A2/A3/A4 + W6 analogues).

Reference semantics (nodes/summarizer.py:104-157): (1) summarize all
leaves (batched LLM); (2) for each depth from max down to the root,
each parent's input is ``"\\n\\n".join(child.summary or child.content)``
over its children in order; (3) the document (Corpus) summary comes
from the top-level children. The per-level barrier is inherent — a
parent needs its children's summaries — and the reference pays it too
(level-by-level ``chain.batch``, summarizer.py:124).

Here the LLM is a deterministic extractive summarizer behind the same
batched interface (``mapInPandas``; an Arrow batch of texts in, a
batch of summaries out). A real model slots into ``_summarize_series``
without touching the DAG.

Embeddings (W6, reference utils/database.py:32-38 + 198-208): a
deterministic feature-hashed bag-of-tokens vector, L2-normalized —
cosine similarity between these vectors behaves like a real text
embedding (shared tokens => higher similarity), so the query surface's
top-k cosine retrieval is meaningfully testable. Batched in numpy per
Arrow batch; dimension configurable (reference uses 3072; tests 64).

Scale notes:
- the level loop is bounded by tree depth (~3), each iteration is one
  map-side-combinable groupBy(parent) + one map stage;
- each level's frontier is tiny relative to pages (articles per doc),
  so the barrier costs little wall-clock;
- embedding is a pure map stage — no shuffle, pipelines with whatever
  produced its input.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_TOKEN_RE = re.compile(r"\S+")

#: reference prompt asks for a 2-3 sentence summary (summarizer.py:13-21)
SUMMARY_SENTENCES = 2
DEFAULT_EMBED_DIM = 64


def summarize_text(text: str) -> str:
    """Deterministic extractive stand-in for the reference's M3 LLM
    summarizer: the first SUMMARY_SENTENCES sentences, whitespace-
    normalized."""
    if not text:
        return ""
    sents = _SENT_SPLIT.split(text.strip())
    return " ".join(s.strip() for s in sents[:SUMMARY_SENTENCES] if s.strip())


def _summarize_series(texts: pd.Series) -> pd.Series:
    # the model slot: batch of texts in -> batch of summaries out
    return texts.map(summarize_text)


def _summ_stage(df: DataFrame, in_col: str, keep: list[str]) -> DataFrame:
    """Batched summarization map stage over ``in_col`` -> ``summary``."""
    schema = T.StructType(
        [df.schema[k] for k in keep] + [T.StructField("summary", T.StringType(), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            out["summary"] = _summarize_series(pdf[in_col])
            yield out

    return df.select(*dict.fromkeys(keep + [in_col])).mapInPandas(run, schema)


def summarize_tree(chunks: DataFrame) -> DataFrame:
    """chunks(..., depth, is_leaf, content) -> + summary column.

    Level-by-level bottom-up, exactly the reference's schedule
    (summarizer.py:124 sorts depths descending): leaves summarize their
    own content; each level above aggregates its children's
    ``summary-else-content`` in sibling order joined with "\\n\\n"
    (summarizer.py:137-141) and summarizes that input.

    Physical shape (round 6): the tree is url-local — no summary ever
    crosses documents — so the level loop runs INSIDE one Arrow pass
    over url-partitioned, url-sorted chunks (per-document state carried
    across Arrow batches, the structure.py pattern). The previous
    global level loop paid two exchanges per level plus a full-payload
    sort-merge join to re-attach summaries, and one driver action to
    discover depths; this shape pays ONE url shuffle total, and the
    per-level joins become vectorized in-task pandas merges with
    identical fan-out/null semantics (pinned by the old-vs-new
    equivalence test). The model slot is unchanged:
    ``_summarize_series`` still receives whole batches of texts per
    level across every document in the task.
    """
    import numpy as np

    prepared = chunks.repartition(F.col("url")).sortWithinPartitions("url")
    schema = T.StructType(
        list(chunks.schema.fields) + [T.StructField("summary", T.StringType(), True)]
    )
    in_cols = list(chunks.columns)

    def process(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # leaves (at any depth) summarize their own content
        leaf = pdf[pdf["is_leaf"].astype(bool)]
        sums = pd.DataFrame(
            {
                "url": leaf["url"],
                "path_key": leaf["path_key"],
                "summary": _summarize_series(leaf["content"]),
            }
        )
        depths = sorted(pdf["depth"].unique(), reverse=True)
        for d in [d for d in depths if d < depths[0]]:
            kids = pdf[pdf["depth"] == d + 1][
                ["url", "path_key", "parent_path", "sibling_order", "content"]
            ].merge(sums, on=["url", "path_key"], how="left")
            s = kids["summary"]
            use_sum = s.notna() & (s.fillna("").str.strip() != "")
            kids["child_text"] = np.where(use_sum, s, kids["content"])
            kids = kids[kids["parent_path"].notna()]
            if len(kids) == 0:
                continue
            # sort by (url, parent_path, sibling_order, child_text) —
            # the struct-sort tiebreak of the old collect_list path,
            # nulls FIRST (Spark's struct-field ordering); factorize
            # codes keep it vectorized (NA code -1 already sorts first)
            u_code = pd.factorize(kids["url"], sort=False)[0]
            p_code = pd.factorize(kids["parent_path"], sort=False)[0]
            c_arr = kids["child_text"].to_numpy()
            c_code = pd.factorize(kids["child_text"], sort=True)[0]
            sib = pd.to_numeric(kids["sibling_order"], errors="coerce").to_numpy(
                dtype="float64"
            )
            sib = np.where(np.isnan(sib), -np.inf, sib)
            order = np.lexsort((c_code, sib, p_code, u_code))
            u_arr = kids["url"].to_numpy()
            p_arr = kids["parent_path"].to_numpy()
            agg_rows: dict = {}
            for i in order:
                key = (u_arr[i], p_arr[i])
                t = c_arr[i]
                if t is None or (isinstance(t, float) and np.isnan(t)):
                    agg_rows.setdefault(key, [])  # null skipped by array_join
                else:
                    agg_rows.setdefault(key, []).append(t)
            if not agg_rows:
                continue
            agg = pd.DataFrame(
                {
                    "url": [k[0] for k in agg_rows],
                    "path_key": [k[1] for k in agg_rows],
                    "agg_text": ["\n\n".join(v) for v in agg_rows.values()],
                }
            )
            parents = pdf[(pdf["depth"] == d) & (~pdf["is_leaf"].astype(bool))][
                ["url", "path_key"]
            ]
            lvl = parents.merge(agg, on=["url", "path_key"], how="inner")
            if len(lvl) == 0:
                continue
            lvl["summary"] = _summarize_series(lvl["agg_text"])
            sums = pd.concat(
                [sums, lvl[["url", "path_key", "summary"]]], ignore_index=True
            )
        out = pdf[in_cols].merge(sums, on=["url", "path_key"], how="left")
        out["summary"] = out["summary"].where(out["summary"].notna(), None)
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if len(pdf) == 0:
                continue
            # a url's rows are contiguous (partition-sorted) but may
            # continue into the next batch — hold the tail url back
            tail_mask = pdf["url"] == pdf["url"].iloc[-1]
            if tail_mask.all():
                pend = pdf
                continue
            pend = pdf[tail_mask].reset_index(drop=True)
            yield process(pdf[~tail_mask].reset_index(drop=True))
        if pend is not None and len(pend):
            yield process(pend)

    return prepared.mapInPandas(run, schema)


def document_summaries(chunks_summarized: DataFrame) -> DataFrame:
    """Corpus-level summary from each document's roots (the rows with a
    null ``parent_path``: the depth-1 articles of every tree the chunker
    builds), in sibling order — reference summarizer.py:150-157.
    Returns (url, summary)."""
    top = chunks_summarized.where(F.col("parent_path").isNull()).select(
        "url",
        "sibling_order",
        F.when(F.length(F.trim(F.coalesce("summary", F.lit("")))) > 0, F.col("summary"))
        .otherwise(F.col("content"))
        .alias("child_text"),
    )
    agg = top.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sibling_order", "child_text"))),
                lambda x: x["child_text"],
            ),
            "\n\n",
        ).alias("agg_text")
    )
    return _summ_stage(agg, "agg_text", ["url"])


# ---------------------------------------------------------------- embeddings


def embed_texts_np(texts: list[str], dim: int = DEFAULT_EMBED_DIM) -> np.ndarray:
    """Feature-hashed bag-of-tokens, L2-normalized. Deterministic,
    dimension-stable, batch-vectorized. The model slot for W6.

    Token -> (bucket, sign) is memoized per call: natural-language
    batches repeat tokens heavily, so the FNV hash runs once per
    distinct token per batch instead of once per occurrence."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    memo: dict[str, tuple[int, float]] = {}
    counts = np.empty(len(texts), dtype=np.int64)
    flat: list[str] = []
    for i, t in enumerate(texts):
        toks = _TOKEN_RE.findall((t or "").lower())
        flat.extend(toks)
        counts[i] = len(toks)
    if flat:
        # hash once per DISTINCT token, then one vectorized
        # scatter-add — the per-occurrence Python `out[i, b] += s` loop
        # was ~20M interpreter iterations per bench run (round 6).
        # Arrow dictionary_encode is the distinct+inverse: C-level
        # hashing instead of np.unique's Python-string sort (~8x).
        import pyarrow as pa

        enc = pa.array(flat, type=pa.string()).dictionary_encode()
        inv = enc.indices.to_numpy(zero_copy_only=False)
        uniq = enc.dictionary.to_pylist()
        ub = np.empty(len(uniq), dtype=np.int64)
        us = np.empty(len(uniq), dtype=np.float32)
        for j, tok in enumerate(uniq):
            bs = memo.get(tok)
            if bs is None:
                h = hash_token(tok)
                bs = memo[tok] = (h % dim, 1.0 if (h >> 16) % 2 == 0 else -1.0)
            ub[j], us[j] = bs
        rows = np.repeat(np.arange(len(texts)), counts)
        np.add.at(out, (rows, ub[inv]), us[inv])
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def hash_token(tok: str) -> int:
    """Stable 64-bit FNV-1a (Python's ``hash`` is salted per process —
    useless across executors)."""
    h = 0xCBF29CE484222325
    for b in tok.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h
