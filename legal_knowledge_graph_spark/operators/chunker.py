"""Stage 4 — hierarchical chunking: boundary proposal + fuzzy alignment
+ tree construction (M2 / F1 / F2 / A1 analogues).

Reference dataflow (nodes/chunker.py:139-196): an LLM proposes, per TOC
leaf, a verbatim ``{start_sentence, end_sentence}`` pair; a fuzzy
sliding-window matcher aligns each sentence back to the document text
(chunker.py:93-121); ``transform_tree`` then builds the Article→Section
chunk tree where internal nodes aggregate ``span = (min child start,
max child end)`` and ``content = "".join(child contents)``
(chunker.py:150-196).

Here the LLM proposal is a deterministic extractor behind the same
batched-inference interface (``mapInPandas``): it detects
ARTICLE/Section headings and emits boundary-sentence records with the
same shape an LLM would produce (verbatim sentences, >= 4 words — the
reference's prompt contract, chunker.py:27-38). The alignment kernel
(operators/align.py) then recovers character spans EXACTLY as the
reference does, so spans are earned via fuzzy alignment rather than
leaked from the proposal regex.

Scale notes:
- Proposal, alignment and tree construction run in ONE ``mapInPandas``
  pass over the extracted pages: no shuffle, no join. A document's
  tree is url-local, so the task that aligns its sections also emits
  its article rows (as the reference's per-document ``transform_tree``
  does) and carries its ``body_span_start``. At 10^12 docs this stage
  is embarrassingly parallel and CPU-bound.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from legal_knowledge_graph_spark.operators.align import DocAligner

# Heading detectors for the deterministic proposer. A learned model
# slots into chunk_documents' inner function without changing the
# stage contract (batch of (url, body) in -> chunk tree rows out).
_ARTICLE_RE = re.compile(r"^ARTICLE ([IVXLC]+)\.", re.MULTILINE)
_SECTION_RE = re.compile(r"^Section (\d+)\.(\d+) ", re.MULTILINE)
_TOKEN_RE = re.compile(r"\S+")

#: Boundary sentences are verbatim token runs; the reference's prompt
#: requires >= 4 words (chunker.py:27-38). 10 tokens makes start/end
#: sentences unique enough for the aligner while staying sentence-sized.
BOUNDARY_TOKENS = 10

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("path_key", T.StringType(), False),
        T.StructField("parent_path", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("sibling_order", T.IntegerType(), False),
        T.StructField("span_start", T.LongType(), False),
        T.StructField("span_end", T.LongType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("is_leaf", T.BooleanType(), False),
        T.StructField("body_span_start", T.LongType(), False),
    ]
)


def _boundary_sentences(body: str, seg_start: int, seg_end: int) -> tuple[str, str]:
    """First/last BOUNDARY_TOKENS verbatim tokens of body[seg_start:seg_end]."""
    seg = body[seg_start:seg_end]
    toks = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(seg)]
    if not toks:
        return "", ""
    head = toks[:BOUNDARY_TOKENS]
    tail = toks[-BOUNDARY_TOKENS:]
    start_sentence = seg[head[0][0] : head[-1][1]]
    end_sentence = seg[tail[0][0] : tail[-1][1]]
    return start_sentence, end_sentence


def _document_tree(url: str, body: str, off: int) -> list[tuple]:
    """One document's chunk rows: its aligned sections, then one article
    row per article key that has sections.

    A section's span is recovered by aligning its proposed (start,
    end) boundary sentences back into the body with the
    reference-exact sliding-window matcher (not copied from the
    regex), so the golden-chunk test verifies the aligner. An article
    row follows ``transform_tree`` (chunker.py:172-174): span = (min
    child start, max child end), content = the child contents in
    sibling order; its ``sibling_order`` is its rank by span start.
    """
    arts = list(_ARTICLE_RE.finditer(body))
    if not arts:
        return []
    secs = list(_SECTION_RE.finditer(body))
    # one tokenization/index per document, shared by every section's
    # two boundary alignments
    aligner = DocAligner(body)
    rows = []
    kids: dict[str, list[tuple[int, str, int, int]]] = {}
    for ai, am in enumerate(arts):
        art_key = f"ARTICLE_{am.group(1)}"
        art_end = arts[ai + 1].start() if ai + 1 < len(arts) else len(body)
        in_art = [m for m in secs if am.start() <= m.start() < art_end]
        for si, sm in enumerate(in_art):
            seg_end = in_art[si + 1].start() if si + 1 < len(in_art) else art_end
            start_sent, end_sent = _boundary_sentences(body, sm.start(), seg_end)
            if not start_sent:
                continue
            s, e = aligner.sentence_range(start_sent, end_sent)
            path_key = f"{art_key}/section_{sm.group(1)}_{sm.group(2)}"
            rows.append((url, path_key, art_key, 2, si, s, e, body[s:e], True, off))
            # a repeated ARTICLE heading shares its key: its sections
            # join one article row, ordered by (sibling_order, content)
            kids.setdefault(art_key, []).append((si, body[s:e], s, e))
    parents = sorted(
        (min(k[2] for k in ks), max(k[3] for k in ks), key, ks) for key, ks in kids.items()
    )
    for order, (s, e, key, ks) in enumerate(parents):
        content = "".join(c for _, c, _, _ in sorted(ks, key=lambda k: k[:2]))
        rows.append((url, key, None, 1, order, s, e, content, False, off))
    return rows


def chunk_documents(extracted: DataFrame) -> DataFrame:
    """extracted(url, body, body_span_start, ...) -> the chunk tree
    (adjacency-list encoding): (url, path_key, parent_path, depth,
    sibling_order, span_start, span_end, content, is_leaf,
    body_span_start).

    Spans are body-relative; every row carries its page's
    ``body_span_start``, so ``materialize.absolute_chunks`` re-bases
    them with a projection, not a join back to the pages.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, body, off in zip(pdf["url"], pdf["body"], pdf["body_span_start"]):
                rows.extend(_document_tree(url, body, int(off)))
            yield pd.DataFrame(rows, columns=CHUNK_SCHEMA.fieldNames())

    from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel

    return ensure_parallel(
        extracted.select("url", "body", "body_span_start")
    ).mapInPandas(run, CHUNK_SCHEMA)
