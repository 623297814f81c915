"""Text analysis operators for training-data curation.

All pure native expressions (whole-stage codegen; zero Python):

- **token_stats**: whitespace token count, char count, avg token len.
- **quality_score**: length / punctuation-ratio / stopword-ratio /
  uppercase-ratio heuristics combined into a [0,1] score — the
  C4/Gopher-style cheap quality filter family.
- **language_id**: stopword-hit n-gram heuristic over small built-in
  stopword sets; emits the argmax language + its hit count.
- **fingerprint**: md5 content fingerprint over aggressively
  normalized text (case/whitespace/punct-folded) — catches
  formatting-variant duplicates that exact-hash misses; md5 keeps it
  engine-portable for oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.text import lower_tokens

# Tiny per-language stopword marker sets: common words that are
# near-unique to the language among the supported set.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "es": ["el", "la", "los", "las", "una", "para"],
    "de": ["der", "die", "das", "und", "nicht", "mit"],
    "fr": ["le", "les", "des", "est", "dans", "pour"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for"]


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len_x100). Integer-only
    outputs (avg scaled by 100, floored) for engine portability."""
    toks = lower_tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    total_tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.when(n_tokens > 0, (total_tok_chars * 100 / n_tokens).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("avg_token_len_x100"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, q_score_x1000 long, n_tokens, stopword_hits,
    punct_chars). The score blends:
      - length factor: min(n_tokens, 200)/200
      - stopword factor: min(hits/n_tokens * 5, 1)  (English-ish prose
        has >= ~20% stopwords)
      - punct sanity: 1 - min(punct_chars/n_chars * 5, 1)
    Output scaled to integer x1000 (portable hashing)."""
    toks = lower_tokens(F.col(text_col))
    n_tokens = F.size(toks).cast("double")
    n_chars = F.greatest(F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("double"), F.lit(1.0))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
    # punct count = total chars - chars surviving punct removal; the
    # POSITIVE class stays on the JVM regex fast path (negated classes
    # are ~20x slower — see functions/text.normalize_surface)
    raw = F.coalesce(F.col(text_col), F.lit(""))
    punct = (
        F.length(raw) - F.length(F.regexp_replace(raw, r"[!-/:-@\[-`{-~]+", ""))
    ).cast("double")
    len_f = F.least(n_tokens, F.lit(200.0)) / 200.0
    stop_f = F.least(
        F.when(n_tokens > 0, stop_hits / n_tokens * 5.0).otherwise(F.lit(0.0)), F.lit(1.0)
    )
    punct_f = F.lit(1.0) - F.least(punct / n_chars * 5.0, F.lit(1.0))
    score = (len_f + stop_f + punct_f) / 3.0
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.floor(score * 1000).cast("long").alias("q_score_x1000"),
        F.size(toks).cast("long").alias("n_tokens"),
        stop_hits.cast("long").alias("stopword_hits"),
        punct.cast("long").alias("punct_chars"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, lang_pred, lang_hits): argmax language by marker-word
    hits; ties broken by language code order; 'und' when zero hits."""
    toks = lower_tokens(F.col(text_col))
    out = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    hit_cols = []
    for lang, words in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        out = out.withColumn(
            f"_h_{lang}", F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(arr, t)))
        )
        hit_cols.append(lang)
    best_hits = F.greatest(*[F.col(f"_h_{c}") for c in hit_cols])
    pred = F.lit("und")
    # reversed so earlier language codes win ties (first when() wins)
    for lang in sorted(hit_cols):
        pred = F.when(
            (F.col(f"_h_{lang}") == best_hits) & (best_hits > 0) & (pred == "und"),
            F.lit(lang),
        ).otherwise(pred)
    return out.select(
        "doc_id", pred.alias("lang_pred"), best_hits.cast("long").alias("lang_hits")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, fp): md5 over normalized text (lower, punct stripped,
    whitespace collapsed)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"[^0-9a-z\s]+", " "), r"\s+", " "
        )
    )
    return df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("fp"))
