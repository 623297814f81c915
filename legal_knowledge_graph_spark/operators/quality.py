"""Corpus-quality curation operators — the filter family a 100 TB
pretraining pipeline runs between dedup and packing:

- **repetition_stats**: Gopher-style repetition signals (Rae et al.
  2021, "Scaling Language Models: ... Gopher", table A1): fraction of
  duplicate lines, most-frequent-word-bigram share, distinct-token
  ratio. Documents dominated by boilerplate/templating score high on
  duplicate lines and top-bigram share and are dropped by threshold.
  Implemented as pure native expressions — the bigram mode is a
  sorted-array fold (``aggregate`` over ``array_sort``), so the whole
  operator is one codegen'd projection with ZERO shuffles: at 100 TB
  no (doc, ngram) explosion ever hits the wire.
- **pii_scrub**: regex PII redaction (emails, NANP-style phone
  numbers) with per-document counts — the scrub pass run before
  training-data release. Positive ASCII character classes only (the
  ~20x-slower negated/Unicode JVM regex trap), portable to RE2/DuckDB
  so the pass is oracle-checkable.
- **ngram_contamination**: benchmark-contamination detection (the
  GPT-3 appendix-C / C4 style n-gram collision check): a document is
  flagged when it shares >= 1 word n-gram with the evaluation set.
  The eval set's distinct n-grams are count-guarded, collected and
  BROADCAST; one Arrow pass matches each document's token windows
  against them. Above ``MAX_BENCH_GRAMS`` eval grams the fallback is a
  map-side explode + broadcast semi-join + per-doc count. The corpus
  never shuffles in either.

All outputs are integers/strings (scaled x1000 floors), so every
operator carries an exact DuckDB oracle in entry_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.text import lower_tokens

#: ASCII-only PII patterns, identical semantics in Java regex and RE2.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
#: distinct eval n-grams ngram_contamination collects and broadcasts;
#: above it the semi-join fallback runs
MAX_BENCH_GRAMS = 2_000_000

#: max multiplicity of any element == longest equal-adjacent run in
#: the SORTED array: one codegen'd fold, no (doc, ngram) shuffle.
_MAX_MULT_SQL = (
    "aggregate(array_sort({arr}),"
    " struct(cast(null as string) as prev, cast(0 as bigint) as run,"
    "        cast(0 as bigint) as best),"
    " (acc, x) -> struct(x,"
    "   case when acc.prev is not null and x = acc.prev"
    "        then acc.run + cast(1 as bigint) else cast(1 as bigint) end,"
    "   greatest(acc.best,"
    "     case when acc.prev is not null and x = acc.prev"
    "          then acc.run + cast(1 as bigint) else cast(1 as bigint) end)),"
    " acc -> acc.best)"
)


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac_x1000, n_bigrams,
    top_bigram_count, top_bigram_frac_x1000, distinct_token_ratio_x1000).

    - ``dup_line_frac``: (lines - distinct lines) / lines over raw
      newline splits — template/boilerplate pages repeat nav/footer
      lines.
    - ``top_bigram_frac``: multiplicity of the most frequent word
      bigram / total bigrams — "the the the"-style degenerate text.
    - ``distinct_token_ratio``: vocabulary diversity.

    All fractions are floor(x * 1000) longs (engine-portable).
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("_n_lines"),
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("long").alias("_dup_lines"),
        lower_tokens(F.col(text_col)).alias("_toks"),
    ).withColumn(
        "_bg",
        F.when(
            F.size("_toks") >= 2,
            F.expr(
                "transform(sequence(0, size(_toks) - 2),"
                " i -> concat(element_at(_toks, i + 1), ' ',"
                "             element_at(_toks, i + 2)))"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    n_tokens = F.size("_toks")
    n_bigrams = F.size("_bg")
    top_count = F.coalesce(
        F.expr(_MAX_MULT_SQL.format(arr="_bg")), F.lit(0)
    ).cast("long")
    return staged.select(
        "doc_id",
        F.col("_n_lines").alias("n_lines"),
        F.when(F.col("_n_lines") > 0, F.floor(F.col("_dup_lines") * 1000 / F.col("_n_lines")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_line_frac_x1000"),
        n_bigrams.cast("long").alias("n_bigrams"),
        top_count.alias("top_bigram_count"),
        F.when(n_bigrams > 0, F.floor(top_count * 1000 / n_bigrams))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_bigram_frac_x1000"),
        F.when(n_tokens > 0, F.floor(F.size(F.array_distinct(F.col("_toks"))) * 1000 / n_tokens))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("distinct_token_ratio_x1000"),
    )


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_emails, n_phones, text_redacted): count and redact
    email addresses and ###-###-#### / ###.###.#### phone numbers.
    Emails are redacted before phones are counted so a digit-bearing
    local part can't double-count. The redaction tokens are stable
    strings, so redacted output is deterministic and diffable."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    emails_gone = F.regexp_replace(raw, EMAIL_RE, "<EMAIL>")
    n_emails = F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(emails_gone, F.lit(PHONE_RE), F.lit(0)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        F.regexp_replace(emails_gone, PHONE_RE, "<PHONE>").alias("text_redacted"),
    )


def _word_ngrams(toks_col: str, n: int) -> Column:
    return F.when(
        F.size(toks_col) >= n,
        F.expr(
            f"transform(sequence(0, size({toks_col}) - {n}),"
            f" i -> array_join(slice({toks_col}, i + 1, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    n: int = 13,
) -> DataFrame:
    """(doc_id, n_contaminated_ngrams) for documents sharing >= 1 word
    ``n``-gram with the benchmark texts — the decontamination join run
    before an evaluation set is trusted.

    Scale shape (round 6): the benchmark gram set is DISTINCT word
    n-grams of the (small) eval set, count-guarded and broadcast; the
    corpus side is ONE Arrow pass over the JVM-tokenized arrays that
    matches each document's n-gram token-id windows against the
    broadcast set — no per-gram string construction, no explode, no
    join: the old path built ~(tokens - n) gram strings per document
    and shuffled the exploded matches. The corpus never shuffles in
    either shape; per-row match counts reduce through one tiny
    aggregation over matched rows only. An eval set above
    ``MAX_BENCH_GRAMS`` falls back to the broadcast semi-join plan.
    """
    from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel

    bench_staged = bench.select(lower_tokens(F.col(bench_text_col)).alias("_t")).withColumn(
        "_g", _word_ngrams("_t", n)
    )
    bench_grams_df = (
        bench_staged.select(F.explode("_g").alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    doc_toks = ensure_parallel(
        docs.select(F.col(id_col).alias("doc_id"), lower_tokens(F.col(text_col)).alias("_t"))
    )

    # count-guard-then-collect over the checkpointed distinct: the
    # eval set is tiny by contract, but the driver stays byte-bounded
    # before anything moves (a limit(cap + 1).collect() probe ships up
    # to cap + 1 rows PER PARTITION when the set overflows)
    if bench_grams_df.count() > MAX_BENCH_GRAMS:
        # the broadcast-hash semi-join fallback (the prior shape)
        doc_staged = doc_toks.withColumn("_g", _word_ngrams("_t", n))
        doc_grams = doc_staged.select(
            "doc_id", F.explode(F.array_distinct("_g")).alias("gram")
        )
        return (
            doc_grams.join(F.broadcast(bench_grams_df), "gram", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
        )

    # tokens contain no whitespace and grams join them with a single
    # space, so gram-string equality == token-sequence equality
    bench_tok = [r["gram"].split(" ") for r in bench_grams_df.collect()]

    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    spark = docs.sparkSession
    b_bench = spark.sparkContext.broadcast(bench_tok)
    out_schema = T.StructType(
        [
            doc_toks.schema["doc_id"],
            T.StructField("n_matched", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        grams = b_bench.value

        for b in batches:
            col = b.column("_t")
            n_docs = len(col)
            if n_docs == 0:
                continue
            flat = col.flatten()
            lens = col.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
            enc = flat.dictionary_encode()
            ids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniq = enc.dictionary.to_pylist()
            tok2id = {t: i for i, t in enumerate(uniq)}
            # bench grams resolvable in THIS batch's token vocabulary
            bmat = []
            for toks in grams:
                row = [tok2id.get(t) for t in toks]
                if None not in row:
                    bmat.append(row)
            # window starts: docs with len >= n contribute len-n+1
            ng = np.maximum(lens - n + 1, 0)
            total = int(ng.sum())
            if total == 0 or not bmat:
                continue
            starts = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            g_end = np.cumsum(ng)
            doc_of = np.repeat(np.arange(n_docs), ng)
            pos = (
                np.arange(total, dtype=np.int64)
                - np.repeat(g_end - ng, ng)
                + np.repeat(starts, ng)
            )
            # (windows, n) id matrix; big-endian view makes bytewise
            # void comparison == lexicographic id comparison
            W = np.empty((total, n), dtype=">i8")
            for j in range(n):
                W[:, j] = ids[pos + j]
            B = np.sort(
                np.ascontiguousarray(np.array(bmat, dtype=">i8")).view("V%d" % (8 * n)).ravel()
            )
            Wv = np.ascontiguousarray(W).view("V%d" % (8 * n)).ravel()
            idx = np.searchsorted(B, Wv)
            idx = np.minimum(idx, len(B) - 1)
            matched = B[idx] == Wv
            if not matched.any():
                continue
            # distinct matched grams per doc (the old path array_distincts
            # each row's grams before exploding)
            md, mv = doc_of[matched], Wv[matched]
            order = np.lexsort((mv, md))
            md, mv = md[order], mv[order]
            first = np.empty(len(md), dtype=bool)
            first[:1] = True
            first[1:] = (md[1:] != md[:-1]) | (mv[1:] != mv[:-1])
            counts = np.bincount(md[first], minlength=n_docs)
            keep = counts > 0
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id").filter(pa.array(keep)),
                    pa.array(counts[keep], type=pa.int64()),
                ],
                names=["doc_id", "n_matched"],
            )

    per_row = doc_toks.mapInArrow(run, out_schema)
    # rows with duplicate doc_id accumulate like the exploded groupBy
    # did (per-row distinct, summed across rows)
    return per_row.groupBy("doc_id").agg(
        F.sum("n_matched").alias("n_contaminated_ngrams")
    )
