"""Driver-contract queries: each SURVEY.md §2 operator expressed as a
(spark_query, duckdb_oracle_sql) pair over the shared testdata tables.

The testdata ``documents`` corpus is a clean lowercase word-salad (no
digits, no uppercase, no 'corp', no 'follows:'), so deterministic
derived columns — marker prefixes, planted entity/relation sentences —
are synthesized IDENTICALLY in Spark and in the oracle SQL; the
operators then run on controlled input where the oracle is exactly
computable. The Spark side always goes through the REAL operator
functions (operators/*.py), not reimplementations.

Float discipline: query outputs are integers/strings wherever possible
(scaled ints, ranks, counts, md5 hex). The only float outputs are
rounded to 6 dp on both sides.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- shared
# derived-input definitions (must match the SQL fragments EXACTLY)

MARKER_PREFIX_SQL = (
    "case when doc_id % 10 = 7 then text else "
    "'AGREEMENT ' || doc_id || '. The parties agree as follows:' || text end"
)

ENTITY_SUFFIX_SQL = (
    "text || ' Alpha Falcon ' || (100 + doc_id % 50) || ' Corp acquires "
    "Beta Otter ' || (200 + doc_id % 50) || ' Corp. Gamma Harbor ' || "
    "(300 + doc_id % 25) || ' Corporation supplies Alpha Falcon ' || "
    "(100 + doc_id % 50) || ' Corp.'"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _marked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).withColumn("text", F.expr(MARKER_PREFIX_SQL))


def _entity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages-shaped frame with planted entity/relation sentences."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.expr(ENTITY_SUFFIX_SQL).alias("body"),
        F.lit(0).cast("long").alias("body_span_start"),
    )


# ---------------------------------------------------------------- queries


def q_split_intro_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.functions.text import split_intro_body

    return split_intro_body(_marked_docs(spark, sf_dir), "text").select(
        "doc_id", "intro", "body", "body_span_start", "body_span_end"
    )


SQL_SPLIT = f"""
with d as (select doc_id, {MARKER_PREFIX_SQL} as text from documents),
s as (select doc_id, text, strpos(lower(text), 'follows:') as idx from d)
select doc_id,
       case when idx > 0 then substr(text, 1, idx - 1) else '' end as intro,
       case when idx > 0 then substr(text, idx + 8) else text end as body,
       case when idx > 0 then idx + 8 - 1 else 0 end::bigint as body_span_start,
       length(text)::bigint as body_span_end
from s
"""


_SURF_RE_SQL = "[A-Za-z]+ [A-Za-z]+ [0-9]+ Corp(?:oration)?"


def q_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection (M1) projected offset-free per (url, surface):
    the planted 'Alpha Falcon k Corp' repeats within a doc and SQL has
    no all-occurrence match positions, so the oracle-comparable shape
    is counts + first-occurrence start + last-occurrence end (the
    latter via the reversed-string strpos trick)."""
    from legal_knowledge_graph_spark.operators.triples import detect_mentions

    return (
        detect_mentions(_entity_docs(spark, sf_dir))
        .groupBy("url", "surface")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.min("m_start").alias("first_start"),
            F.max("m_end").alias("last_end"),
        )
    )


SQL_MENTION_COUNTS = f"""
with d as (select doc_id::varchar as url, {ENTITY_SUFFIX_SQL} as body from documents),
m as (select url, body, unnest(regexp_extract_all(body, '{_SURF_RE_SQL}')) as surface from d)
select url, surface, count(*)::bigint as n_mentions,
       min(strpos(body, surface) - 1)::bigint as first_start,
       min(length(body) - strpos(reverse(body), reverse(surface)) + 1)::bigint as last_end
from m group by url, surface, body
"""


def q_triple_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.triples import extract_triples

    return extract_triples(_entity_docs(spark, sf_dir)).select(
        "url", "subj_surface", "pred", "obj_surface", "span_start", "span_end"
    )


_TRIPLE_RE_SQL = f"({_SURF_RE_SQL}) (acquires|party_to|supplies|owns|cites|indemnifies|licenses|governs) ({_SURF_RE_SQL})\\."

SQL_TRIPLES = f"""
with d as (select doc_id::varchar as url, {ENTITY_SUFFIX_SQL} as body from documents),
m as (select url, body, unnest(regexp_extract_all(body, '{_TRIPLE_RE_SQL}')) as s from d)
select url,
       regexp_extract(s, '{_TRIPLE_RE_SQL}', 1) as subj_surface,
       regexp_extract(s, '{_TRIPLE_RE_SQL}', 2) as pred,
       regexp_extract(s, '{_TRIPLE_RE_SQL}', 3) as obj_surface,
       (strpos(body, s) - 1)::bigint as span_start,
       (strpos(body, s) - 1 + length(s))::bigint as span_end
from m
"""
# span here IS exact: each full relation sentence is unique within a doc
# (distinct subjects/predicates), so first-occurrence == the occurrence.


def q_surface_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.functions.text import normalize_surface
    from legal_knowledge_graph_spark.operators.triples import detect_mentions

    return (
        detect_mentions(_entity_docs(spark, sf_dir))
        .select(normalize_surface(F.col("surface")).alias("surface_norm"))
        .distinct()
    )


SQL_SURFACE_NORM = f"""
with d as (select doc_id::varchar as url, {ENTITY_SUFFIX_SQL} as body from documents),
m as (select unnest(regexp_extract_all(body, '{_SURF_RE_SQL}')) as surface from d),
n as (select trim(regexp_replace(regexp_replace(
        regexp_replace(lower(surface),
          '\\b(corporation|corp\\.?|incorporated|inc\\.?|llc|ltd\\.?)\\b', 'corp', 'g'),
        '[!-/:-@\\[-`{{-~]+', ' ', 'g'),
        '\\s+', ' ', 'g')) as surface_norm from m)
select distinct surface_norm from n
"""


def q_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full linking stage (LSH -> score -> CC -> canonical). On the
    planted surfaces every normalized form has a distinct numeric
    token, so the numeric gate guarantees canonical_id == surface_norm
    — the oracle is exactly computable while the full distributed path
    (banding, pair scoring, connected components) still executes."""
    from legal_knowledge_graph_spark.operators.linking import link_entities
    from legal_knowledge_graph_spark.operators.triples import detect_mentions

    mentions = detect_mentions(_entity_docs(spark, sf_dir))
    return link_entities(mentions).select("surface_norm", "canonical_id")


SQL_ENTITY_LINK = (
    SQL_SURFACE_NORM.replace(
        "select distinct surface_norm from n",
        "select distinct surface_norm, surface_norm as canonical_id from n",
    )
)


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.cc import connected_components

    edges = (
        _lineitem(spark, sf_dir)
        .where("l_linenumber = 1")
        .select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .distinct()
    )
    return connected_components(edges).select("node", "component")


SQL_CC = """
with recursive e as (
  select distinct l_orderkey % 500 as src, l_partkey % 500 as dst
  from lineitem where l_linenumber = 1
),
und as (select src as a, dst as b from e union select dst, src from e),
reach(n, r) as (
  select a, a from und
  union
  select reach.n, und.b from reach join und on reach.r = und.a
)
select n as node, min(r) as component from reach group by n
"""


def q_tree_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 internal-node aggregation shape (min/max span + ordered
    content concat) over order->lineitem as parent->children."""
    li = _lineitem(spark, sf_dir)
    return li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("span_start"),
        F.max("l_shipdate").alias("span_end"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_returnflag"))),
                lambda x: x["l_returnflag"],
            ),
            "",
        ).alias("content"),
        F.count(F.lit(1)).alias("n_children"),
    )


SQL_TREE_AGG = """
select l_orderkey,
       min(l_shipdate) as span_start,
       max(l_shipdate) as span_end,
       string_agg(l_returnflag, '' order by l_linenumber, l_returnflag) as content,
       count(*)::bigint as n_children
from lineitem group by l_orderkey
"""


def q_next_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 sibling chaining: NEXT edges via window lag."""
    from pyspark.sql import Window

    li = _lineitem(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.withColumn("prev_line", F.lag("l_linenumber").over(w))
        .where(F.col("prev_line").isNotNull())
        .select(
            "l_orderkey",
            F.col("prev_line").alias("src_line"),
            F.col("l_linenumber").alias("dst_line"),
        )
    )


SQL_NEXT_PREV = """
with w as (
  select l_orderkey, l_linenumber,
         lag(l_linenumber) over (partition by l_orderkey order by l_linenumber) as prev_line
  from lineitem
)
select l_orderkey, prev_line as src_line, l_linenumber as dst_line
from w where prev_line is not null
"""


def q_summary_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 summary-else-content rule on a derived summary column."""
    from legal_knowledge_graph_spark.functions.text import summary_else_content

    d = _docs(spark, sf_dir).withColumn(
        "summary",
        F.expr("case when doc_id % 3 = 0 then '  ' else substr(text, 1, 40) end"),
    )
    return d.select(
        "doc_id",
        F.md5(summary_else_content(F.col("summary"), F.col("text"))).alias("vec_text_md5"),
    )


SQL_SUMMARY_RULE = """
with d as (
  select doc_id, text,
         case when doc_id % 3 = 0 then '  ' else substr(text, 1, 40) end as summary
  from documents
)
select doc_id,
       md5(case when length(trim(summary)) > 0 then summary else text end) as vec_text_md5
from d
"""


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.similarity import brute_force_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    q = [float(x) for x in embs.where("vid = 7").first()["embedding"]]
    return brute_force_top_k(embs, "vid", "embedding", q, k=10).select("id", "rank")


SQL_TOPK_COSINE = """
with q as (select embedding::double[] as qv from embeddings where vec_id::bigint = 7)
select vec_id::bigint as id,
       row_number() over (
         order by list_cosine_similarity(embedding::double[], (select qv from q)) desc,
                  vec_id::bigint
       )::int as rank
from embeddings
order by rank limit 10
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a derived corpus with 50 planted duplicates.
    The member-id list is projected to a sorted CSV string — the
    driver's canonicalizer hashes scalars only (array cells are
    unhashable in its pandas sort)."""
    from legal_knowledge_graph_spark.operators.dedup import exact_duplicates

    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.where("doc_id < 50").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dups), "doc_id", "text").select(
        "group_key",
        "n_dups",
        F.concat_ws(
            ",", F.transform(F.col("doc_ids"), lambda x: x.cast("string"))
        ).alias("doc_ids_csv"),
    )


SQL_DEDUP_EXACT = """
with corpus as (
  select doc_id, text from documents
  union all
  select doc_id + 100000, text from documents where doc_id < 50
)
select md5(lower(trim(text))) as group_key,
       count(*)::bigint as n_dups,
       array_to_string(list_sort(list(doc_id)), ',') as doc_ids_csv
from corpus group by md5(lower(trim(text))) having count(*) >= 2
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _docs(spark, sf_dir).select("doc_id", "text"), "doc_id", "text", threshold=0.7
    ).select("doc_a", "doc_b", "inter_size", "union_size")


def _sql_minhash(
    n_perm: int = 16, bands: int = 4, threshold: float = 0.7, max_block: int = 1000
) -> str:
    from legal_knowledge_graph_spark.operators.dedup import MINHASH_P, _perm_coeffs

    rpb = n_perm // bands
    coeffs = _perm_coeffs(n_perm)
    sig_cols = ",\n       ".join(
        f"min((g * {a} + {b}) % {MINHASH_P}) as h{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_rows = " union all ".join(
        "select doc_id, "
        + f"'{b}|' || "
        + " || '|' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + " as band_key from sigs"
        for b in range(bands)
    )
    return f"""
with d as (select doc_id, lower(trim(text)) as t from documents),
sh as (
  select doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(t) - 2, 1)),
           i -> substr(t, i, 3)))) as gram
  from d
),
hashed as (
  select doc_id, gram,
         ('0x' || substr(md5(gram), 1, 15))::bigint % {MINHASH_P} as g
  from sh
),
sigs as (select doc_id, {sig_cols} from hashed group by doc_id),
banded as ({band_rows}),
bsz as (select band_key, count(*) as bs from banded group by band_key),
capped as (
  select b.doc_id, b.band_key from banded b
  join bsz using (band_key) where bs <= {max_block}
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from capped a join capped b using (band_key)
  where a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*)::bigint as sz from sh group by doc_id),
pairs as (
  select c.doc_a, c.doc_b
  from cand c
  join sizes sa on sa.doc_id = c.doc_a
  join sizes sb on sb.doc_id = c.doc_b
  where least(sa.sz, sb.sz) >= {threshold} * greatest(sa.sz, sb.sz)
),
inter as (
  select p.doc_a, p.doc_b, count(*)::bigint as inter_size
  from pairs p
  join sh a on a.doc_id = p.doc_a
  join sh b on b.doc_id = p.doc_b and b.gram = a.gram
  group by p.doc_a, p.doc_b
)
select i.doc_a, i.doc_b, i.inter_size,
       (sa.sz + sb.sz - i.inter_size)::bigint as union_size
from inter i
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where i.inter_size >= {threshold} * (sa.sz + sb.sz - i.inter_size)
"""


SQL_DEDUP_MINHASH = _sql_minhash()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), "doc_id", "text").select("doc_id", "simhash")


SQL_SIMHASH = """
with toks as (
  select doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
  from documents where length(trim(text)) > 0
),
bits as (
  select doc_id, ('0x' || substr(md5(tok), 1, 8))::bigint as h
  from toks where length(tok) > 0
),
sums as (
  select doc_id, i, sum(case when (h >> i) & 1 = 1 then 1 else -1 end) as s
  from bits, generate_series(0, 31) as t(i)
  group by doc_id, i
)
select doc_id, sum(case when s > 0 then 1::bigint << i else 0 end)::bigint as simhash
from sums group by doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", "source", min_jaccard=0.5
    ).select("doc_a", "doc_b", "inter_size", "union_size")


SQL_NGRAM_JACCARD = """
with d as (select doc_id, source, lower(trim(text)) as t from documents),
sh as (
  select doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(t) - 2, 1)),
           i -> substr(t, i, 3)))) as gram
  from d
),
pairs as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from d a join d b on a.source = b.source and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*)::bigint as sz from sh group by doc_id),
inter as (
  select p.doc_a, p.doc_b, count(*)::bigint as inter_size
  from pairs p
  join sh a on a.doc_id = p.doc_a
  join sh b on b.doc_id = p.doc_b and b.gram = a.gram
  group by p.doc_a, p.doc_b
)
select i.doc_a, i.doc_b, i.inter_size,
       (sa.sz + sb.sz - i.inter_size)::bigint as union_size
from inter i
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where i.inter_size >= 0.5 * (sa.sz + sb.sz - i.inter_size)
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.dedup import embedding_near_duplicates

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    return embedding_near_duplicates(embs, "vid", "embedding", threshold=0.35).select(
        "doc_a", "doc_b"
    )


SQL_EMB_NEAR_DUP = """
select a.vec_id::bigint as doc_a, b.vec_id::bigint as doc_b
from embeddings a join embeddings b on a.vec_id::bigint < b.vec_id::bigint
where list_cosine_similarity(a.embedding::double[], b.embedding::double[]) >= 0.35
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir), "doc_id", "text")


SQL_TOKEN_STATS = """
with d as (
  select doc_id, text,
         case when length(trim(coalesce(text,''))) = 0 then []::varchar[]
              else regexp_split_to_array(lower(trim(text)), '\\s+') end as toks
  from documents
)
select doc_id,
       len(toks)::bigint as n_tokens,
       length(coalesce(text,''))::bigint as n_chars,
       case when len(toks) > 0
            then floor(list_sum(list_transform(toks, t -> length(t))) * 100 / len(toks))::bigint
            else 0 end as avg_token_len_x100
from d
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir), "doc_id", "text")


SQL_LANGUAGE_ID = """
with d as (
  select doc_id,
         case when length(trim(coalesce(text,''))) = 0 then []::varchar[]
              else regexp_split_to_array(lower(trim(text)), '\\s+') end as toks
  from documents
),
h as (
  select doc_id,
         len(list_filter(toks, t -> t in ('der','die','das','und','nicht','mit'))) as h_de,
         len(list_filter(toks, t -> t in ('the','and','of','to','is','with'))) as h_en,
         len(list_filter(toks, t -> t in ('el','la','los','las','una','para'))) as h_es,
         len(list_filter(toks, t -> t in ('le','les','des','est','dans','pour'))) as h_fr
  from d
)
select doc_id,
       case when greatest(h_de,h_en,h_es,h_fr) = 0 then 'und'
            when h_de = greatest(h_de,h_en,h_es,h_fr) then 'de'
            when h_en = greatest(h_de,h_en,h_es,h_fr) then 'en'
            when h_es = greatest(h_de,h_en,h_es,h_fr) then 'es'
            else 'fr' end as lang_pred,
       greatest(h_de,h_en,h_es,h_fr)::bigint as lang_hits
from h
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir), "doc_id", "text")


SQL_FINGERPRINT = """
select doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(coalesce(text,'')),
           '[^0-9a-z\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))) as fp
from documents
"""


def q_salted_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation == plain group-count (exactness of
    the skew pattern), over the derived triple table."""
    from legal_knowledge_graph_spark.operators.materialize import entity_degrees_salted
    from legal_knowledge_graph_spark.operators.triples import extract_triples

    t = extract_triples(_entity_docs(spark, sf_dir)).select(
        F.col("subj_surface").alias("subj"), "url", "span_start"
    )
    return entity_degrees_salted(t).select("subj", "degree")


SQL_SALTED_DEGREE = f"""
with d as (select doc_id::varchar as url, {ENTITY_SUFFIX_SQL} as body from documents),
m as (select url, unnest(regexp_extract_all(body, '{_TRIPLE_RE_SQL}')) as s from d)
select regexp_extract(s, '{_TRIPLE_RE_SQL}', 1) as subj, count(*)::bigint as degree
from m group by 1
"""


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.multimodal import sniff_media_meta

    d = _docs(spark, sf_dir).withColumn("blob", F.encode("text", "utf-8"))
    return sniff_media_meta(d, "blob").select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.content_md5").alias("content_md5"),
    )


SQL_MEDIA_META = """
with h as (
  select doc_id, text,
         substr(hex(encode(text)), 1, 16) as hx  -- first 8 bytes, like the sniffer
  from documents
)
select doc_id,
       octet_length(encode(text))::bigint as n_bytes,
       -- derived from the SAME hex prefixes as multimodal._MAGIC, same
       -- first-entry-wins precedence and byte-exact (case-sensitive) html
       case when substr(hx, 1, 8)  = '89504E47' then 'png'
            when substr(hx, 1, 6)  = 'FFD8FF'   then 'jpeg'
            when substr(hx, 1, 8)  = '47494638' then 'gif'
            when substr(hx, 1, 6)  = '494433'   then 'mp3'
            when substr(hx, 1, 8)  = '52494646' then 'riff'
            when substr(hx, 1, 10) = '3C68746D6C' then 'html'
            when substr(hx, 1, 4)  = '424D'     then 'bmp'
            when substr(hx, 1, 4)  = '5036'     then 'ppm'
            else 'unknown' end as format,
       md5(text) as content_md5
from h
"""


def q_span_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-overlap P/R harness over intervals derived from lineitem."""
    from legal_knowledge_graph_spark.operators.query import span_overlap_pr

    li = _lineitem(spark, sf_dir)
    retrieved = li.where("l_linenumber = 1").select(
        (F.col("l_orderkey") % 100).alias("query_id"),
        F.lit("u").alias("url"),
        (F.col("l_partkey") % 1000).alias("span_start"),
        (F.col("l_partkey") % 1000 + 50).alias("span_end"),
    )
    golden = li.where("l_linenumber = 2").select(
        (F.col("l_orderkey") % 100).alias("query_id"),
        F.lit("u").alias("url"),
        (F.col("l_partkey") % 1000).alias("span_start"),
        (F.col("l_partkey") % 1000 + 50).alias("span_end"),
    )
    pr = span_overlap_pr(retrieved, golden)
    return pr.select(
        "query_id",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    )


SQL_SPAN_PR = """
with r as (
  select l_orderkey % 100 as query_id, 'u' as url,
         l_partkey % 1000 as rs, l_partkey % 1000 + 50 as re
  from lineitem where l_linenumber = 1
),
g as (
  select l_orderkey % 100 as query_id, 'u' as url,
         l_partkey % 1000 as gs, l_partkey % 1000 + 50 as ge
  from lineitem where l_linenumber = 2
),
ov as (
  select r.query_id, sum(greatest(0, least(re, ge) - greatest(rs, gs))) as overlap
  from r join g on r.query_id = g.query_id and r.url = g.url
  group by r.query_id
),
rl as (select query_id, sum(re - rs) as rlen from r group by query_id),
gl as (select query_id, sum(ge - gs) as glen from g group by query_id)
select coalesce(rl.query_id, gl.query_id) as query_id,
       round(coalesce(overlap, 0) / greatest(rlen, 1), 6) as precision,
       round(coalesce(overlap, 0) / greatest(glen, 1), 6) as recall
from rl full outer join gl on rl.query_id = gl.query_id
left join ov on ov.query_id = coalesce(rl.query_id, gl.query_id)
"""


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (hyperplane LSH) — no SQL oracle (hash-bucketed
    recall is engine-specific); rows-only check. Operating point: one
    table probed at Hamming distance 2, 37 of 256 buckets at 8 planes
    (~7x less scan than brute force): recall 0.39 vs 0.23 at probe 1 on
    the worst-case near-uniform bench vectors; real clustered
    embeddings sit much higher (BASELINE.md)."""
    from legal_knowledge_graph_spark.operators.similarity import lsh_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    first = embs.where("vid = 7").first()
    q = [float(x) for x in first["embedding"]]
    return lsh_top_k(
        embs, "vid", "embedding", q, dim=len(q), k=10, multi_probe=2, n_tables=1
    ).select("id", "rank")


def q_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing with the deterministic fake decoder.
    The float feature array is exploded to scalar rows and the L1
    normalization inverted (value * n_bytes rounds back to the exact
    integer bucket count — float32 error ≪ 0.5), so the Python decode
    stage gets a full integer DuckDB oracle instead of the round-1
    array-typed ERR."""
    from legal_knowledge_graph_spark.operators.multimodal import (
        decode_features,
        deterministic_fake_features,
    )

    d = _docs(spark, sf_dir).withColumn("blob", F.encode("text", "utf-8"))
    feats = decode_features(
        d, "doc_id", "blob", dim=16, decode_fn=deterministic_fake_features
    )
    nb = d.select("doc_id", F.length("blob").cast("double").alias("nb"))
    return (
        feats.join(nb, "doc_id")
        .select("doc_id", "nb", F.posexplode("features").alias("bucket", "val"))
        .select(
            "doc_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.round(F.col("val").cast("double") * F.col("nb"))
            .cast("long")
            .alias("byte_count"),
        )
    )


SQL_DECODE_FEATURES = """
with d as (select doc_id, coalesce(text,'') as text from documents),
pos as (
  select doc_id, text, unnest(generate_series(1, length(text))) as i
  from d where length(text) > 0
),
cnt as (
  select doc_id, ascii(substr(text, i, 1)) % 16 as bucket, count(*)::bigint as c
  from pos group by 1, 2
),
grid as (select doc_id, unnest(generate_series(0, 15)) as bucket from d)
select g.doc_id, g.bucket::int as bucket, coalesce(c.c, 0)::bigint as byte_count
from grid g
left join cnt c on c.doc_id = g.doc_id and c.bucket = g.bucket
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from legal_knowledge_graph_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir), "doc_id", "text").select(
        "doc_id", "n_tokens", "stopword_hits", "punct_chars"
    )


SQL_QUALITY = """
with d as (
  select doc_id, text,
         case when length(trim(coalesce(text,''))) = 0 then []::varchar[]
              else regexp_split_to_array(lower(trim(text)), '\\s+') end as toks
  from documents
)
select doc_id,
       len(toks)::bigint as n_tokens,
       len(list_filter(toks, t -> t in
         ('the','a','an','and','or','of','to','in','is','it','that','for')))::bigint
         as stopword_hits,
       (length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[!-/:-@\\[-`{-~]+', '', 'g')))::bigint
         as punct_chars
from d
"""


# ------------------------------------------------------- round-1 additions


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — the reference's per-file seeded pseudo-random benchmark
    sampling (data_loader.py:71-79, MAX=194) re-expressed as
    deterministic hash-ordered sampling: ORDER BY md5(key) LIMIT 194 —
    the distributed-safe equivalent of 'seeded random by file_path'
    (``readers.sample_tests``)."""
    from legal_knowledge_graph_spark.sources.readers import sample_tests

    return sample_tests(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("sample_key")
    )


SQL_DETERMINISTIC_SAMPLE = """
select doc_id, md5(doc_id::varchar) as sample_key
from documents
order by sample_key
limit 194
"""


def q_referenced_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — 'read only the corpus files referenced by sampled tests':
    a semi-join of the corpus against the referencing fixture keys,
    sorted (data_loader.py:92-104; ``readers.referenced_corpus``).
    Fixture keys derived from lineitem."""
    from legal_knowledge_graph_spark.sources.readers import referenced_corpus

    refs = (
        _lineitem(spark, sf_dir)
        .where("l_linenumber = 1")
        .select((F.col("l_orderkey") % 700).alias("file_path"))
    )
    return referenced_corpus(_docs(spark, sf_dir), refs, "doc_id").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )


SQL_REFERENCED_SCAN = """
select doc_id, n_chars::bigint as n_chars
from documents
where doc_id in (
  select distinct l_orderkey % 700 from lineitem where l_linenumber = 1
)
order by doc_id
"""


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (the
    batch shape of the Structured-Streaming windowed agg): 1-hour
    windows x event_type, count + integer-scaled value sum."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_sum_x100"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum_x100",
        )
    )


SQL_EVENT_WINDOWS = """
select epoch(date_trunc('hour', ts))::bigint as window_start,
       event_type,
       count(*)::bigint as n_events,
       sum(floor(value * 100)::bigint)::bigint as value_sum_x100
from events
group by 1, 2
"""


def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — model-output JSON parsing (utils/parser.py:9-26): strip the
    reasoning trace after the LAST </think>, extract the ```json fence.
    Run over a derived model-output column; emits the extracted payload
    (parse-to-struct is F.from_json, shape-specific)."""
    from legal_knowledge_graph_spark.functions.parse import extract_json_payload

    d = _docs(spark, sf_dir).withColumn(
        "model_out",
        F.expr(
            "case when doc_id % 3 = 0 then "
            "'<think>x</think>ignored</think>```json {\"k\": ' || doc_id || '}```' "
            "when doc_id % 3 = 1 then "
            "'```json {\"k\": ' || doc_id || '}``` trailing' "
            "else '{\"k\": ' || doc_id || '}' end"
        ),
    )
    return d.select("doc_id", extract_json_payload(F.col("model_out")).alias("payload"))


SQL_JSON_PARSE = """
with d as (
  select doc_id,
         case when doc_id % 3 = 0 then
           '<think>x</think>ignored</think>```json {"k": ' || doc_id || '}```'
         when doc_id % 3 = 1 then
           '```json {"k": ' || doc_id || '}``` trailing'
         else '{"k": ' || doc_id || '}' end as model_out
  from documents
),
s as (
  select doc_id, list_extract(string_split(model_out, '</think>'), -1) as after_think
  from d
),
e as (
  select doc_id, after_think,
         regexp_extract(after_think, '```json\\s*([\\s\\S]*?)\\s*```', 1) as fenced
  from s
)
select doc_id,
       case when length(fenced) > 0 then fenced else trim(after_think) end as payload
from e
"""


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization count (word runs + single
    punctuation marks), the cheap token-count proxy for training-data
    budgeting."""
    d = _marked_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.expr(r"size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0))")
        .cast("long")
        .alias("n_bpeish_tokens"),
    )


SQL_BPE_TOKENS = f"""
with d as (select doc_id, {MARKER_PREFIX_SQL} as text from documents)
select doc_id, len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::bigint as n_bpeish_tokens
from d
"""


# --------------------------------------------- query surface (Q3/Q4/Q5)


def _embedding_graph(spark: SparkSession, sf_dir: str):
    """Derived graph for query-surface oracles: every embedding row is
    a Chunk node (vector = embedding), CHILD edges from 10 synthetic
    parent nodes (parent k -> vec ids with vec_id % 10 == k). Both
    tables carry the committed ``bucket`` column the tools prune on."""
    from legal_knowledge_graph_spark.functions.ids import bucket
    from legal_knowledge_graph_spark.operators.materialize import N_BUCKETS, finish_edges

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    nodes = embs.select(
        F.col("vid").alias("node_id"),
        F.lit("Chunk").alias("label"),
        F.concat(F.lit("v"), F.col("vec_id")).alias("name"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("summary"),
        F.concat(F.lit("content_"), F.col("vec_id")).alias("content"),
        F.col("embedding").alias("vector"),
        bucket("vid", N_BUCKETS).alias("bucket"),
    )
    edges = embs.select(
        (F.lit(1000000) + F.col("vid") % 10).alias("src_id"),
        F.col("vid").alias("dst_id"),
        F.lit("CHILD").alias("type"),
    )
    return nodes, finish_edges(edges)


def q_search_children_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — 1-hop CHILD expansion + cosine top-k via the real query
    operator (operators/query.search_children), on the derived graph:
    parent 1000003's children scored against embedding #7."""
    from pyspark.sql import Window

    from legal_knowledge_graph_spark.operators.query import search_children

    nodes, edges = _embedding_graph(spark, sf_dir)
    qv = [float(x) for x in _embs(spark, sf_dir).where("vec_id = '7'").first()["embedding"]]
    res = search_children(nodes, edges, 1000003, qv, top_k=5, threshold=-2.0)
    w = Window.orderBy(F.desc("score"), "node_id")
    return res.select("node_id", "name", F.row_number().over(w).alias("rank"))


SQL_SEARCH_CHILDREN = """
with q as (select embedding::double[] as qv from embeddings where vec_id::bigint = 7),
kids as (
  select vec_id::bigint as node_id, 'v' || vec_id as name,
         list_cosine_similarity(embedding::double[], (select qv from q)) as score
  from embeddings where vec_id::bigint % 10 = 3
)
select node_id, name,
       row_number() over (order by score desc, node_id)::int as rank
from kids order by rank limit 5
"""


def q_search_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — both NEXT directions, DISTINCT (search_neighbor_chunk.py
    semantics) via the real operator: nodes are orderkey 7's DISTINCT
    linenumbers chained in sorted order, PREV the swap of NEXT as the
    pipeline writes it; probe = the 2nd node, so the expected neighbors
    are exactly the 1st and 3rd."""
    from pyspark.sql import Window

    from legal_knowledge_graph_spark.functions.ids import bucket
    from legal_knowledge_graph_spark.operators.materialize import N_BUCKETS, finish_edges
    from legal_knowledge_graph_spark.operators.query import search_neighbors

    li = (
        _lineitem(spark, sf_dir)
        .where("l_orderkey = 7")
        .select("l_linenumber")
        .distinct()
    )
    w = Window.orderBy("l_linenumber")
    ranked = li.withColumn("rk", F.row_number().over(w)).withColumn(
        "nid", (F.lit(700) + F.col("l_linenumber")).cast("long")
    )
    nodes = ranked.select(
        F.col("nid").alias("node_id"),
        F.lit("Chunk").alias("label"),
        F.concat(F.lit("line_"), F.col("l_linenumber")).alias("name"),
        F.lit(None).cast("string").alias("summary"),
        F.concat(F.lit("c"), F.col("l_linenumber")).alias("content"),
        bucket("nid", N_BUCKETS).alias("bucket"),
    )
    nxt = (
        ranked.withColumn("prev", F.lag("nid").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("src_id"),
            F.col("nid").alias("dst_id"),
            F.lit("NEXT").alias("type"),
        )
    )
    prv = nxt.select(
        F.col("dst_id").alias("src_id"),
        F.col("src_id").alias("dst_id"),
        F.lit("PREV").alias("type"),
    )
    edges = finish_edges(nxt.unionByName(prv))
    probe = ranked.where("rk = 2").first()["nid"]
    return search_neighbors(nodes, edges, int(probe)).select("node_id", "name", "text")


SQL_SEARCH_NEIGHBORS = """
with ln as (
  select distinct l_linenumber from lineitem where l_orderkey = 7
),
ranked as (
  select l_linenumber, row_number() over (order by l_linenumber) as rk,
         700 + l_linenumber as nid
  from ln
)
select nid as node_id, 'line_' || l_linenumber as name, 'c' || l_linenumber as text
from ranked where rk in (1, 3)
"""


def q_resolve_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 — span re-resolution semantics (tools/response.py:50-61):
    locate chunk content verbatim in the page text, drop-if-absent.
    Chunk contents derived as substrings of documents.text (one
    planted miss per 10 docs exercises the drop branch)."""
    d = _docs(spark, sf_dir)
    chunks = d.select(
        F.col("doc_id").alias("chunk_id"),
        F.col("doc_id").cast("string").alias("url"),
        F.expr(
            "case when doc_id % 10 = 4 then 'NOT IN THE PAGE TEXT' "
            "else substr(text, 11, 25) end"
        ).alias("content"),
    )
    pages = d.select(F.col("doc_id").cast("string").alias("url"), "text")
    joined = chunks.join(pages, "url")
    loc = F.expr("instr(text, content)")
    return (
        joined.withColumn("_loc", loc)
        .where(F.col("_loc") > 0)
        .select(
            "chunk_id",
            "url",
            (F.col("_loc") - 1).cast("long").alias("span_start"),
            (F.col("_loc") - 1 + F.length("content")).cast("long").alias("span_end"),
        )
    )


SQL_RESOLVE_SPANS = """
with chunks as (
  select doc_id as chunk_id, doc_id::varchar as url,
         case when doc_id % 10 = 4 then 'NOT IN THE PAGE TEXT'
              else substr(text, 11, 25) end as content,
         text
  from documents
)
select chunk_id, url,
       (strpos(text, content) - 1)::bigint as span_start,
       (strpos(text, content) - 1 + length(content))::bigint as span_end
from chunks
where strpos(text, content) > 0
"""


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (train -> assign -> probe). No SQL oracle
    (centroids come from driver-side Lloyd iterations); rows-only
    check — the pytest suite asserts recall vs the exact path."""
    from legal_knowledge_graph_spark.operators.similarity import (
        ivf_assign,
        ivf_top_k,
        train_ivf_centroids,
    )

    # checkpoint: the query-vector probe, centroid training and
    # assignment are separate actions over the same small table —
    # materialize the cast once instead of re-scanning per action
    embs = (
        _embs(spark, sf_dir)
        .withColumn("vid", F.col("vec_id").cast("long"))
        .localCheckpoint(eager=False)
    )
    q = [float(x) for x in embs.where("vid = 11").first()["embedding"]]
    cents = train_ivf_centroids(embs, "embedding", k=16)
    indexed = ivf_assign(embs, "embedding", cents)
    # explicit n_probe=8: this entry trains 16 cells, so the round-5
    # n_probe=16 DEFAULT (pinned against the 64-cell training default)
    # would probe 16/16 here — the exact reduction, duplicating
    # ivf_ann_exact and breaking round-over-round bench comparability
    # of the 8-of-16-cell approximate scan this key has always timed
    return ivf_top_k(
        indexed, "vid", "embedding", q, cents, k=10, n_probe=8
    ).select("id", "rank")


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal aggregation (ROLLUP) over lineitem —
    the multi-level aggregate shape (per-flag x status, per-flag,
    grand total). Null subtotal markers coalesced to 'ALL' so the
    oracle compare is null-free."""
    li = _lineitem(spark, sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


SQL_ROLLUP = """
select coalesce(l_returnflag, 'ALL') as returnflag,
       coalesce(l_linestatus, 'ALL') as linestatus,
       count(*)::bigint as n_rows,
       sum(l_quantity::bigint)::bigint as sum_qty
from lineitem
group by rollup (l_returnflag, l_linestatus)
"""

# ------------------------------------------------------- round-2 additions
# Oracle coverage for the SURVEY §2 operators that were pytest-only in
# round 1 (verdict item 2), plus the exactness reductions for the
# approximate ANN paths (verdict item 5). Every query calls the REAL
# operator; inputs are derived deterministically from the shared
# testdata so the DuckDB oracle is exactly computable.


def q_search_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (reference tools/search_corpus.py:23-27): Corpus-label scan ->
    (contract_id, contract_name) ORDER BY name, via the real operator.
    1-in-5 derived nodes are non-Corpus to exercise the label filter;
    the ordering itself is asserted by pytest (the driver compare is
    order-insensitive)."""
    from legal_knowledge_graph_spark.operators.query import search_corpus

    nodes = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("Chunk"))
        .otherwise(F.lit("Corpus"))
        .alias("label"),
        F.md5(F.col("doc_id").cast("string")).alias("name"),
    )
    return search_corpus(nodes)


SQL_SEARCH_CORPUS = """
select doc_id as contract_id, md5(doc_id::varchar) as contract_name
from documents where doc_id % 5 <> 0
"""


def q_corpus_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (reference tools/get_corpus_toc.py:29-32): point lookup of one
    Corpus node's TOC JSON via the real operator."""
    from legal_knowledge_graph_spark.functions.ids import bucket
    from legal_knowledge_graph_spark.operators.materialize import N_BUCKETS
    from legal_knowledge_graph_spark.operators.query import get_corpus_toc

    nodes = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"),
        F.lit("Corpus").alias("label"),
        F.expr("'{\"ARTICLE_' || (doc_id % 7) || '\":[\"s1\",\"s2\"]}'").alias(
            "toc_json"
        ),
        bucket("doc_id", N_BUCKETS).alias("bucket"),
    )
    return get_corpus_toc(nodes, 42)


SQL_CORPUS_TOC = """
select doc_id as node_id,
       '{"ARTICLE_' || (doc_id % 7) || '":["s1","s2"]}' as toc_json
from documents where doc_id = 42
"""


def q_toc_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (reference tools/get_corpus_toc.py:37-101): the TOC
    dict-reshape, exercised through the real materialize.build_toc —
    nested {article: [section,...]} JSON reassembled from leaf chunk
    rows in (article-start, sibling) order."""
    from legal_knowledge_graph_spark.operators.materialize import build_toc

    base = (
        _lineitem(spark, sf_dir)
        .select((F.col("l_orderkey") % 200).alias("u"), F.col("l_linenumber").alias("ln"))
        .distinct()
    )
    chunks = base.select(
        F.concat(F.lit("u"), F.col("u").cast("string")).alias("url"),
        F.concat(F.lit("ART_"), (F.col("ln") % 2).cast("string")).alias("parent_path"),
        F.concat(F.lit("sec_"), F.col("ln").cast("string")).alias("path_key"),
        F.col("ln").cast("int").alias("sibling_order"),
        (F.col("ln") * 10 + F.col("ln") % 2).cast("long").alias("span_start"),
        F.lit(True).alias("is_leaf"),
    )
    return build_toc(chunks)


SQL_TOC_RESHAPE = """
with base as (select distinct l_orderkey % 200 as u, l_linenumber as ln from lineitem),
c as (
  select 'u' || u as url, 'ART_' || (ln % 2) as parent_path,
         'sec_' || ln as path_key, ln as sibling_order,
         ln * 10 + ln % 2 as span_start
  from base
),
secs as (
  select url, parent_path,
         string_agg('"' || path_key || '"', ',' order by sibling_order, path_key) as sec_arr,
         min(span_start) as art_start
  from c group by url, parent_path
)
select url,
       '{' || string_agg('"' || parent_path || '":[' || sec_arr || ']', ','
                         order by art_start, parent_path, sec_arr) || '}' as toc_json
from secs group by url
"""


def q_benchmark_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (reference nodes/data_loader.py:35-41): the benchmark
    validator's span-sorted strict-disjointness invariant (touching
    spans — prev_end == cur_start — are violations, exactly the
    reference's ``>=``) as a distributed check returning the VIOLATING
    rows, via the real sources.validate_snippets. Planted rows exercise
    every branch: overlapping spans, TOUCHING spans (doc_id < 10:
    [100,120) then [120,140) in one group), and degenerate spans
    (1-in-7 — the documented extension rule)."""
    from legal_knowledge_graph_spark.sources.readers import validate_snippets

    d = _docs(spark, sf_dir)
    snips = d.select(
        (F.col("doc_id") % 50).alias("test_id"),
        F.concat(F.lit("f"), (F.col("doc_id") % 3).cast("string")).alias("file_path"),
        F.col("doc_id").alias("snippet_order"),
        ((F.col("doc_id") * 37) % 1000).alias("span_start"),
        (
            (F.col("doc_id") * 37) % 1000
            + F.when(F.col("doc_id") % 7 == 0, 0).otherwise(20)
        ).alias("span_end"),
    )
    touching = d.where("doc_id < 10").selectExpr(
        "900 + doc_id as test_id",
        "'t' as file_path",
        "doc_id as snippet_order",
        "cast(100 as long) as span_start",
        "cast(120 as long) as span_end",
    )
    touching2 = d.where("doc_id < 10").selectExpr(
        "900 + doc_id as test_id",
        "'t' as file_path",
        "doc_id + 1000 as snippet_order",
        "cast(120 as long) as span_start",
        "cast(140 as long) as span_end",
    )
    snips = snips.unionByName(touching).unionByName(touching2)
    return validate_snippets(snips).select(
        "test_id", "file_path", "snippet_order", "span_start", "span_end"
    )


SQL_BENCHMARK_VALIDATE = """
with s as (
  select doc_id % 50 as test_id, 'f' || (doc_id % 3) as file_path,
         doc_id as snippet_order, (doc_id * 37) % 1000 as span_start,
         (doc_id * 37) % 1000
           + case when doc_id % 7 = 0 then 0 else 20 end as span_end
  from documents
  union all
  select 900 + doc_id, 't', doc_id, 100, 120 from documents where doc_id < 10
  union all
  select 900 + doc_id, 't', doc_id + 1000, 120, 140 from documents where doc_id < 10
),
w as (
  select *, lag(span_end) over (
    partition by test_id, file_path order by span_start, snippet_order) as prev_end
  from s
)
select test_id, file_path, snippet_order, span_start, span_end
from w
where span_end <= span_start or (prev_end is not null and span_start <= prev_end)
"""


def q_tree_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/M3 (reference summarizer.py:104-157): the bottom-up
    level-loop summarization through the REAL summarize_tree +
    document_summaries, on a derived 2-level tree whose contents are
    single sentences — so the extractive first-2-sentences rule is
    exactly computable in SQL (leaf = own content; parent = first two
    children in sibling order; document = first two sentences of the
    articles' summaries in article order)."""
    from legal_knowledge_graph_spark.operators.summarize import (
        document_summaries,
        summarize_tree,
    )

    base = (
        _lineitem(spark, sf_dir)
        .select((F.col("l_orderkey") % 100).alias("u"), F.col("l_linenumber").alias("ln"))
        .distinct()
    )
    leaves = base.select(
        F.concat(F.lit("u"), F.col("u").cast("string")).alias("url"),
        F.concat(
            F.lit("ART_"), (F.col("ln") % 2).cast("string"), F.lit("/s"),
            F.col("ln").cast("string"),
        ).alias("path_key"),
        F.concat(F.lit("ART_"), (F.col("ln") % 2).cast("string")).alias("parent_path"),
        F.lit(2).alias("depth"),
        F.col("ln").cast("int").alias("sibling_order"),
        F.concat(
            F.lit("leaf "), F.col("u").cast("string"), F.lit(" line "),
            F.col("ln").cast("string"), F.lit(" ends."),
        ).alias("content"),
        F.lit(True).alias("is_leaf"),
    )
    parents = (
        base.select("u", (F.col("ln") % 2).alias("a"))
        .distinct()
        .select(
            F.concat(F.lit("u"), F.col("u").cast("string")).alias("url"),
            F.concat(F.lit("ART_"), F.col("a").cast("string")).alias("path_key"),
            F.lit(None).cast("string").alias("parent_path"),
            F.lit(1).alias("depth"),
            F.col("a").cast("int").alias("sibling_order"),
            F.lit("").alias("content"),
            F.lit(False).alias("is_leaf"),
        )
    )
    # tiny derived tree (700 distinct rows), but summarize_tree's
    # depths-discovery action plus the caller's action would otherwise
    # scan the 6M-row lineitem lineage once EACH — checkpoint the
    # assembled tree so lineitem is read exactly once (round 6)
    chunks = leaves.unionByName(parents).localCheckpoint(eager=False)
    summ = summarize_tree(chunks)
    docsum = document_summaries(summ).select(
        "url", F.lit("__doc__").alias("path_key"), "summary"
    )
    return summ.select("url", "path_key", "summary").unionByName(docsum)


SQL_TREE_SUMMARIZE = """
with base as (select distinct l_orderkey % 100 as u, l_linenumber as ln from lineitem),
l as (
  select 'u' || u as url, ln % 2 as art, ln,
         'leaf ' || u || ' line ' || ln || ' ends.' as content
  from base
),
r as (select *, row_number() over (partition by url, art order by ln) as rn from l),
leaf_out as (
  select url, 'ART_' || art || '/s' || ln as path_key, content as summary from l
),
par_out as (
  select url, 'ART_' || art as path_key,
         string_agg(content, ' ' order by ln) filter (where rn <= 2) as summary
  from r group by url, art
),
doc_pick as (
  select *, row_number() over (partition by url order by art, rn) as gn
  from r where rn <= 2
),
doc_out as (
  select url, '__doc__' as path_key,
         string_agg(content, ' ' order by art, rn) filter (where gn <= 2) as summary
  from doc_pick group by url
)
select url, path_key, summary from leaf_out
union all select url, path_key, summary from par_out
union all select url, path_key, summary from doc_out
"""


def q_align_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 verbatim path + M2 proposer (reference chunker.py:93-121,
    139-148): the REAL chunking stage over constructed ARTICLE/Section
    bodies, its section (leaf) rows. Boundary sentences are verbatim
    and unique, so the aligner's answer reduces to first-occurrence
    arithmetic the oracle computes with strpos (the non-verbatim fuzzy
    tail stays guarded by the difflib-oracle + hypothesis pytests)."""
    from legal_knowledge_graph_spark.operators.chunker import chunk_documents

    body_sql = (
        "'intro words here\nARTICLE I.\nSection 1.1 alpha' || doc_id || "
        "' w1 w2 w3 w4 w5 w6 w7 w8 w9 ending' || doc_id || "
        "' z.\nSection 1.2 beta' || doc_id || "
        "' v1 v2 v3 v4 v5 v6 v7 v8 v9 closing' || doc_id || ' q.'"
    )
    pages = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.expr(body_sql).alias("body"),
        F.lit(0).cast("long").alias("body_span_start"),
    )
    leaves = chunk_documents(pages).where("is_leaf")
    return leaves.select(
        "url",
        "path_key",
        "sibling_order",
        "span_start",
        "span_end",
        F.md5("content").alias("content_md5"),
    )


SQL_ALIGN_SPANS = """
with d as (
  select doc_id::varchar as url,
         'intro words here' || chr(10) || 'ARTICLE I.' || chr(10) ||
         'Section 1.1 alpha' || doc_id ||
         ' w1 w2 w3 w4 w5 w6 w7 w8 w9 ending' || doc_id ||
         ' z.' || chr(10) || 'Section 1.2 beta' || doc_id ||
         ' v1 v2 v3 v4 v5 v6 v7 v8 v9 closing' || doc_id || ' q.' as body
  from documents
),
spans as (
  select url, body,
         strpos(body, 'Section 1.1') - 1 as s1,
         strpos(body, ' z.') + 2 as e1,
         strpos(body, 'Section 1.2') - 1 as s2,
         length(body) as e2
  from d
)
select url, 'ARTICLE_I/section_1_1' as path_key, 0 as sibling_order,
       s1::bigint as span_start, e1::bigint as span_end,
       md5(substr(body, s1 + 1, e1 - s1)) as content_md5
from spans
union all
select url, 'ARTICLE_I/section_1_2' as path_key, 1 as sibling_order,
       s2::bigint as span_start, e2::bigint as span_end,
       md5(substr(body, s2 + 1, e2 - s2)) as content_md5
from spans
"""


def q_corpus_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (reference database.py:84-102): the Corpus-node projection
    rules — name = last url path segment, span = (0, len(text)),
    summary/TOC attach — through the real materialize.corpus_nodes
    (node_id/bucket are xxhash64-derived, engine-specific, so the
    scalar projection is what the oracle checks; id uniqueness is
    gated by idempotent_ids)."""
    from legal_knowledge_graph_spark.operators.materialize import corpus_nodes

    url = F.expr("'corpus/doc_' || doc_id")
    d = _docs(spark, sf_dir)
    ex = d.select(url.alias("url"), "text")
    ds = d.select(url.alias("url"), F.substring("text", 1, 30).alias("summary"))
    toc = d.select(url.alias("url"), F.expr("'{\"a\":' || doc_id || '}'").alias("toc_json"))
    return corpus_nodes(ex, ds, toc).select(
        "url",
        "name",
        "label",
        "span_start",
        "span_end",
        F.md5("content").alias("content_md5"),
        "summary",
        "toc_json",
        F.col("order").cast("long").alias("node_order"),
    )


SQL_CORPUS_NODES = """
select 'corpus/doc_' || doc_id as url,
       'doc_' || doc_id as name,
       'Corpus' as label,
       0::bigint as span_start,
       length(text)::bigint as span_end,
       md5(text) as content_md5,
       substr(text, 1, 30) as summary,
       '{"a":' || doc_id || '}' as toc_json,
       0::bigint as node_order
from documents
"""


def q_vector_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 (reference database.py:32-38, 153-157, 198-208): the
    embed-and-attach stage through the real materialize.attach_vectors.
    Checked properties: the summary-else-content input rule, unit L2
    norm for any non-blank input (norm_x1000 = 1000), zero vector for
    blank input (0), and the Entity-label null-vector rule (-1)."""
    from legal_knowledge_graph_spark.operators.materialize import attach_vectors

    nodes = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("Entity"))
        .otherwise(F.lit("Chunk"))
        .alias("label"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("  "))
        .otherwise(F.substring("text", 1, 40))
        .alias("summary"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.col("text")).alias(
            "content"
        ),
        F.lit(None).cast("array<float>").alias("vector"),
    )
    av = attach_vectors(nodes, dim=16)
    norm = F.sqrt(
        F.aggregate(
            F.col("vector"),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return av.select(
        "node_id",
        F.when(F.col("vector").isNull(), F.lit(-1))
        .otherwise(F.round(norm * 1000))
        .cast("long")
        .alias("norm_x1000"),
    )


SQL_VECTOR_ATTACH = """
with d as (
  select doc_id,
         case when doc_id % 3 = 0 then '  ' else substr(text, 1, 40) end as summary,
         case when doc_id % 5 = 0 then '' else text end as content
  from documents
)
select doc_id as node_id,
       (case when doc_id % 10 = 0 then -1
             when length(trim(case when length(trim(summary)) > 0
                                   then summary else content end)) > 0 then 1000
             else 0 end)::bigint as norm_x1000
from d
"""


def q_idempotent_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (vs reference uuid4 at database.py:85,105): deterministic
    content-derived ids — re-materializing the same inputs twice and
    deduplicating must collapse to exactly the input count (ids are
    reproducible AND collision-free on this corpus)."""
    from legal_knowledge_graph_spark.functions.ids import node_id as mk_id

    one = _docs(spark, sf_dir).select(
        mk_id(F.expr("'u' || doc_id"), F.lit("Chunk")).alias("node_id")
    )
    two = one.unionByName(one)
    return two.agg(
        F.count(F.lit(1)).alias("n_before"),
        F.countDistinct("node_id").alias("n_distinct"),
    )


SQL_IDEMPOTENT_IDS = """
select count(*) * 2 as n_before, count(distinct doc_id) as n_distinct
from documents
"""


def q_ivf_ann_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF exactness reduction: probing ALL cells (n_probe == n_cells)
    must equal brute-force top-k — the driver-checkable gate for the
    IVF path (recall at default n_probe is recorded in BASELINE.md)."""
    from legal_knowledge_graph_spark.operators.similarity import (
        ivf_assign,
        ivf_top_k,
        train_ivf_centroids,
    )

    embs = (
        _embs(spark, sf_dir)
        .withColumn("vid", F.col("vec_id").cast("long"))
        .localCheckpoint(eager=False)
    )
    q = [float(x) for x in embs.where("vid = 11").first()["embedding"]]
    cents = train_ivf_centroids(embs, "embedding", k=8)
    indexed = ivf_assign(embs, "embedding", cents)
    return ivf_top_k(
        indexed, "vid", "embedding", q, cents, k=10, n_probe=len(cents)
    ).select("id", "rank")


SQL_IVF_ANN_EXACT = """
with q as (select embedding::double[] as qv from embeddings where vec_id::bigint = 11)
select vec_id::bigint as id,
       row_number() over (
         order by list_cosine_similarity(embedding::double[], (select qv from q)) desc,
                  vec_id::bigint
       )::int as rank
from embeddings
order by rank limit 10
"""


def q_lsh_ann_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH exactness reduction: with zero hyperplanes every
    vector lands in bucket 0 and the probe degenerates to brute force —
    the driver-checkable gate for the LSH path."""
    from legal_knowledge_graph_spark.operators.similarity import lsh_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    first = embs.where("vid = 13").first()
    q = [float(x) for x in first["embedding"]]
    return lsh_top_k(embs, "vid", "embedding", q, dim=len(q), k=10, n_planes=0).select(
        "id", "rank"
    )


SQL_LSH_ANN_EXACT = """
with q as (select embedding::double[] as qv from embeddings where vec_id::bigint = 13)
select vec_id::bigint as id,
       row_number() over (
         order by list_cosine_similarity(embedding::double[], (select qv from q)) desc,
                  vec_id::bigint
       )::int as rank
from embeddings
order by rank limit 10
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization, batch twin (streaming/sessions.py:114):
    gap-and-island session assignment over the events table — the
    DuckDB oracle is the classic windowed gaps-and-islands SQL. The
    applyInPandasWithState streaming twin is asserted equal to this
    batch result by tests/test_sessions.py."""
    from legal_knowledge_graph_spark.streaming.sessions import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize_batch(ev, gap_seconds=1800.0)
    return s.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "n_events",
        "value_sum_x100",
    )


SQL_SESSIONIZE = """
with p as (
  -- floor() mirrors Spark unix_timestamp's whole-second truncation
  -- (DuckDB epoch() keeps fractional seconds and ::bigint ROUNDS)
  select user_id, floor(epoch(ts))::double as ts_sec,
         floor(value * 100)::bigint as vx100
  from events
),
w as (
  select *, lag(ts_sec) over (partition by user_id order by ts_sec) as prev_ts
  from p
),
m as (
  select *, case when prev_ts is null or ts_sec - prev_ts > 1800
                 then 1 else 0 end as ns
  from w
),
s as (
  select *, sum(ns) over (
    partition by user_id order by ts_sec
    rows between unbounded preceding and current row) as session_idx
  from m
)
select user_id, session_idx::bigint as session_idx,
       min(ts_sec)::bigint as session_start,
       max(ts_sec)::bigint as session_end,
       count(*)::bigint as n_events,
       sum(vx100)::bigint as value_sum_x100
from s group by user_id, session_idx
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1->N fan-out (operators/multimodal.frame_sample): the
    deterministic byte-stride frame slicer over binary blobs. The docs
    corpus is ASCII, so frame bytes == text substrings and the oracle
    md5s the same slices."""
    from legal_knowledge_graph_spark.operators.multimodal import frame_sample

    d = _docs(spark, sf_dir).withColumn("blob", F.encode("text", "utf-8"))
    fs = frame_sample(d, "doc_id", "blob", stride=64, frame_bytes=32, max_frames=4)
    return fs.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


SQL_FRAME_SAMPLE = """
with d as (select doc_id, text, length(text) as n from documents),
f as (
  select doc_id, text,
         unnest(generate_series(
           0, least(4, greatest(n - 32, 0) // 64 + 1) - 1)) as frame_idx
  from d
)
select doc_id, frame_idx::int as frame_idx,
       md5(substr(text, frame_idx * 64 + 1, 32)) as frame_md5
from f
"""


def q_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-query exact top-k (operators/similarity.batch_top_k): the
    broadcast-queries x scan-once path, per-query window top-k — the
    vector table never shuffles (plan-asserted in test_plans.py)."""
    from legal_knowledge_graph_spark.operators.similarity import batch_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    queries = embs.where("vid in (3, 21, 77)").select(
        F.col("vid").alias("qid"), F.col("embedding").alias("qv")
    )
    return batch_top_k(embs, queries, "vid", "embedding", "qid", "qv", k=5).select(
        "qid", "id", "rank"
    )


SQL_BATCH_TOPK = """
with q as (
  select vec_id::bigint as qid, embedding::double[] as qv
  from embeddings where vec_id::bigint in (3, 21, 77)
),
s as (
  select q.qid, e.vec_id::bigint as id,
         row_number() over (
           partition by q.qid
           order by list_cosine_similarity(e.embedding::double[], q.qv) desc,
                    e.vec_id::bigint
         )::int as rank
  from embeddings e cross join q
)
select qid, id, rank from s where rank <= 5
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-near pair search over a corpus with 80 planted
    near-duplicates (first token replaced): pigeonhole banding + native
    bit_count(xor) verify — the full-algorithm oracle reproduces the
    fingerprints, banding, cap, and Hamming filter bit-identically."""
    from legal_knowledge_graph_spark.operators.dedup import simhash_near_duplicates

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mut = d.where("doc_id < 80").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    return simhash_near_duplicates(
        d.unionByName(mut), "doc_id", "text", max_hamming=3
    ).select("doc_a", "doc_b", "hamming")


SQL_SIMHASH_NEAR_DUP = """
with corpus as (
  select doc_id, text from documents
  union all
  select doc_id + 100000, regexp_replace(text, '^\\S+', 'zzz')
  from documents where doc_id < 80
),
toks as (
  select doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
  from corpus where length(trim(text)) > 0
),
bits as (
  select doc_id, ('0x' || substr(md5(tok), 1, 8))::bigint as h
  from toks where length(tok) > 0
),
sums as (
  select doc_id, i, sum(case when (h >> i) & 1 = 1 then 1 else -1 end) as s
  from bits, generate_series(0, 31) as t(i)
  group by doc_id, i
),
fp as (
  select doc_id, sum(case when s > 0 then 1::bigint << i else 0 end)::bigint as sh
  from sums group by doc_id
),
banded as (
  select doc_id, b * 256 + ((sh >> (b * 8)) & 255) as band_key
  from fp, generate_series(0, 3) as g(b)
),
bsz as (select band_key, count(*) as bs from banded group by band_key),
capped as (
  select doc_id, band_key from banded join bsz using (band_key) where bs <= 1000
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from capped a join capped b using (band_key) where a.doc_id < b.doc_id
)
select c.doc_a, c.doc_b, bit_count(xor(fa.sh, fb.sh))::int as hamming
from cand c
join fp fa on fa.doc_id = c.doc_a
join fp fb on fb.doc_id = c.doc_b
where bit_count(xor(fa.sh, fb.sh)) <= 3
"""


def q_structure_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (reference document_structure_detector.py:90-146): sequential
    per-document structure detection with carried state — page 1
    REPEATS the 'ARTICLE I.' heading, which the carried
    entries-identified-so-far set must suppress, and spans are absolute
    (earlier pages' lengths added). Heading tokens don't occur in the
    word-salad corpus, so the fuzzy argmax provably lands on the
    planted headings and the oracle computes the spans by construction
    (ARTICLE windows end after the trailing period — the 2-token
    window is ['ARTICLE', 'I.']; Section windows resolve verbatim)."""
    from legal_knowledge_graph_spark.operators.structure import (
        detect_structure_sequential,
    )

    d = _docs(spark, sf_dir)
    url = F.col("doc_id").cast("string").alias("url")
    p0 = d.select(
        url,
        F.lit(0).alias("page_idx"),
        F.expr(
            "'ARTICLE I.\n' || substr(text, 1, 40) || "
            "'\nSection 1.1 ' || substr(text, 41, 40)"
        ).alias("page_text"),
    )
    p1 = d.select(
        url,
        F.lit(1).alias("page_idx"),
        F.expr(
            "'ARTICLE I.\n' || substr(text, 11, 30) || "
            "'\nSection 1.2 ' || substr(text, 5, 35)"
        ).alias("page_text"),
    )
    p2 = d.select(
        url,
        F.lit(2).alias("page_idx"),
        F.expr(
            "'ARTICLE II.\n' || substr(text, 21, 25) || "
            "'\nSection 2.1 ' || substr(text, 1, 30)"
        ).alias("page_text"),
    )
    pages = p0.unionByName(p1).unionByName(p2)
    return detect_structure_sequential(pages).select(
        "url", "entry_key", "page_idx", "abs_start", "abs_end"
    )


SQL_STRUCTURE_SEQUENTIAL = """
with d as (select doc_id::varchar as url, text from documents),
p as (
  select url,
    'ARTICLE I.' || chr(10) || substr(text, 1, 40) || chr(10)
      || 'Section 1.1 ' || substr(text, 41, 40) as p0,
    'ARTICLE I.' || chr(10) || substr(text, 11, 30) || chr(10)
      || 'Section 1.2 ' || substr(text, 5, 35) as p1,
    'ARTICLE II.' || chr(10) || substr(text, 21, 25) || chr(10)
      || 'Section 2.1 ' || substr(text, 1, 30) as p2
  from d
)
select url, 'ARTICLE I' as entry_key, 0 as page_idx,
       0::bigint as abs_start, 10::bigint as abs_end from p
union all
select url, 'Section 1.1', 0,
       (strpos(p0, 'Section 1.1') - 1)::bigint,
       (strpos(p0, 'Section 1.1') - 1 + 11)::bigint from p
union all
select url, 'Section 1.2', 1,
       (length(p0) + strpos(p1, 'Section 1.2') - 1)::bigint,
       (length(p0) + strpos(p1, 'Section 1.2') - 1 + 11)::bigint from p
union all
select url, 'ARTICLE II', 2,
       (length(p0) + length(p1))::bigint,
       (length(p0) + length(p1) + 11)::bigint from p
union all
select url, 'Section 2.1', 2,
       (length(p0) + length(p1) + strpos(p2, 'Section 2.1') - 1)::bigint,
       (length(p0) + length(p1) + strpos(p2, 'Section 2.1') - 1 + 11)::bigint from p
"""


def q_benchmark_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 benchmark summary (reference run_benchmark.py:132-135):
    average precision / average recall over all queries — the
    summary.json the reference emits, on top of the span-overlap P/R
    harness."""
    from legal_knowledge_graph_spark.operators.query import span_overlap_pr

    li = _lineitem(spark, sf_dir)
    retrieved = li.where("l_linenumber = 1").select(
        (F.col("l_orderkey") % 100).alias("query_id"),
        F.lit("u").alias("url"),
        (F.col("l_partkey") % 1000).alias("span_start"),
        (F.col("l_partkey") % 1000 + 50).alias("span_end"),
    )
    golden = li.where("l_linenumber = 2").select(
        (F.col("l_orderkey") % 100).alias("query_id"),
        F.lit("u").alias("url"),
        (F.col("l_partkey") % 1000).alias("span_start"),
        (F.col("l_partkey") % 1000 + 50).alias("span_end"),
    )
    pr = span_overlap_pr(retrieved, golden)
    return pr.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("precision"), 6).alias("average_precision"),
        F.round(F.avg("recall"), 6).alias("average_recall"),
    )


SQL_BENCHMARK_SUMMARY = """
with r as (
  select l_orderkey % 100 as query_id, 'u' as url,
         l_partkey % 1000 as rs, l_partkey % 1000 + 50 as re
  from lineitem where l_linenumber = 1
),
g as (
  select l_orderkey % 100 as query_id, 'u' as url,
         l_partkey % 1000 as gs, l_partkey % 1000 + 50 as ge
  from lineitem where l_linenumber = 2
),
ov as (
  select r.query_id, sum(greatest(0, least(re, ge) - greatest(rs, gs))) as overlap
  from r join g on r.query_id = g.query_id and r.url = g.url
  group by r.query_id
),
rl as (select query_id, sum(re - rs) as rlen from r group by query_id),
gl as (select query_id, sum(ge - gs) as glen from g group by query_id),
pr as (
  select coalesce(rl.query_id, gl.query_id) as query_id,
         coalesce(overlap, 0) / greatest(rlen, 1) as precision,
         coalesce(overlap, 0) / greatest(glen, 1) as recall
  from rl full outer join gl on rl.query_id = gl.query_id
  left join ov on ov.query_id = coalesce(rl.query_id, gl.query_id)
)
select count(*)::bigint as n_queries,
       round(avg(precision), 6) as average_precision,
       round(avg(recall), 6) as average_recall
from pr
"""


def q_html_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 html->text decode (sources.html_to_text, the input_hint's
    html binary column path): script/style dropped, tags stripped,
    entities unescaped, whitespace collapsed — on a derived html
    wrapping of the docs corpus. The oracle mirrors each regex pass
    (RE2 has no backreferences, so the script|style alternation is
    written out explicitly)."""
    from legal_knowledge_graph_spark.sources.readers import html_to_text

    html = F.expr(
        "'<html><head><script a=1>var x=2;</script>"
        "<style>.c{color:red}</style></head><body><h1>T' || doc_id || "
        "'</h1><p>' || text || ' &amp; more &lt;stuff&gt;</p></body></html>'"
    )
    d = _docs(spark, sf_dir).withColumn("blob", F.encode(html, "utf-8"))
    return d.select("doc_id", html_to_text(F.col("blob")).alias("text_out"))


SQL_HTML_DECODE = """
with h as (
  select doc_id,
         '<html><head><script a=1>var x=2;</script>'
         || '<style>.c{color:red}</style></head><body><h1>T' || doc_id
         || '</h1><p>' || text || ' &amp; more &lt;stuff&gt;</p></body></html>'
           as html
  from documents
),
a as (
  select doc_id, regexp_replace(html,
    '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'gs') as t
  from h
),
b as (select doc_id, regexp_replace(t, '<[^>]+>', ' ', 'gs') as t from a),
c as (
  select doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&nbsp;', ' ') as t
  from b
)
select doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) as text_out from c
"""


def q_toc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 read-side parity (reference get_corpus_toc.py:37-121): the
    quirk-exact TOC->components reshape over six stored-TOC shape
    variants (article-with-sections, bogus sections, article-as-string,
    non-article dict, non-article string, unparseable raw), via the
    real operators.query.reshape_toc."""
    from legal_knowledge_graph_spark.operators.query import reshape_toc

    toc = F.expr(
        "case cast(doc_id % 6 as int) "
        "when 0 then '{\"Article_1\":{\"name\":\"N' || doc_id || "
        "'\",\"sections\":{\"s1\":\"d1\",\"s2\":\"d2\"}}}' "
        "when 1 then '{\"ARTICLE_2\":{\"sections\":\"bogus\"}}' "
        "when 2 then '{\"article_3\":\"plain\"}' "
        "when 3 then '{\"Exhibits\":{\"name\":\"Ex' || doc_id || "
        "'\",\"a\":\"da\",\"b\":{\"name\":\"db\"},\"c\":5}}' "
        "when 4 then '{\"Annex_A\":\"desc' || doc_id || '\"}' "
        "else 'not json {' end"
    )
    nodes = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"), toc.alias("toc_json")
    )
    return reshape_toc(nodes).select("node_id", "components_json")


SQL_TOC_COMPONENTS = """
select doc_id as node_id,
  case doc_id % 6
  when 0 then '[{"component_name":"Article_1","component_description":"N' || doc_id
    || '","childs":[{"component_name":"s1","component_description":"d1","childs":[]},'
    || '{"component_name":"s2","component_description":"d2","childs":[]}]}]'
  when 1 then '[{"component_name":"ARTICLE_2","component_description":null,"childs":[]}]'
  when 2 then '[{"component_name":"article_3","component_description":null,"childs":[]}]'
  when 3 then '[{"component_name":"Exhibits","component_description":"Ex' || doc_id
    || '","childs":[{"component_name":"a","component_description":"da","childs":[]},'
    || '{"component_name":"b","component_description":"db","childs":[]},'
    || '{"component_name":"c","component_description":null,"childs":[]}]}]'
  when 4 then '[{"component_name":"Annex_A","component_description":"desc' || doc_id
    || '","childs":[]}]'
  else '[]' end as components_json
from documents
"""


# --------------------------------------------------- curation operators


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS (pairs -> connected components ->
    canonical representative) via the real curation operator; the
    oracle recomputes the full minhash pair set and closes it with a
    recursive CTE."""
    from legal_knowledge_graph_spark.operators.curation import near_duplicate_groups

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return near_duplicate_groups(d, "doc_id", "text", threshold=0.7).select(
        "doc_id", "group_id", F.col("is_canonical").cast("int").alias("is_canonical")
    )


SQL_DEDUP_GROUPS = f"""
with recursive pairs_final as (
  select doc_a, doc_b from ({_sql_minhash()})
),
und as (
  select doc_a as a, doc_b as b from pairs_final
  union
  select doc_b, doc_a from pairs_final
),
reach(n, r) as (
  select a, a from und
  union
  select reach.n, und.b from reach join und on reach.r = und.a
),
comp as (select n, min(r) as component from reach group by n)
select d.doc_id,
       coalesce(c.component, d.doc_id) as group_id,
       case when coalesce(c.component, d.doc_id) = d.doc_id then 1 else 0 end as is_canonical
from documents d left join comp c on c.n = d.doc_id
"""


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group cap (at most 50 docs per source) via
    hash-ranked window sampling."""
    from legal_knowledge_graph_spark.operators.curation import sample_per_group

    d = _docs(spark, sf_dir).select("doc_id", "source")
    return sample_per_group(d, "source", "doc_id", 50).select(
        "doc_id", "source", "sample_rank"
    )


SQL_SAMPLE_PER_GROUP = """
with r as (
  select doc_id, source,
         row_number() over (
           partition by source order by md5(doc_id::varchar), doc_id
         ) as sample_rank
  from documents
)
select doc_id, source, sample_rank::int as sample_rank
from r where sample_rank <= 50
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk LM sequence packing: per source stream in
    doc_id order, cut the n_chars token stream every 10000."""
    from legal_knowledge_graph_spark.operators.curation import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_tok")
    )
    return pack_sequences(d, "source", "doc_id", "n_tok", "doc_id", 10000).select(
        "doc_id", "source", "bin_id", "bin_offset"
    )


SQL_PACK_SEQUENCES = """
with w as (
  select doc_id, source,
         coalesce(sum(n_chars::bigint) over (
           partition by source order by doc_id, doc_id
           rows between unbounded preceding and 1 preceding
         ), 0) as before
  from documents
)
select doc_id, source,
       (before // 10000)::bigint as bin_id,
       (before % 10000)::bigint as bin_offset
from w
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 bucket —
    reproducible across engines, runs, and cluster sizes."""
    from legal_knowledge_graph_spark.operators.curation import hash_split

    d = _docs(spark, sf_dir).select("doc_id")
    return hash_split(d, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)])


SQL_HASH_SPLIT = """
with b as (
  select doc_id,
         ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 1000000 as bucket
  from documents
)
select doc_id,
       case when bucket < 800000 then 'train'
            when bucket < 900000 then 'val'
            else 'test' end as split
from b
"""


def q_emb_lsh_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness reduction for the scale-path embedding near-dup tier
    (similarity.embedding_near_dup_lsh): with zero hyperplanes every
    vector shares one bucket, so the banded blocking degenerates to
    all-pairs and the result equals the brute-force cosine join."""
    from legal_knowledge_graph_spark.operators.similarity import embedding_near_dup_lsh

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    dim = len(embs.first()["embedding"])
    return embedding_near_dup_lsh(
        embs, "vid", "embedding", dim, threshold=0.35, n_planes=0
    ).select("doc_a", "doc_b")


SQL_EMB_LSH_NEAR_DUP_EXACT = """
select a.vec_id::bigint as doc_a, b.vec_id::bigint as doc_b
from embeddings a join embeddings b on a.vec_id::bigint < b.vec_id::bigint
where list_cosine_similarity(a.embedding::double[], b.embedding::double[]) >= 0.35
"""


def q_rank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference retrieval scoring (search.py:30-43): rank-reciprocal
    1/(i+1) snippet scores over the many-query top-k results."""
    from legal_knowledge_graph_spark.operators.query import rank_reciprocal_scores
    from legal_knowledge_graph_spark.operators.similarity import batch_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    queries = embs.where("vid in (3, 21, 77)").select(
        F.col("vid").alias("qid"), F.col("embedding").alias("qv")
    )
    topk = batch_top_k(embs, queries, "vid", "embedding", "qid", "qv", k=5).select(
        "qid", "id", "rank"
    )
    return rank_reciprocal_scores(topk).select("qid", "id", "rank", "score")


SQL_RANK_SCORES = """
with q as (
  select vec_id::bigint as qid, embedding::double[] as qv
  from embeddings where vec_id::bigint in (3, 21, 77)
),
s as (
  select q.qid, e.vec_id::bigint as id,
         row_number() over (
           partition by q.qid
           order by list_cosine_similarity(e.embedding::double[], q.qv) desc,
                    e.vec_id::bigint
         )::int as rank
  from embeddings e cross join q
)
select qid, id, rank, round(1.0 / rank, 6) as score from s where rank <= 5
"""


# ------------------------------------------------- round-3+ additions
# Merges that are not a tagged union (a wide join, stats as extra
# histogram buckets, a multi-table variant) and later operators.


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-analysis metrics, wide: token_stats + quality_score
    + language_id + fingerprint + bpe_tokens joined on doc_id — all
    five REAL operators execute; every previously gate-verified column
    is still asserted (quality_score's n_tokens kept as q_n_tokens so
    both operators' outputs are independently checked)."""
    from legal_knowledge_graph_spark.operators.textstats import (
        fingerprint,
        language_id,
        quality_score,
        token_stats,
    )

    d = _docs(spark, sf_dir)
    ts = token_stats(d, "doc_id", "text").select(
        "doc_id", "n_tokens", "n_chars", "avg_token_len_x100"
    )
    qs = quality_score(d, "doc_id", "text").select(
        "doc_id",
        F.col("n_tokens").alias("q_n_tokens"),
        "stopword_hits",
        "punct_chars",
    )
    li = language_id(d, "doc_id", "text").select("doc_id", "lang_pred", "lang_hits")
    fp = fingerprint(d, "doc_id", "text").select("doc_id", "fp")
    bpe = q_bpe_tokens(spark, sf_dir)
    # FULL-outer joins, not inner: all five operators emit one row per
    # doc, so on healthy data this is identical to an inner join — but
    # if any sub-operator ever DROPS docs, the null-padded row hashes
    # differently from the oracle (whose sub-SQLs don't drop) and the
    # gate fails loudly instead of silently shrinking all five
    # assertions to the intersection.
    return (
        ts.join(qs, "doc_id", "full")
        .join(li, "doc_id", "full")
        .join(fp, "doc_id", "full")
        .join(bpe, "doc_id", "full")
    )


SQL_TEXT_METRICS = f"""
select ts.doc_id, ts.n_tokens, ts.n_chars, ts.avg_token_len_x100,
       q.q_n_tokens, q.stopword_hits, q.punct_chars,
       l.lang_pred, l.lang_hits, f.fp, b.n_bpeish_tokens
from ({SQL_TOKEN_STATS}) ts
join (select doc_id, n_tokens as q_n_tokens, stopword_hits, punct_chars
      from ({SQL_QUALITY})) q on q.doc_id = ts.doc_id
join ({SQL_LANGUAGE_ID}) l on l.doc_id = ts.doc_id
join ({SQL_FINGERPRINT}) f on f.doc_id = ts.doc_id
join ({SQL_BPE_TOKENS}) b on b.doc_id = ts.doc_id
"""


def q_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats ⨝ PII scrub over a derived corpus
    that plants every branch: duplicated footer lines (doc_id%4=0),
    degenerate repeated bigrams (%4=1), an email + phone (%4=2), and
    untouched word salad (%4=3). The redacted text is asserted via md5
    so the scrub itself (not just the counts) is oracle-checked."""
    from legal_knowledge_graph_spark.operators.quality import (
        pii_scrub,
        repetition_stats,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("\nfooter line\nfooter line"))
            .when(F.col("doc_id") % 4 == 1, F.lit(" spam spam spam spam"))
            .when(
                F.col("doc_id") % 4 == 2,
                F.lit(" contact bob@example.com or 555-123-4567 now"),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    rep = repetition_stats(d, "doc_id", "text")
    pii = pii_scrub(d, "doc_id", "text").select(
        "doc_id", "n_emails", "n_phones", F.md5("text_redacted").alias("redacted_md5")
    )
    return rep.join(pii, "doc_id")


SQL_QUALITY_FILTERS = """
with d as (
  select doc_id,
         text || case cast(doc_id % 4 as int)
           when 0 then chr(10) || 'footer line' || chr(10) || 'footer line'
           when 1 then ' spam spam spam spam'
           when 2 then ' contact bob@example.com or 555-123-4567 now'
           else '' end as text
  from documents
),
lines as (
  select doc_id, string_split(text, chr(10)) as ls from d
),
toks as (
  select doc_id,
         case when length(trim(text)) = 0 then []::varchar[]
              else regexp_split_to_array(lower(trim(text)), '\\s+') end as t
  from d
),
bg as (
  select doc_id,
         case when len(t) >= 2
              then list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1])
              else []::varchar[] end as bgs,
         t
  from toks
),
bgx as (
  select doc_id, unnest(bgs) as g from bg
),
topbg as (
  select doc_id, max(c) as top_count
  from (select doc_id, g, count(*) as c from bgx group by doc_id, g)
  group by doc_id
),
rep as (
  select b.doc_id,
         len(l.ls)::bigint as n_lines,
         case when len(l.ls) > 0
              then floor((len(l.ls) - len(list_distinct(l.ls))) * 1000 / len(l.ls))
              else 0 end::bigint as dup_line_frac_x1000,
         len(b.bgs)::bigint as n_bigrams,
         coalesce(t.top_count, 0)::bigint as top_bigram_count,
         case when len(b.bgs) > 0
              then floor(coalesce(t.top_count, 0) * 1000 / len(b.bgs))
              else 0 end::bigint as top_bigram_frac_x1000,
         case when len(b.t) > 0
              then floor(len(list_distinct(b.t)) * 1000 / len(b.t))
              else 0 end::bigint as distinct_token_ratio_x1000
  from bg b
  join lines l on l.doc_id = b.doc_id
  left join topbg t on t.doc_id = b.doc_id
),
pii as (
  select doc_id,
         len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::bigint as n_emails,
         len(regexp_extract_all(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b'))::bigint as n_phones,
         md5(regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '<PHONE>', 'g')) as redacted_md5
  from d
)
select r.*, p.n_emails, p.n_phones, p.redacted_md5
from rep r join pii p on p.doc_id = r.doc_id
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram contamination: the eval set is the 5-gram at
    token offset 3 of every 37th document; the decontamination join
    must flag (at least) those source documents, counting DISTINCT
    shared 5-grams per document."""
    from legal_knowledge_graph_spark.operators.quality import ngram_contamination

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = (
        d.where("doc_id % 37 = 0")
        .select(
            F.expr(
                "array_join(slice(split(lower(trim(text)), '\\\\s+'), 3, 5), ' ')"
            ).alias("q")
        )
    )
    return ngram_contamination(d, bench, "doc_id", "text", "q", n=5).select(
        "doc_id", "n_contaminated_ngrams"
    )


SQL_CONTAMINATION = """
with toks as (
  select doc_id,
         case when length(trim(text)) = 0 then []::varchar[]
              else regexp_split_to_array(lower(trim(text)), '\\s+') end as t
  from documents
),
bench_grams as (
  select distinct array_to_string(t[3:7], ' ') as gram
  from toks where doc_id % 37 = 0 and len(t) >= 7
),
doc_grams as (
  select distinct doc_id, gram
  from (
    select doc_id,
           unnest(case when len(t) >= 5
                  then list_transform(generate_series(1, len(t) - 4),
                                      i -> array_to_string(t[i:i+4], ' '))
                  else []::varchar[] end) as gram
    from toks
  )
)
select d.doc_id, count(*)::bigint as n_contaminated_ngrams
from doc_grams d join bench_grams b on b.gram = d.gram
group by d.doc_id
"""


def q_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop traversal (operators/traverse.k_hop_neighbors):
    3-hop undirected BFS from sources {1,2,3} over the same derived
    edge set as cc_components; the oracle is the recursive-CTE
    shortest-hop query (UNION-deduped, so (node, dist) levels stay
    bounded)."""
    from legal_knowledge_graph_spark.operators.traverse import k_hop_neighbors

    edges = (
        _lineitem(spark, sf_dir)
        .where("l_linenumber = 1")
        .select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .distinct()
    )
    sources = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    return k_hop_neighbors(edges, sources, 3, direction="both").select(
        "node", F.col("dist").cast("int").alias("dist")
    )


SQL_K_HOP = """
with recursive e as (
  select distinct l_orderkey % 500 as src, l_partkey % 500 as dst
  from lineitem where l_linenumber = 1
),
und as (
  select src as u, dst as v from e where src <> dst
  union
  select dst, src from e where src <> dst
),
walk(node, dist) as (
  select unnest([1, 2, 3])::bigint as node, 0 as dist
  union
  select und.v, walk.dist + 1
  from walk join und on und.u = walk.node
  where walk.dist < 3
)
select node, min(dist)::int as dist from walk group by node
"""


def q_lsh_ann_exact_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table zero-plane reduction (vid 13) ∪ MULTI-TABLE
    exhaustive-probe reduction (vid 19): with multi_probe == n_planes
    every bucket of every table is probed, so the OR-of-IN scan filter
    passes all rows and lsh_top_k must equal brute-force top-k —
    the driver-checkable gate for the multi-table recall path."""
    from legal_knowledge_graph_spark.operators.similarity import lsh_top_k

    single = q_lsh_ann_exact(spark, sf_dir).select(
        F.lit("single").alias("variant"), "id", "rank"
    )
    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    q = [float(x) for x in embs.where("vid = 19").first()["embedding"]]
    multi = lsh_top_k(
        embs, "vid", "embedding", q, dim=len(q), k=10,
        n_planes=4, multi_probe=4, n_tables=2,
    ).select(F.lit("multi").alias("variant"), "id", "rank")
    return single.unionByName(multi)


SQL_LSH_ANN_EXACT_MERGED = f"""
select 'single' as variant, id, rank from ({SQL_LSH_ANN_EXACT})
union all
select 'multi' as variant, vec_id::bigint as id,
       row_number() over (
         order by list_cosine_similarity(
           embedding::double[],
           (select embedding::double[] from embeddings where vec_id::bigint = 19)
         ) desc, vec_id::bigint
       )::int as rank
from embeddings
qualify rank <= 10
"""


def _planted_image_blobs(d: DataFrame) -> DataFrame:
    """(doc_id) -> (doc_id, blob): per doc a small RGB image from the
    closed-form pixel formula r=(7i+13y+3x)%256, g=(11i+5y+17x)%256,
    b=(3i+19y+7x)%256 at w=8+i%5, h=4+i%3, containerized as 24-bit BMP
    (even doc_id) or binary P6 PPM (odd). ONE definition shared by the
    decode_features gate entry and the image_pixel_stats bench key —
    the SQL oracle encodes the same formula, so a tweak here must be
    mirrored there (and only there)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from legal_knowledge_graph_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
    )

    blob_schema = T.StructType(
        [d.schema["doc_id"], T.StructField("blob", T.BinaryType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                i = int(did)
                w, h = 8 + i % 5, 4 + i % 3
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                r = (7 * i + 13 * y + 3 * x) % 256
                g = (11 * i + 5 * y + 17 * x) % 256
                b = (3 * i + 19 * y + 7 * x) % 256
                px = np.stack([r, g, b], axis=-1).astype(np.uint8)
                ids.append(did)
                blobs.append(encode_bmp(px) if i % 2 == 0 else encode_ppm(px))
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel

    # the per-doc encode loop is CPU-bound and the corpus parquet scans
    # as 1-2 splits — spread BEFORE generation, not after
    return ensure_parallel(d.select("doc_id")).mapInPandas(gen, blob_schema)


def q_decode_features_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_features (byte-histogram stand-in plumbing) ∪ REAL-codec
    pixel stats: per doc a small RGB image is built from a closed-form
    pixel formula, containerized as 24-bit BMP (even doc_id) or binary
    P6 PPM (odd doc_id), then DECODED by the real parsers
    (multimodal.decode_bmp / decode_ppm) and reduced to integer stats.
    The oracle recomputes the stats from the formula alone — it never
    sees the container bytes — so a header-offset / row-padding /
    BGR-order / bottom-up bug in the decoder cannot cancel out. Stats
    ride the histogram schema as negative buckets: -1 width, -2
    height, -3 sum_r, -4 sum_g, -5 sum_b."""
    from legal_knowledge_graph_spark.operators.multimodal import (
        image_pixel_stats,
    )

    base = q_decode_features(spark, sf_dir)
    blobs = _planted_image_blobs(_docs(spark, sf_dir))
    stats = image_pixel_stats(blobs, "doc_id", "blob")
    stat_rows = stats.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.col("width").cast("long"),
                F.col("height").cast("long"),
                F.col("sum_r"),
                F.col("sum_g"),
                F.col("sum_b"),
            )
        ).alias("pos", "byte_count"),
    ).select(
        "doc_id",
        (-F.col("pos") - 1).cast("int").alias("bucket"),
        "byte_count",
    )
    return base.unionByName(stat_rows)


SQL_DECODE_FEATURES_MERGED = f"""
select * from ({SQL_DECODE_FEATURES})
union all
select doc_id, bucket, byte_count from (
  with dims as (select doc_id, 8 + doc_id % 5 as w, 4 + doc_id % 3 as h
                from documents),
  ys as (select doc_id, w, h, unnest(generate_series(0, h - 1)) as y from dims),
  xy as (select doc_id, w, h, y, unnest(generate_series(0, w - 1)) as x from ys),
  sums as (
    select doc_id, max(w) as width, max(h) as height,
           sum((7 * doc_id + 13 * y + 3 * x) % 256)::bigint as sum_r,
           sum((11 * doc_id + 5 * y + 17 * x) % 256)::bigint as sum_g,
           sum((3 * doc_id + 19 * y + 7 * x) % 256)::bigint as sum_b
    from xy group by doc_id
  )
  select doc_id, -1 as bucket, width::bigint as byte_count from sums
  union all
  select doc_id, -2, height::bigint from sums
  union all
  select doc_id, -3, sum_r from sums
  union all
  select doc_id, -4, sum_g from sums
  union all
  select doc_id, -5, sum_b from sums
)
"""


def q_stream_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured-Streaming windowed aggregation (round-5 gate
    slot): readStream over the events parquet, watermarked 1-hour
    tumbling windows x event_type, availableNow trigger into a memory
    sink — the streaming twin of q_event_windows, previously verified
    only by pytest (tests/test_streaming.py). On a closed input the
    watermark drops nothing, so the sink must equal the batch
    aggregation — which is exactly what the DuckDB oracle computes.
    The checkpoint dir is per-invocation scratch; the memory-sink name
    is uniquified so repeated gate runs in one session don't collide."""
    import tempfile
    import uuid

    from legal_knowledge_graph_spark.streaming.incremental import (
        stream_event_windows,
    )

    import shutil

    ck = tempfile.mkdtemp(prefix="lkg_gate_stream_ck_")
    q, name = stream_event_windows(
        spark,
        sf_dir,
        ck,
        name=f"gate_sew_{uuid.uuid4().hex[:8]}",
        path_glob="events.parquet",
    )
    try:
        finished = q.awaitTermination(600)
        if not finished:
            # timed out: stop the query BEFORE touching its checkpoint
            # and fail loudly — a partial complete-mode snapshot would
            # otherwise read as a (confusing) oracle mismatch
            q.stop()
            raise TimeoutError(
                "stream_event_windows did not finish within 600 s"
            )
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return spark.table(name)


# -------------------------------------------------- bench-only timings
# (not gate entries — the registry sits at the driver's 50-entry
# verified ceiling; bench.py resolves these via getattr("q_<key>"))


def q_lsh_ann_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN at its operating point, 8 tables x probe-1 —
    timed per round so a perf regression in the OR-of-IN multi-bucket
    scan is visible. Measured on the worst-case near-uniform bench
    vectors (BASELINE.md round-5 ANN table): mean recall@10 0.66 at 27%
    scan (sf0.001, 500 vectors) vs 0.40 for one table at probe 2 and
    14.5% scan, pinned by tests/test_traindata_ops.py (recall >= 0.6,
    scan <= 0.30). The scan fraction shrinks with corpus size."""
    from legal_knowledge_graph_spark.operators.similarity import lsh_top_k

    embs = _embs(spark, sf_dir).withColumn("vid", F.col("vec_id").cast("long"))
    q = [float(x) for x in embs.where("vid = 19").first()["embedding"]]
    return lsh_top_k(
        embs, "vid", "embedding", q, dim=len(q), k=10, multi_probe=1, n_tables=8
    )


def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode path (BMP/PPM -> pixel stats) alone — timed
    per round; inside the gate it runs only as part of the merged
    decode_features entry, which also times the histogram stand-in.
    Same planted blobs as the gate entry (shared _planted_image_blobs)."""
    from legal_knowledge_graph_spark.operators.multimodal import (
        image_pixel_stats,
    )

    return image_pixel_stats(
        _planted_image_blobs(_docs(spark, sf_dir)), "doc_id", "blob"
    )


# ------------------------------------------------------------ gate table


def _union_entry(*parts):
    """(query, oracle) of a gate entry that unions tagged component
    outputs. Each part is ``(q_fn, sql, exprs)``: the Spark side runs
    ``q_fn(...).selectExpr(*exprs)`` and unions the parts by name; the
    oracle is ``select <exprs> from (sql)`` per part, joined by ``union
    all``, so ``exprs`` must parse in both Spark SQL and DuckDB (write
    casts out: ``cast(x as bigint)``, not ``x::bigint``). A part without
    SQL makes the entry rows-only (oracle ``None``)."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        dfs = [fn(spark, sf_dir).selectExpr(*exprs) for fn, _, exprs in parts]
        return functools.reduce(DataFrame.unionByName, dfs)

    if any(sql is None for _, sql, _ in parts):
        return query, None
    oracle = "\nunion all\n".join(
        f"select {', '.join(exprs)} from ({sql})" for _, sql, exprs in parts
    )
    return query, oracle


# The driver's CORRECTNESS gate verifies the FIRST 50 queries() entries
# in order, so this table is the gate: (name, query, oracle) rows, at
# most 50, oracle None for a rows-only entry. Union entries keep every
# absorbed operator running through its REAL code, each part tagged.
# ann_approx (the one rows-only entry) sits last, at the boundary.
# bench.py still times absorbed operators through their q_* functions.
# Still pytest-only: S4/S5 resume (filesystem snapshot protocol; no SQL
# analogue) and the F1 non-verbatim fuzzy tail (difflib oracle +
# hypothesis property tests).
_GATE = [
    ("structure_sequential", q_structure_sequential, SQL_STRUCTURE_SEQUENTIAL),
    # T3 both directions: write-side build_toc ∪ read-side reshape_toc
    # over the six stored-TOC shape variants
    ("toc_components", *_union_entry(
        (q_toc_reshape, SQL_TOC_RESHAPE,
         ["'w:' || url as key", "toc_json as payload_json"]),
        (q_toc_components, SQL_TOC_COMPONENTS,
         ["'r:' || cast(node_id as string) as key",
          "components_json as payload_json"]),
    )),
    ("rank_scores", q_rank_scores, SQL_RANK_SCORES),
    ("dedup_groups", q_dedup_groups, SQL_DEDUP_GROUPS),
    ("sample_per_group", q_sample_per_group, SQL_SAMPLE_PER_GROUP),
    ("pack_sequences", q_pack_sequences, SQL_PACK_SEQUENCES),
    ("hash_split", q_hash_split, SQL_HASH_SPLIT),
    # Hamming-near pairs over the planted corpus ∪ per-doc fingerprints
    ("simhash_near_dup", *_union_entry(
        (q_simhash_near_dup, SQL_SIMHASH_NEAR_DUP,
         ["'pair' as kind", "cast(doc_a as bigint) as a",
          "cast(doc_b as bigint) as b", "cast(hamming as bigint) as v"]),
        (q_simhash, SQL_SIMHASH,
         ["'sig' as kind", "cast(doc_id as bigint) as a",
          "cast(-1 as bigint) as b", "cast(simhash as bigint) as v"]),
    )),
    ("quality_filters", q_quality_filters, SQL_QUALITY_FILTERS),
    ("contamination", q_contamination, SQL_CONTAMINATION),
    ("k_hop", q_k_hop, SQL_K_HOP),
    ("split_intro_body", q_split_intro_body, SQL_SPLIT),
    ("mention_counts", q_mention_counts, SQL_MENTION_COUNTS),
    ("triple_extract", q_triple_extract, SQL_TRIPLES),
    ("surface_normalize", q_surface_normalize, SQL_SURFACE_NORM),
    ("entity_link", q_entity_link, SQL_ENTITY_LINK),
    ("cc_components", q_cc_components, SQL_CC),
    ("tree_agg", q_tree_agg, SQL_TREE_AGG),
    ("next_prev", q_next_prev, SQL_NEXT_PREV),
    ("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT),
    ("dedup_minhash", q_dedup_minhash, SQL_DEDUP_MINHASH),
    ("ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD),
    # exact broadcast-matmul tier ∪ the LSH tier at n_planes=0 (its
    # exact reduction), on the same planted pairs
    ("embedding_near_dup", *_union_entry(
        (q_embedding_near_dup, SQL_EMB_NEAR_DUP,
         ["'exact' as tier", "doc_a", "doc_b"]),
        (q_emb_lsh_near_dup_exact, SQL_EMB_LSH_NEAR_DUP_EXACT,
         ["'lsh0' as tier", "doc_a", "doc_b"]),
    )),
    ("text_metrics", q_text_metrics, SQL_TEXT_METRICS),
    ("salted_degree", q_salted_degree, SQL_SALTED_DEGREE),
    ("media_meta", q_media_meta, SQL_MEDIA_META),
    ("decode_features", q_decode_features_merged, SQL_DECODE_FEATURES_MERGED),
    # S2 hash-ordered sample ∪ S3 referenced-only corpus scan
    ("sampled_scan", *_union_entry(
        (q_deterministic_sample, SQL_DETERMINISTIC_SAMPLE,
         ["'s:' || cast(doc_id as string) as key", "sample_key as payload"]),
        (q_referenced_scan, SQL_REFERENCED_SCAN,
         ["'r:' || cast(doc_id as string) as key",
          "cast(n_chars as string) as payload"]),
    )),
    ("event_windows", q_event_windows, SQL_EVENT_WINDOWS),
    ("json_parse", q_json_parse, SQL_JSON_PARSE),
    ("search_children_topk", q_search_children_topk, SQL_SEARCH_CHILDREN),
    ("search_neighbors", q_search_neighbors, SQL_SEARCH_NEIGHBORS),
    ("resolve_spans", q_resolve_spans, SQL_RESOLVE_SPANS),
    ("rollup_agg", q_rollup_agg, SQL_ROLLUP),
    # Q1 Corpus-label listing ∪ Q2 single-corpus TOC lookup
    ("corpus_meta", *_union_entry(
        (q_search_corpus, SQL_SEARCH_CORPUS,
         ["'c:' || cast(contract_id as string) as key",
          "contract_name as payload"]),
        (q_corpus_toc, SQL_CORPUS_TOC,
         ["'t:' || cast(node_id as string) as key", "toc_json as payload"]),
    )),
    ("benchmark_validate", q_benchmark_validate, SQL_BENCHMARK_VALIDATE),
    # bottom-up level-loop summaries ∪ the summary-else-content rule
    ("tree_summarize", *_union_entry(
        (q_tree_summarize, SQL_TREE_SUMMARIZE, ["url", "path_key", "summary"]),
        (q_summary_rule, SQL_SUMMARY_RULE,
         ["cast(doc_id as string) as url", "'__summary_rule__' as path_key",
          "vec_text_md5 as summary"]),
    )),
    ("align_spans", q_align_spans, SQL_ALIGN_SPANS),
    ("corpus_nodes", q_corpus_nodes, SQL_CORPUS_NODES),
    ("vector_attach", q_vector_attach, SQL_VECTOR_ATTACH),
    ("idempotent_ids", q_idempotent_ids, SQL_IDEMPOTENT_IDS),
    ("ivf_ann_exact", q_ivf_ann_exact, SQL_IVF_ANN_EXACT),
    ("lsh_ann_exact", q_lsh_ann_exact_merged, SQL_LSH_ANN_EXACT_MERGED),
    ("sessionize", q_sessionize, SQL_SESSIONIZE),
    ("frame_sample", q_frame_sample, SQL_FRAME_SAMPLE),
    # many-query scan-once top-k ∪ single-query brute force as qid -7
    ("batch_topk", *_union_entry(
        (q_batch_topk, SQL_BATCH_TOPK, ["qid", "id", "rank"]),
        (q_topk_cosine, SQL_TOPK_COSINE,
         ["cast(-7 as bigint) as qid", "id", "rank"]),
    )),
    # span_overlap_pr per-query rows (n = -1) ∪ the run_benchmark
    # averages row (query_id = -1)
    ("benchmark_summary", *_union_entry(
        (q_span_pr, SQL_SPAN_PR,
         ["query_id", "precision", "recall", "cast(-1 as bigint) as n"]),
        (q_benchmark_summary, SQL_BENCHMARK_SUMMARY,
         ["cast(-1 as bigint) as query_id", "average_precision as precision",
          "average_recall as recall", "cast(n_queries as bigint) as n"]),
    )),
    ("html_decode", q_html_decode, SQL_HTML_DECODE),
    # the REAL Structured-Streaming twin, oracled by the batch SQL
    ("stream_event_windows", q_stream_event_windows, SQL_EVENT_WINDOWS),
    # hyperplane-LSH ∪ IVF top-k: rows-only, their recall is
    # engine-specific (lsh_ann_exact / ivf_ann_exact are the oracled
    # exact reductions)
    ("ann_approx", *_union_entry(
        (q_lsh_ann, None, ["'lsh' as method", "id", "rank"]),
        (q_ivf_ann, None, ["'ivf' as method", "id", "rank"]),
    )),
]
assert len(_GATE) <= 50

QUERIES = {name: fn for name, fn, _ in _GATE}
ORACLES = {name: sql for name, _, sql in _GATE if sql is not None}
