"""Deduplication operators for large-scale training-data pipelines.

Five tiers:

- **exact**: md5-groupBy on normalized text.
- **MinHash + LSH**: char-3-gram shingles -> one md5 per gram, taken
  as an integer g mod P -> per-permutation min of (a_j*g + b_j) mod P
  -> banded keys -> bucket self-join -> exact Jaccard verification of
  candidates. md5 (not xxhash64) is the gram hash deliberately: it is
  bit-identical across engines, so the whole LSH pipeline is
  oracle-checkable in DuckDB.
- **SimHash**: 32-bit fingerprint; per-token md5-derived bits summed
  +1/-1 per position, sign -> bit. Hamming-near pairs via band keys.
- **n-gram Jaccard**: exact pairwise Jaccard within a blocking key.
- **embedding cosine**: exact near-dup pairs above a cosine threshold
  (brute force within blocks; the LSH-bucketed scale path is in
  operators/similarity.py).

Each Jaccard tier (MinHash, n-gram) has exactly two physical paths,
chosen by one guard, :func:`_fast_stats`:

- **fast path**: k <= 3, a bounded gram vocabulary and doc count, and
  unique ids. One Arrow pass packs each doc's grams into a bitmask
  (plus its minhash signature); the masks broadcast, and candidate
  pairs are enumerated and verified inside each band bucket / block
  task, so no O(pairs) table crosses an exchange.
- **fallback**: the distributed shingle path — explode, JVM-side
  signatures and band self-join, shuffle-join :func:`jaccard_verify`.
  It is the unbounded-vocab / 100 TB shape, and it also takes repeated
  ids: a repeated id's gram rows add up there exactly as in the DuckDB
  oracles, which a per-id bitmask cannot express.

Both paths give identical rows for unique ids.

Scale notes:
- every pairwise tier blocks first (LSH bands / explicit key); the
  only cross joins are within capped buckets.
- shingle explosion is the big intermediate: ~len(text) rows per doc.
  The groupBy(min) signature aggregation is map-side combinable, so
  the shuffle carries only (doc, perm, min-hash) rows — n_perm rows
  per doc, independent of text length.
- band-bucket self-joins cap bucket size (max_block); a stop-text
  bucket would otherwise emit B^2 pairs. Drops are countable on demand
  (pass ``metrics=`` to lsh_candidate_pairs / minhash_near_duplicates)
  and the DuckDB oracle applies the same cap, so capping never makes
  the gate inexact.

Banding is written once, here. A ``(doc_id, band_key)`` table goes
through :func:`_banded_pairs` (anti-join cap, then the band self-join)
for the MinHash fallback, entity linking (``linking.candidate_pairs``:
these shingles and the :func:`_perm_min` aggregate, with an xxhash64
gram hash) and the embedding LSH tier
(``similarity.embedding_near_dup_lsh``). Integer fingerprints (SimHash,
SRP bucket bits) get their keys from :func:`_bit_band_keys`; SimHash
then pairs inside each bucket's task instead of self-joining.

The bucket-local tiers (the MinHash and n-gram fast paths, SimHash)
split buckets into ``UNIT_ROWS``-row units with :func:`_bucket_units`
and pair them in the one loop :func:`_map_unit_pairs`; each keeps only
its own verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.functions.partitioning import ensure_parallel

DEFAULT_MINHASH_PERMS = 16
DEFAULT_BANDS = 4  # rows_per_band = perms // bands; 4x4 => band
# collision prob = sim^4: at jaccard 0.9 a dup pair is missed with prob
# (1-0.9^4)^4 ~ 1.4%, while the same-vocab candidate flood of 2-row
# bands (collision ~ sim^2) is suppressed ~30x
DEFAULT_JACCARD_THRESHOLD = 0.8
DEFAULT_COSINE_THRESHOLD = 0.8
DEFAULT_MAX_BLOCK = 1000
SIMHASH_BITS = 32
# Jaccard fast-path bounds (checked by _fast_stats): distinct grams,
# docs, and bytes of the broadcast doc x vocab mask matrix
MAX_VOCAB = 1 << 16
MAX_DOCS = 1_000_000
MAX_MASK_BYTES = 1 << 28
UNIT_ROWS = 192  # bucket rows (i values) per bucket-local verify unit
FLUSH_PAIRS = 1 << 20  # pairs per verify call: bounds its temporaries
# exact embedding tier: row and byte caps of the broadcast vector set
EMB_MAX_BROADCAST_ROWS = 2_000_000
EMB_MAX_BROADCAST_BYTES = 1 << 31


def _norm_text(col: Column) -> Column:
    return F.lower(F.trim(col))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) texts.

    Returns (group_key, n_dups, doc_ids) for groups with >= 2 members.
    One map-side-combinable groupBy on a 128-bit key; never shuffles
    the text itself.
    """
    keyed = df.select(
        F.col(id_col).alias("doc_id"), F.md5(_norm_text(F.col(text_col))).alias("group_key")
    )
    return (
        keyed.groupBy("group_key")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_dups") >= 2)
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc_id, gram): distinct char k-grams of the normalized text.
    Texts shorter than k contribute the whole text as one gram."""
    t = _norm_text(F.col(text_col))
    grams = F.when(
        F.length(t) >= k,
        F.expr(
            f"transform(sequence(0, length({_norm_sql(text_col)}) - {k}),"
            f" i -> substring({_norm_sql(text_col)}, i + 1, {k}))"
        ),
    ).otherwise(F.array(t))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(grams)).alias("gram")
    )


def _norm_sql(text_col: str) -> str:
    return f"lower(trim({text_col}))"


#: Mersenne prime 2^31-1: permutation arithmetic stays < 2^62, so the
#: same int64 expressions evaluate identically in any engine.
MINHASH_P = 2147483647


def _perm_coeffs(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients, a != 0."""
    out = []
    for j in range(n_perm):
        a = (2654435761 * (j + 1) + 40503) % MINHASH_P or 1
        b = (2246822519 * (j + 1) + 3266489917) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    sh: DataFrame, n_perm: int = DEFAULT_MINHASH_PERMS
) -> DataFrame:
    """(doc_id, gram) -> (doc_id, h0..h{n-1}) where
    h_j = min((a_j * g + b_j) mod P) over grams, with
    g = first-15-hex-chars of md5(gram) as int, mod P.

    One md5 per gram (not one per gram-permutation); the permutations
    are integer arithmetic, which is both ~n_perm x cheaper and
    bit-identical across engines (the DuckDB oracle reproduces the
    exact signatures)."""
    g = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long") % MINHASH_P
    return _perm_min(sh.select("doc_id", g.alias("g")), n_perm)


def _perm_min(hashed: DataFrame, n_perm: int) -> DataFrame:
    """(doc_id, g) -> (doc_id, h0..h{n-1}), h_j = min((a_j * g + b_j)
    mod P). The caller picks the gram hash g in [0, P)."""
    aggs = [
        F.min((F.col("g") * F.lit(a) + F.lit(b)) % MINHASH_P).alias(f"h{j}")
        for j, (a, b) in enumerate(_perm_coeffs(n_perm))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_keys(n_perm: int, bands: int) -> Column:
    """Exploding ``band_key`` column for a signature table: one row per
    band, "b|h..|h.." over that band's signature rows. The DuckDB
    oracle builds the same strings."""
    rpb = n_perm // bands
    return F.explode(
        F.array(
            *[
                F.concat_ws(
                    "|", F.lit(str(b)), *[F.col(f"h{b * rpb + r}") for r in range(rpb)]
                )
                for b in range(bands)
            ]
        )
    ).alias("band_key")


def _bit_band_keys(col: str, bands: int, rpb: int) -> Column:
    """Exploding ``band_key`` column over an integer fingerprint
    column: band b's key is ``b * 2^max(rpb, 1)`` plus bits
    ``[b*rpb, (b+1)*rpb)`` of ``col``, so keys of different bands never
    collide. ``rpb=0`` gives one bucket per band."""
    return F.explode(
        F.array(
            *[
                (
                    F.lit(b * (1 << max(rpb, 1)))
                    + F.shiftright(F.col(col), b * rpb).bitwiseAND(F.lit((1 << rpb) - 1))
                ).cast("long")
                for b in range(bands)
            ]
        )
    ).alias("band_key")


def _count_dropped(sizes: DataFrame, max_block: int, metrics: dict) -> None:
    """Record the buckets above ``max_block`` of a (band_key, bs) table
    (one eager action) as ``dropped_buckets`` / ``dropped_rows``."""
    dropped = (
        sizes.where(F.col("bs") > max_block)
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("bs"), F.lit(0)).alias("nr"),
        )
        .first()
    )
    metrics["dropped_buckets"] = int(dropped["nb"])
    metrics["dropped_rows"] = int(dropped["nr"])


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_perm: int = DEFAULT_MINHASH_PERMS,
    bands: int = DEFAULT_BANDS,
    max_block: int = DEFAULT_MAX_BLOCK,
    metrics: dict | None = None,
) -> DataFrame:
    """Banded LSH: pair (a, b) is a candidate iff some band's rows all
    agree. Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Band buckets larger than ``max_block`` are excluded from the
    self-join (a stop-text bucket of B members would emit B^2 pairs).
    Pass a ``metrics`` dict to have the drop COUNTED (keys
    ``dropped_buckets`` / ``dropped_rows``); the banded table is
    localCheckpointed first so the eager metrics aggregation and the
    self-join share ONE materialization of the shingle -> signature ->
    banding lineage instead of running it twice. The DuckDB oracle in
    entry_queries._sql_minhash applies the same cap, so the gate stays
    exact under capping."""
    return _banded_pairs(
        sigs.select("doc_id", _band_keys(n_perm, bands)), max_block, metrics
    )


def _banded_pairs(
    banded: DataFrame, max_block: int, metrics: dict | None = None
) -> DataFrame:
    """(doc_id, band_key) -> distinct (doc_a, doc_b), doc_a < doc_b,
    for docs sharing a band bucket of at most ``max_block`` members.
    The MinHash fallback, entity linking and the embedding SRP tier
    all pair through it."""
    if metrics is not None:
        # the metrics count is an EAGER action; checkpoint so it
        # doesn't execute the signature lineage separately from the
        # self-join's execution (ADVICE round 2: metrics must not
        # double the signature-stage work)
        banded = banded.localCheckpoint(eager=False)
    sizes = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("bs"))
    if metrics is not None:
        _count_dropped(sizes, max_block, metrics)
    # Cap via ANTI-join on the oversized-key set: the previous inner
    # join on band_key forced a full shuffle of the banded table just
    # to apply the cap, and the self-join below shuffles it by
    # band_key again. Oversized buckets are rare in practice (AQE
    # broadcasts the tiny set at runtime and the banded table never
    # reshuffles), but their count is data-dependent — a stop-text
    # corpus could make it large — so the broadcast is NOT forced:
    # AQE falls back to a shuffle anti-join when the set is big.
    # Null-key semantics: the anti-join KEEPS null band_key rows where
    # the old inner size join dropped them — harmless because band
    # keys are built from non-null hashes (nulls impossible by
    # construction) and the self-join below discards null keys anyway;
    # if a future banding could yield nulls, filter isNotNull first.
    oversized = sizes.where(F.col("bs") > max_block).select("band_key")
    banded = banded.join(oversized, "band_key", "left_anti")
    a = banded.select("band_key", F.col("doc_id").alias("doc_a"))
    b = banded.select("band_key", F.col("doc_id").alias("doc_b"))
    # a pair agreeing in several bands is joined once per band
    return (
        a.join(b, "band_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs from their shingle sets.
    Returns (doc_a, doc_b, inter_size, union_size) — integer columns
    only, so results are engine-portable (no float hashing issues)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a_gr = sh.select(F.col("doc_id").alias("doc_a"), "gram")
    b_gr = sh.select(F.col("doc_id").alias("doc_b"), "gram")
    inter_counts = (
        pairs.join(a_gr, "doc_a")
        .join(b_gr, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter_counts.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter_size")).alias("union_size"),
        )
    )


# ------------------------------------------------------------------
# bounded-vocab Arrow fast path of the Jaccard tiers (guide §4.2 / §8)
#
# The distributed shingle machinery above processes ~len(text) rows
# per doc through an explode, an md5 per (doc, gram), a 16-agg
# groupBy, a band self-join and a pair-table shuffle — at bench scale
# that is 7.2M exploded rows and an 11M-row candidate flood for a
# corpus whose TEXT is 15 MB. When the gram vocabulary is bounded
# (char-k-grams over a bounded alphabet), every per-doc quantity the tier
# needs (distinct-gram bitmask, set size, minhash signature) is
# computable in ONE vectorized Arrow pass over the normalized text,
# and candidate pairs can be enumerated INSIDE each band bucket / each
# block against the broadcast mask matrix — the O(pairs) table is
# never shuffled, never crosses an exchange, and only verified pairs
# are emitted (guide §8: decide with small rows; move heavy bytes —
# here: emit heavy pair rows — exactly once).
#
# Exactness: gram slicing is code-point identical to substring(); the
# md5 -> int -> mod-P -> (a*g+b) mod P signature arithmetic is the
# same integer math (int64, no overflow: a, g < 2^31); masks index a
# GLOBAL sorted vocab so popcount(A & B) is exactly |A ∩ B|. The
# DuckDB oracles are unchanged and stay green. _fast_stats is the one
# guard: k > 3, an unbounded vocab, an oversized corpus or repeated
# ids fall back to the distributed path above (the 100 TB shape).


def _gram_set(t: str, k: int) -> set:
    """Distinct char-k-grams, mirroring :func:`shingles` exactly:
    texts shorter than k contribute the whole text as one gram."""
    return {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t}


#: packed-gram padding: strictly above every valid Unicode codepoint
#: (max 0x10FFFF), so "short text" grams (< k codepoints) pack
#: injectively alongside full k-grams.
_GRAM_SENTINEL = 0x1FFFFF


def _packed_doc_grams(texts: list, k: int):
    """Vectorized per-doc DISTINCT char-k-grams (k <= 3) as packed
    int64 codes: gram g -> sum_j cp_j << (21*j), positions past the
    gram's end (texts shorter than k) padded with ``_GRAM_SENTINEL``.
    21 bits/codepoint x 3 <= 63 bits, and the sentinel exceeds every
    valid codepoint, so packing is a bijection onto gram strings —
    identical gram sets to :func:`_gram_set`, computed in a handful of
    numpy passes instead of one Python set op per (doc, gram).

    Returns ``(doc_of, packed)``: distinct grams per doc, sorted by
    (doc index, packed code). None entries in ``texts`` count as "".
    """
    import numpy as np

    n = len(texts)
    lens = np.fromiter(
        (len(t) if t is not None else 0 for t in texts), dtype=np.int64, count=n
    )
    concat = "".join(t if t is not None else "" for t in texts)
    cps = np.frombuffer(concat.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    cps = np.concatenate([cps, np.full(k, _GRAM_SENTINEL, dtype=np.int64)])
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # docs with len >= k contribute len-k+1 window grams; shorter docs
    # one whole-text gram (the _gram_set rule)
    ng = np.where(lens >= k, lens - k + 1, 1)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), ng)
    g_end = np.cumsum(ng)
    pos = np.arange(len(doc_of), dtype=np.int64) - np.repeat(g_end - ng, ng) + np.repeat(
        starts, ng
    )
    lim = np.repeat(starts + lens, ng)  # doc end offset per window
    packed = np.zeros(len(pos), dtype=np.int64)
    for j in range(k):
        idx = pos + j
        cj = np.where(idx < lim, cps[idx], _GRAM_SENTINEL)
        packed |= cj << (21 * j)
    order = np.lexsort((packed, doc_of))
    d_s, p_s = doc_of[order], packed[order]
    keep = np.empty(len(d_s), dtype=bool)
    keep[:1] = True
    keep[1:] = (d_s[1:] != d_s[:-1]) | (p_s[1:] != p_s[:-1])
    return d_s[keep], p_s[keep]


def _unpack_gram(p: int, k: int) -> str:
    """Inverse of the packing in :func:`_packed_doc_grams`."""
    return "".join(
        chr((p >> (21 * j)) & 0x1FFFFF)
        for j in range(k)
        if ((p >> (21 * j)) & 0x1FFFFF) != _GRAM_SENTINEL
    )


def _pack_gram(g: str, k: int) -> int:
    """String -> packed code (grams have <= k codepoints)."""
    p = 0
    for j in range(k):
        p |= (ord(g[j]) if j < len(g) else _GRAM_SENTINEL) << (21 * j)
    return p


def _norm_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t=lower(trim(text))) — normalization stays JVM-side so
    locale/trim semantics are identical to the distributed path."""
    return df.select(
        F.col(id_col).alias("doc_id"), _norm_text(F.col(text_col)).alias("t")
    )


def _packed_grams_table(norm_docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, codes array<long>): per-doc DISTINCT packed grams
    (k <= 3) in one Arrow pass over the normalized text. Checkpointed
    by _fast_stats so the text is gram-extracted exactly ONCE — the
    vocabulary collect and the mask/signature stats pass both read the
    cached codes instead of re-deriving grams from text."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            norm_docs.schema["doc_id"],
            T.StructField("codes", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            texts = b.column("t").to_pylist()
            n = len(texts)
            if n == 0:
                continue
            doc_of, packed = _packed_doc_grams(texts, k)
            counts = np.bincount(doc_of, minlength=n)
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            codes = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(packed, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), codes], names=["doc_id", "codes"]
            )

    return norm_docs.mapInArrow(run, schema)


def _collect_code_vocab(grams: DataFrame):
    """Global sorted packed-gram vocabulary (np.int64 array) from the
    codes table, or None above ``MAX_VOCAB``. Tasks emit their own
    distinct codes (bounded by the vocab size, not the corpus), so the
    driver collect is bounded by construction."""
    import numpy as np
    import pyarrow as pa

    def emit(batches):
        acc = None
        for b in batches:
            flat = b.column("codes").flatten()
            u = np.unique(flat.to_numpy(zero_copy_only=False))
            acc = u if acc is None else np.union1d(acc, u)
        if acc is not None and len(acc):
            if len(acc) > MAX_VOCAB:
                # this task alone proves the vocab is over budget:
                # MAX_VOCAB+1 distinct codes are enough to trip the
                # global guard, and truncating bounds what the shuffle
                # and driver ever see on unbounded-vocab corpora
                acc = acc[: MAX_VOCAB + 1]
            yield pa.RecordBatch.from_arrays(
                [pa.array(acc, type=pa.int64())], names=["gram"]
            )

    # count-guard-then-collect over a checkpointed distinct (the
    # CLAUDE.md round-5 CollectLimit finding): distinct+limit+collect
    # scheduled 1-then-4x incremental waves (serial jobs) and shipped
    # up to limit rows PER PARTITION in the overflow case; here the
    # count runs all partitions in one wave and the Arrow fetch reads
    # the materialized distinct only when it is provably <= MAX_VOCAB.
    dn = (
        grams.select("codes")
        .mapInArrow(emit, "gram long")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if dn.count() > MAX_VOCAB:
        return None
    return np.sort(dn.toPandas()["gram"].to_numpy(dtype=np.int64))


def _doc_gram_stats_from_codes(
    grams: DataFrame, vocab_codes, k: int, n_perm: int
) -> DataFrame:
    """Stats pass over the cached codes table:
    (doc_id, mask, sz[, h0..h{n_perm-1}]) per row. The mask bit index
    is the code's rank in the SORTED packed vocabulary — a consistent
    bijection (masks are only intersected against each other), and the
    md5-derived g values are computed from the decoded gram strings so
    signatures equal :func:`minhash_signatures` exactly."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    spark = grams.sparkSession
    nbytes = (len(vocab_codes) + 7) // 8
    g_vals = _vocab_g_vals([_unpack_gram(int(p), k) for p in vocab_codes])
    b_vocab = spark.sparkContext.broadcast((vocab_codes, g_vals))
    coeffs = _perm_coeffs(n_perm) if n_perm else []

    fields = [grams.schema["doc_id"], T.StructField("mask", T.BinaryType(), False),
              T.StructField("sz", T.LongType(), False)]
    fields += [T.StructField(f"h{j}", T.LongType(), True) for j in range(n_perm)]
    schema = T.StructType(fields)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vp, gv_all = b_vocab.value
        for b in batches:
            col = b.column("codes")
            n = len(col)
            if n == 0:
                continue
            pk = col.flatten().to_numpy(zero_copy_only=False)
            counts = col.value_lengths().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            codes = np.searchsorted(vp, pk)
            codes = np.minimum(codes, len(vp) - 1)
            if not np.array_equal(vp[codes], pk):
                raise KeyError("doc grams absent from the collected vocabulary")
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            M = np.zeros((n, nbytes), dtype=np.uint8)
            rows = np.repeat(np.arange(n), counts)
            np.bitwise_or.at(
                M, (rows, codes >> 3), (1 << (codes & 7)).astype(np.uint8)
            )
            arrays = [
                b.column("doc_id"),
                pa.array([M[i].tobytes() for i in range(n)], type=pa.binary()),
                pa.array(counts, type=pa.int64()),
            ]
            if n_perm:
                gv = gv_all[codes]
                for a, b_ in coeffs:
                    vals = (gv * a + b_) % MINHASH_P
                    arrays.append(
                        pa.array(np.minimum.reduceat(vals, starts), type=pa.int64())
                    )
            yield pa.RecordBatch.from_arrays(
                arrays, names=["doc_id", "mask", "sz"] + [f"h{j}" for j in range(n_perm)]
            )

    return grams.mapInArrow(run, schema)


def _vocab_g_vals(vocab: list) -> "object":
    """md5-derived permutation inputs g = int(md5[:15], 16) mod P for
    every vocab gram — computed ONCE on the driver (<= MAX_VOCAB md5s)
    instead of once per (doc, gram) row."""
    import hashlib

    import numpy as np

    return np.fromiter(
        (
            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_P
            for g in vocab
        ),
        dtype=np.int64,
        count=len(vocab),
    )


def _fast_stats(nd: DataFrame, k: int, n_perm: int):
    """The single guard of both Jaccard tiers' fast path.

    From the normalized (doc_id, t) table, returns ``(stats, br)``:
    the checkpointed (doc_id, mask, sz[, h0..h{n_perm-1}]) table and
    the (b_map, b_M64, b_sz, int_ids) mask broadcasts. Returns None —
    the caller takes the distributed fallback — when k > 3, the vocab
    exceeds ``MAX_VOCAB``, the docs exceed ``MAX_DOCS`` (or there are
    none), the mask matrix exceeds ``MAX_MASK_BYTES``, or an id
    repeats (the fallback adds up a repeated id's gram rows, as the
    oracles do; one mask per id cannot).

    Every driver collect is bounded before it runs: the vocab by its
    count guard, the masks by ``n_docs * nbytes``."""
    import numpy as np

    if k > 3:
        return None
    # gram-extract ONCE into a cached codes table; the vocab collect
    # and the stats pass both read it
    grams = _packed_grams_table(nd, k).localCheckpoint(eager=False)
    vocab_codes = _collect_code_vocab(grams)
    if vocab_codes is None:
        return None
    stats = _doc_gram_stats_from_codes(grams, vocab_codes, k, n_perm).localCheckpoint(
        eager=False
    )
    nbytes = (len(vocab_codes) + 7) // 8
    n_docs = stats.count()
    if n_docs == 0 or n_docs > MAX_DOCS or n_docs * nbytes > MAX_MASK_BYTES:
        return None
    pdf = stats.select("doc_id", "mask", "sz").toPandas()
    ids = pdf["doc_id"].to_numpy()
    if len(np.unique(ids)) != len(ids):
        return None
    nwords = (nbytes + 7) // 8
    M = np.zeros((n_docs, nwords * 8), dtype=np.uint8)
    M[:, :nbytes] = np.frombuffer(b"".join(pdf["mask"]), dtype=np.uint8).reshape(
        n_docs, nbytes
    )
    sizes = pdf["sz"].to_numpy(dtype="int64")
    int_ids = ids.dtype.kind in "iu"
    sc = stats.sparkSession.sparkContext
    if int_ids:
        order = np.argsort(ids, kind="stable")
        b_map = sc.broadcast((ids[order], order))
    else:
        b_map = sc.broadcast({v: i for i, v in enumerate(pdf["doc_id"].tolist())})
    br = (b_map, sc.broadcast(M.view(np.uint64)), sc.broadcast(sizes), int_ids)
    return stats, br


def _swar_popcount_rows(x):
    import numpy as np

    c55 = np.uint64(0x5555555555555555)
    c33 = np.uint64(0x3333333333333333)
    c0F = np.uint64(0x0F0F0F0F0F0F0F0F)
    c01 = np.uint64(0x0101010101010101)
    one, two, four, s56 = np.uint64(1), np.uint64(2), np.uint64(4), np.uint64(56)
    x = x - ((x >> one) & c55)
    x = (x & c33) + ((x >> two) & c33)
    x = (x + (x >> four)) & c0F
    return ((x * c01) >> s56).sum(axis=1).astype("int64")


def _bucket_units(
    grouped: DataFrame, cols: list, max_block: int | None = None
) -> DataFrame:
    """Work units of the bucket-local verifiers (the MinHash and n-gram
    fast paths, SimHash). ``grouped`` holds one row per bucket: its
    members sorted by doc_id and their count ``bs``. Each bucket of at
    least 2 (and, given ``max_block``, at most ``max_block``) members
    becomes one row of ``cols`` plus an i-range ``[lo, hi)`` per
    ``UNIT_ROWS`` members; the pairs ``i in [lo, hi), j > i`` of a
    bucket's units are the bucket's pairs, each once."""
    bs = F.col("bs")
    keep = bs >= 2 if max_block is None else (bs >= 2) & (bs <= max_block)
    chunks = F.sequence(F.lit(0), F.ceil((bs - 1) / F.lit(UNIT_ROWS)).cast("long") - 1)
    lo = F.col("ci") * UNIT_ROWS
    return (
        grouped.where(keep)
        .select(*cols, "bs", F.explode(chunks).alias("ci"))
        .withColumns({"lo": lo, "hi": F.least(lo + UNIT_ROWS, bs - 1)})
        .drop("ci", "bs")
        # round-robin spread: unit rows are tiny but each fans out to
        # O(UNIT_ROWS * bs) pairs, so AQE's byte-based coalescing of the
        # shuffle would run the verify serially
        .repartition(grouped.sparkSession.sparkContext.defaultParallelism)
    )


def _pair_index(m: int, lo: int, hi: int):
    """Member positions ``(ia, ib)`` of the pairs ``lo <= i < hi``,
    ``i < j < m`` of an m-member unit, i-major."""
    import numpy as np

    i_idx = np.arange(lo, hi, dtype=np.int64)
    reps = m - 1 - i_idx
    ia = np.repeat(i_idx, reps)
    ib = np.arange(len(ia), dtype=np.int64) - np.repeat(
        np.cumsum(reps) - reps - i_idx - 1, reps
    )
    return ia, ib


def _map_unit_pairs(
    units: DataFrame, schema, setup, pair_cols=("ids",), unit_cols=()
) -> DataFrame:
    """The pair loop of the bucket-local verifiers, over
    :func:`_bucket_units` rows. Per task, ``setup()`` returns
    ``(verify, whole)``. Each unit's pairs gather every ``pair_cols``
    member array (``ids`` first) on both sides and repeat every
    ``unit_cols`` value; ``verify`` takes about ``FLUSH_PAIRS`` pairs at
    a time, as arrays ``a0, b0, a1, b1, ..., unit values...``, and
    returns their output frame. ``whole(ids, lo, hi)``, if given, may
    take a unit whole and return its frame, or None to pair it."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    cols = (*pair_cols, *unit_cols)
    n_pair = len(pair_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        verify, whole = setup()
        for pdf in batches:
            acc, acc_n = [], 0
            for lo, hi, *vals in zip(pdf["lo"], pdf["hi"], *(pdf[c] for c in cols)):
                arrs = [np.asarray(v) for v in vals[:n_pair]]
                m = len(arrs[0])
                lo, hi = int(lo), int(min(hi, m - 1))
                out = whole(arrs[0], lo, hi) if whole else None
                if out is not None:
                    yield out
                    continue
                ia, ib = _pair_index(m, lo, hi)
                acc.append(
                    [a[x] for a in arrs for x in (ia, ib)]
                    + [np.full(len(ia), v) for v in vals[n_pair:]]
                )
                acc_n += len(ia)
                if acc_n >= FLUSH_PAIRS:
                    yield verify(*(np.concatenate(c) for c in zip(*acc)))
                    acc, acc_n = [], 0
            if acc:
                yield verify(*(np.concatenate(c) for c in zip(*acc)))

    return units.mapInPandas(run, schema)


def _verify_units_jaccard(
    units: DataFrame, doc_field, br, threshold: float
) -> DataFrame:
    """Verify each unit's pairs against the broadcast mask matrix and
    emit only pairs with jaccard >= threshold. The size-ratio prefilter
    (lossless: J <= min|.|/max|.|) skips popcounts that cannot pass."""
    from pyspark.sql import types as T

    b_map, b_M, b_sz, int_ids = br
    out_schema = T.StructType(
        [
            T.StructField("doc_a", doc_field.dataType, False),
            T.StructField("doc_b", doc_field.dataType, False),
            T.StructField("inter_size", T.LongType(), False),
            T.StructField("union_size", T.LongType(), False),
        ]
    )

    # GEMM switch: a big unit (a chunk of a big ngram block or of a
    # stop-text band bucket) computes ALL its pairwise intersections as
    # ONE float32 matrix product over the unpacked 0/1 mask rows instead
    # of a per-pair mask gather + SWAR popcount — exact (counts <= vocab
    # <= 2^16 << 2^24, the float32 integer range) and BLAS-fast. Small
    # units keep the pairwise path (GEMM setup would dominate).
    gemm_min_pairs = 1 << 14
    gemm_budget_floats = 1 << 26  # 256 MB float32 operand ceiling

    def setup():
        import numpy as np
        import pandas as pd

        MM, SZ, mapping = b_M.value, b_sz.value, b_map.value
        unpack_cols = MM.shape[1] * 64
        if int_ids:
            s_ids, s_rows = mapping

        def to_rows(vals: "np.ndarray") -> "np.ndarray":
            if int_ids:
                i = np.searchsorted(s_ids, vals)
                i = np.minimum(i, len(s_ids) - 1)
                if not np.array_equal(s_ids[i], vals):
                    raise KeyError("unit ids absent from the stats table")
                return s_rows[i]
            return np.fromiter((mapping[v] for v in vals), dtype=np.int64, count=len(vals))

        def verify(da: "np.ndarray", db: "np.ndarray") -> "pd.DataFrame":
            ra, rb = to_rows(da), to_rows(db)
            sa, sb = SZ[ra], SZ[rb]
            if threshold > 0:
                pre = np.minimum(sa, sb) >= threshold * np.maximum(sa, sb)
                da, db, ra, rb, sa, sb = (
                    da[pre], db[pre], ra[pre], rb[pre], sa[pre], sb[pre]
                )
            inter = _swar_popcount_rows(MM[ra] & MM[rb])
            union = sa + sb - inter
            keep = inter >= threshold * union
            return pd.DataFrame(
                {
                    "doc_a": da[keep],
                    "doc_b": db[keep],
                    "inter_size": inter[keep],
                    "union_size": union[keep],
                }
            )

        def gemm_unit(ids_arr: "np.ndarray", lo: int, hi: int):
            m = len(ids_arr)
            if (hi - lo) * m < gemm_min_pairs or m * unpack_cols > gemm_budget_floats:
                return None
            rows = to_rows(ids_arr)
            G = np.unpackbits(
                MM[rows].view(np.uint8), axis=1, bitorder="little"
            ).astype(np.float32)
            # float32 counts are exact integers (<= vocab <= 2^16);
            # cast to int64 BEFORE thresholding so the keep predicate
            # is bit-identical to the pairwise path's int64 math
            inter = (G[lo:hi] @ G.T).astype(np.int64)  # (hi-lo, m)
            sa = SZ[rows][lo:hi]
            sb = SZ[rows]
            union = sa[:, None] + sb[None, :] - inter
            keep = inter >= threshold * union
            # only pairs with j strictly after i (ids sorted asc)
            keep &= np.arange(m)[None, :] > np.arange(lo, hi)[:, None]
            ri, cj = np.nonzero(keep)
            return pd.DataFrame(
                {
                    "doc_a": ids_arr[ri + lo],
                    "doc_b": ids_arr[cj],
                    "inter_size": inter[keep],
                    "union_size": union[keep],
                }
            )

        return verify, gemm_unit

    return _map_unit_pairs(units, out_schema, setup)


def _sorted_members(df: DataFrame, key: str) -> DataFrame:
    """(key, ids, bs): each ``key``'s doc_ids, sorted, and their count."""
    return df.groupBy(key).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids"),
        F.count(F.lit(1)).alias("bs"),
    )


def _minhash_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n_perm: int,
    bands: int,
    k: int,
    max_block: int,
    metrics: dict | None,
) -> DataFrame | None:
    """Bounded-vocab MinHash tier: same output as the distributed
    path, no shingle explode, no pair shuffle. None -> caller falls
    back to the distributed tier (see :func:`_fast_stats`)."""
    fast = _fast_stats(_norm_docs(ensure_parallel(df), id_col, text_col), k, n_perm)
    if fast is None:
        return None
    stats, br = fast
    buckets = _sorted_members(stats.select("doc_id", _band_keys(n_perm, bands)), "band_key")
    if metrics is not None:
        buckets = buckets.localCheckpoint(eager=False)
        _count_dropped(buckets, max_block, metrics)
    units = _bucket_units(buckets, ["ids"], max_block)
    verified = _verify_units_jaccard(units, stats.schema["doc_id"], br, threshold)
    # a pair sharing several band buckets is verified in each of them
    return verified.distinct()


def _ngram_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int,
    min_jaccard: float,
) -> DataFrame | None:
    """Bounded-vocab blocked-Jaccard tier: block pair enumeration is
    LOCAL to the verify task (the O(block^2) pair table never touches
    an exchange). None -> distributed fallback (see
    :func:`_fast_stats`)."""
    base = ensure_parallel(df)
    fast = _fast_stats(_norm_docs(base, id_col, text_col), k, 0)
    if fast is None:
        return None
    stats, br = fast
    blocks = base.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("blk"))
    units = _bucket_units(_sorted_members(blocks.where(F.col("blk").isNotNull()), "blk"), ["ids"])
    return _verify_units_jaccard(units, stats.schema["doc_id"], br, min_jaccard)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = DEFAULT_JACCARD_THRESHOLD,
    n_perm: int = DEFAULT_MINHASH_PERMS,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    max_block: int = DEFAULT_MAX_BLOCK,
    metrics: dict | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup tier: shingle -> sign -> band ->
    bucket-join -> exact-Jaccard verify. Returns
    (doc_a, doc_b, inter_size, union_size) for pairs with
    jaccard >= threshold that share >= 1 LSH band. ``metrics`` (opt-in)
    receives the capped-bucket drop counts.

    Two physical paths, picked by :func:`_fast_stats`: the Arrow fast
    path (one pass computes signatures + masks, pairs enumerate inside
    band buckets, nothing O(pairs) is shuffled), or the distributed
    shingle path below — the unbounded-vocab / 100 TB / repeated-id
    fallback, with identical output for unique ids."""
    fast = _minhash_fast(
        df, id_col, text_col, threshold, n_perm, bands, k, max_block, metrics
    )
    if fast is not None:
        return fast
    # The shingle explosion feeds three consumers (signatures, sizes,
    # intersection); localCheckpoint materializes it once instead of
    # re-exploding ~len(text) rows per doc three times. On a cluster
    # this is a cached/checkpointed intermediate table. ensure_parallel
    # first: a single-file corpus would otherwise explode serially.
    sh = shingles(ensure_parallel(df), id_col, text_col, k).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh, n_perm)
    pairs = lsh_candidate_pairs(sigs, n_perm, bands, max_block, metrics)

    # Exact size-ratio prefilter (lossless): J(A,B) <= min|.|/max|.|,
    # so a pair whose shingle-set sizes differ by more than the
    # threshold ratio can never verify. Cuts the candidate flood
    # before the expensive gram-intersection join; the sizes table is
    # tiny (one int per doc) and broadcasts.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sz_a = F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")))
    sz_b = F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")))
    pairs = (
        pairs.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .where(
            F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b")
    )
    return jaccard_verify(sh, pairs).where(
        F.col("inter_size") >= F.lit(threshold) * F.col("union_size")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over whitespace tokens
    (duplicates kept — frequency-weighted). Token hash = first 8 hex
    chars of md5 (engine-portable). Bit i of the fingerprint is 1 iff
    sum over tokens of (bit_i ? +1 : -1) > 0.

    Round 6: computed in ONE Arrow pass over the JVM-tokenized array
    column (split stays JVM-side so regex semantics are unchanged)
    instead of a token explode + per-row md5 + 32-aggregate groupBy —
    token md5s are cached per task (natural-language token vocabularies
    are Zipfian, so the cache hit rate is high), and the ±1 bit sums
    are one reduceat per batch. Identical output: docs with no
    non-empty token are absent, exactly like the explode path."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    base = ensure_parallel(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(_norm_text(F.col(text_col)), r"\s+").alias("toks"),
    ).where(F.col("toks").isNotNull())
    schema = T.StructType(
        [base.schema["doc_id"], T.StructField("simhash", T.LongType(), False)]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import hashlib

        cache: dict = {}
        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

        for b in batches:
            v = b.column("toks")
            n = len(v)
            if n == 0:
                continue
            flat = v.flatten()
            # per-doc token counts from the list offsets (value_lengths
            # is null-safe: null lists were filtered upstream)
            lens = v.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
            doc_of = np.repeat(np.arange(n), lens)
            # Arrow dictionary_encode = C-level distinct+inverse; the
            # np.unique it replaces sorted millions of Python strings
            # per batch (order is irrelevant — only the per-distinct-
            # token md5 mapping matters)
            enc = flat.dictionary_encode()
            inv = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniq = enc.dictionary.to_pylist()
            uh = np.empty(len(uniq), dtype=np.int64)
            nonblank = np.empty(len(uniq), dtype=bool)
            for i, t in enumerate(uniq):
                h = cache.get(t)
                if h is None:
                    h = cache[t] = int(
                        hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16
                    )
                uh[i] = h
                nonblank[i] = t != ""
            tok_keep = nonblank[inv]
            doc_of, inv = doc_of[tok_keep], inv[tok_keep]
            counts = np.bincount(doc_of, minlength=n)
            keep = counts > 0
            if not keep.any():
                continue
            # ±1 bit rows per DISTINCT token, gathered per occurrence
            ubits = (((uh[:, None] >> shifts) & 1) * 2 - 1).astype(np.int16)
            bits = ubits[inv]
            kept_counts = counts[keep]
            starts = np.zeros(len(kept_counts), dtype=np.int64)
            np.cumsum(kept_counts[:-1], out=starts[1:])
            sums = np.add.reduceat(bits.astype(np.int32), starts, axis=0)
            fp = ((sums > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id").filter(pa.array(keep)), pa.array(fp, type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return base.mapInArrow(run, schema)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Hamming-near SimHash pairs: (doc_a, doc_b, hamming) with
    hamming(simhash_a, simhash_b) <= max_hamming.

    Banding by the pigeonhole principle: split the 32-bit fingerprint
    into ``bands`` contiguous bit-bands — any pair within Hamming
    distance ``bands - 1`` agrees EXACTLY on at least one band, so the
    band-value bucket join finds every qualifying pair (lossless for
    ``max_hamming <= bands - 1``; the default 3 <= 4-1 qualifies).

    Physical shape (round 6): each band bucket carries its members'
    (doc_id, simhash) pairs through ONE groupBy, and pairs are
    enumerated + Hamming-verified INSIDE the bucket's unit tasks — the
    candidate pair table never touches an exchange, nothing is
    collected to the driver, and the fingerprint table is consumed by
    exactly one stage (the earlier shape collected + broadcast all
    fingerprints — two extra driver actions — and before that shuffled
    an O(pairs) candidate table through two joins). Buckets above
    ``max_block`` are excluded like the other LSH tiers (a degenerate
    all-same-band corpus would otherwise emit B^2 pairs); a verify call
    holds at most about ``FLUSH_PAIRS`` + ``UNIT_ROWS * max_block``
    enumerated pairs.
    """
    from pyspark.sql import types as T

    if max_hamming > bands - 1:
        raise ValueError("pigeonhole soundness needs max_hamming <= bands - 1")
    rpb = SIMHASH_BITS // bands
    fps = simhash(df, id_col, text_col)
    banded = fps.select("doc_id", "simhash", _bit_band_keys("simhash", bands, rpb))
    # sort by struct = sort by doc_id (unique within a bucket: band_key
    # values from different bands never collide), so doc_a < doc_b
    # falls out of position order
    buckets = (
        banded.groupBy("band_key")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("mem"),
            F.count(F.lit(1)).alias("bs"),
        )
        .localCheckpoint(eager=False)
    )
    # A Hamming-close pair agrees on SEVERAL bands (h<=1 agrees on 3 of
    # 4), so enumerating every agreeing bucket emitted each pair ~3-4x
    # and the trailing distinct shuffled all of it. First-surviving-band
    # rule instead: a bucket emits a pair only if no EARLIER band both
    # agrees and survived the cap — every pair surfaces exactly once
    # (from the first surviving agreeing band), which is set-identical
    # to distinct-over-all-surviving-buckets. The dropped band_keys
    # (rare by construction; <= rows/max_block of them can exist) are
    # collected from the same materialized groupBy and broadcast so cap
    # semantics are unchanged: a pair whose earlier agreeing bucket was
    # dropped is still emitted by its first SURVIVING band.
    dropped_keys = sorted(
        r["band_key"]
        for r in buckets.where(F.col("bs") > max_block).select("band_key").collect()
    )
    units = _bucket_units(
        buckets,
        ["band_key", F.col("mem.doc_id").alias("ids"), F.col("mem.simhash").alias("shs")],
        max_block,
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_a", fps.schema["doc_id"].dataType, False),
            T.StructField("doc_b", fps.schema["doc_id"].dataType, False),
            T.StructField("hamming", T.IntegerType(), False),
        ]
    )
    band_mask = (1 << rpb) - 1
    width = max(rpb, 1)  # band b's keys are b << width plus its bits

    def setup():
        import numpy as np
        import pandas as pd

        keys = np.asarray(dropped_keys, dtype=np.int64)
        cut = np.searchsorted(keys, np.arange(bands + 1, dtype=np.int64) << width)
        # each band's dropped bucket values, sorted
        dropped = [keys[cut[b] : cut[b + 1]] - (b << width) for b in range(bands)]

        def verify(da, db, fa, fb, bkeys) -> "pd.DataFrame":
            # first-surviving-band rule: drop the pair here if an
            # EARLIER band agrees and that band's bucket survived the
            # cap (the pair is emitted there instead)
            bb = bkeys >> width
            keep_first = np.ones(len(da), dtype=bool)
            for b2 in range(bands - 1):
                earlier = bb > b2
                if not earlier.any():
                    continue
                va = (fa >> (b2 * rpb)) & band_mask
                agree = earlier & (va == ((fb >> (b2 * rpb)) & band_mask))
                d = dropped[b2]
                if d.size:
                    agree &= d[np.minimum(np.searchsorted(d, va), d.size - 1)] != va
                keep_first &= ~agree
            da, db = da[keep_first], db[keep_first]
            x = (fa[keep_first] ^ fb[keep_first]).astype(np.uint64)[:, None]
            ham = _swar_popcount_rows(x).astype("int32")
            keep = ham <= max_hamming
            return pd.DataFrame(
                {"doc_a": da[keep], "doc_b": db[keep], "hamming": ham[keep]}
            )

        return verify, None

    # distinct retained for exact parity on degenerate inputs with
    # repeated doc_ids (several positions can form the same id pair) —
    # but the first-surviving-band rule already emits each position
    # pair once, so its input is ~bands-times smaller than before
    return _map_unit_pairs(
        units, out_schema, setup, ("ids", "shs"), ("band_key",)
    ).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard within a blocking key (e.g.
    source/host/length-band). Returns (doc_a, doc_b, inter_size,
    union_size) for jaccard >= min_jaccard.

    When ``min_jaccard > 0`` the lossless size-ratio prefilter applies
    (J(A,B) <= min|.|/max|.|): pairs whose shingle-set sizes differ by
    more than the threshold ratio are dropped before the verify — the
    tiny per-doc size table broadcasts.

    Two physical paths, picked by :func:`_fast_stats`: the Arrow fast
    path (pairs enumerated block-locally against broadcast masks — the
    O(block^2) pair table never crosses an exchange), or the
    distributed join path below — the unbounded-vocab / repeated-id
    fallback, with identical output for unique ids."""
    fast = _ngram_fast(df, id_col, text_col, block_col, k, min_jaccard)
    if fast is not None:
        return fast
    df = ensure_parallel(df)
    sh = shingles(df, id_col, text_col, k).localCheckpoint(eager=False)
    blocks = df.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("blk"))
    a = blocks.select(F.col("doc_id").alias("doc_a"), "blk")
    b = blocks.select(F.col("doc_id").alias("doc_b"), "blk")
    pairs = a.join(b, "blk").where(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    if min_jaccard > 0:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        sz_a = F.broadcast(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
        )
        sz_b = F.broadcast(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
        )
        pairs = (
            pairs.join(sz_a, "doc_a")
            .join(sz_b, "doc_b")
            .where(
                F.least("sz_a", "sz_b") >= F.lit(min_jaccard) * F.greatest("sz_a", "sz_b")
            )
            .select("doc_a", "doc_b")
        )
    return jaccard_verify(sh, pairs).where(
        F.col("inter_size") >= F.lit(min_jaccard) * F.col("union_size")
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = DEFAULT_COSINE_THRESHOLD,
) -> DataFrame:
    """Exact cosine near-dup pairs (doc_a, doc_b) with
    cosine >= threshold.

    Executed as a **broadcast matrix product**, not a pair join: the
    full (id, unit-vector) matrix is broadcast to every task (a 10^6 x
    64 float32 matrix is ~256 MB — broadcastable; beyond that, tile the
    right side), and each Arrow batch of left rows computes
    ``A_block @ B.T`` in one BLAS call, emitting only the above-
    threshold pairs. This avoids materializing/shuffling the O(N^2)
    pair table entirely — the crossJoin formulation moved ~12.5M
    128-float rows through a shuffle at a mere 5k vectors and is
    unusable at scale. The approximate (hyperplane-LSH) path for
    N > the caps lives in operators/similarity.py; this exact tier is
    the oracle-checkable baseline.

    Driver discipline (round 6 — the count-guard-then-collect shape
    the round-5 CollectLimit finding mandates): the cap is
    **dim-aware** — the row budget is ``min(EMB_MAX_BROADCAST_ROWS,
    EMB_MAX_BROADCAST_BYTES / (dim * 8))`` — and the base table is lazily
    localCheckpointed, then ONE full aggregation returns (n, dim)
    exactly; only when ``n <= cap`` does the Arrow ``toPandas()``
    fetch run, so the driver never buffers more than the guarded byte
    budget (the previous ``limit(cap + 1).toPandas()`` could buffer
    up to cap+1 rows PER PARTITION of a wave before truncating).

    Round-6 perf shape: the input is repartitioned if under-parallel
    (a single-file parquet corpus otherwise runs the whole matmul on
    1-2 cores), the scan side crosses the Python boundary via
    ``mapInArrow`` with a zero-copy flatten of the list column, and
    the checkpoint means probe + guard + scan share one
    materialization of the upstream lineage.
    """
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    base = (
        ensure_parallel(df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v")))
        .localCheckpoint(eager=False)
    )
    schema_empty = "doc_a long, doc_b long"
    head = base.agg(
        F.max(F.size("v")).alias("d"), F.count(F.lit(1)).alias("n")
    ).first()
    if head is None or head["d"] is None or head["d"] <= 0:
        if head is not None and int(head["n"]) > 0:
            # rows exist but none holds a valid vector — returning "no
            # duplicates" would silently pass bad input through
            raise ValueError(
                "embedding_near_duplicates: input rows contain no "
                f"non-empty vector column {vec_col!r} — input looks "
                "malformed (all-null or empty arrays), refusing to "
                "return an empty result"
            )
        return df.sparkSession.createDataFrame([], schema_empty)
    dim = int(head["d"])
    n = int(head["n"])
    cap = min(EMB_MAX_BROADCAST_ROWS, EMB_MAX_BROADCAST_BYTES // (dim * 8))
    if n > cap:
        raise ValueError(
            f"embedding_near_duplicates exact tier needs the vector set "
            f"to fit in a broadcast (cap {cap} rows at dim {dim}); use "
            f"similarity.embedding_near_dup_lsh above the cap"
        )
    # bounded by the count guard above; Arrow path (no row pickling)
    pdf_all = base.toPandas()
    ids = pdf_all["doc_id"].to_numpy(dtype="int64")
    mat = np.array(list(pdf_all["v"]), dtype="float64")
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = mat / norms
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        B_ids, B = b_ids.value, b_unit.value
        for batch in batches:
            a_ids = batch.column("doc_id").to_numpy(zero_copy_only=False).astype("int64")
            if len(a_ids) == 0:
                continue
            v = batch.column("v")
            flat = v.flatten()
            if len(flat) == len(a_ids) * B.shape[1] and v.null_count == 0:
                # contiguous equal-length rows: one zero-copy reshape
                A = (
                    flat.to_numpy(zero_copy_only=False)
                    .astype("float64", copy=False)
                    .reshape(len(a_ids), B.shape[1])
                )
            else:  # ragged/null rows: per-row fallback (same values)
                A = np.array([np.asarray(r, dtype="float64") for r in v.to_pylist()])
            an = np.linalg.norm(A, axis=1, keepdims=True)
            an[an == 0] = 1.0
            sims = (A / an) @ B.T
            ai, bi = np.nonzero(sims >= threshold)
            da, db = a_ids[ai], B_ids[bi]
            keep = da < db
            yield pa.RecordBatch.from_arrays(
                [pa.array(da[keep], type=pa.int64()), pa.array(db[keep], type=pa.int64())],
                names=["doc_a", "doc_b"],
            )

    return base.mapInArrow(run, schema_empty)
