"""Similarity search over embedding columns (``array<float>``).

Two paths:
- **brute-force top-k** (the exact baseline): native cosine expression
  + ``orderBy().limit(k)`` -> TakeOrderedAndProject. Exact, one scan,
  no index; right up to ~10^8 vectors per query batch on a cluster.
- **hyperplane-LSH bucketed** (the scale path): one ``lsh_top_k``.
  Each of ``n_tables`` independent tables puts every vector in a
  sign-random-projection bucket (deterministic hyperplanes from the
  FNV token hash); a query scans the vectors that share, in any table,
  its bucket or one within ``multi_probe`` bit-flips. Recall < 1 by
  construction; the exact path is the correctness oracle.

Both are pure DataFrame ops. Batched many-query search is a
broadcast join of the (small) query set against the vector table —
the big table never shuffles.

Near-duplicate pairs at scale (``embedding_near_dup_lsh``) band the
same bucket bits with dedup's ``_bit_band_keys`` and pair vectors
through dedup's ``_banded_pairs``; this module has no band self-join
or bucket cap of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.dedup import _banded_pairs, _bit_band_keys
from legal_knowledge_graph_spark.operators.query import cosine
from legal_knowledge_graph_spark.operators.summarize import hash_token


def brute_force_top_k(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vector: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against one query vector. Returns
    (id, score, rank); ties broken by id for determinism."""
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    scored = vectors.select(
        F.col(id_col).alias("id"), cosine(F.col(vec_col), qv).alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.col("id"))
    return (
        scored.orderBy(F.desc("score"), "id")
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def batch_top_k(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k for MANY queries: broadcast the query set, score
    every (query, vector) pair, per-query window top-k. The vector
    table is scanned once and never shuffled (the window partitions by
    query id over the scored projection)."""
    q = F.broadcast(
        queries.select(F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("qv"))
    )
    scored = vectors.crossJoin(q).select(
        "qid",
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col), F.col("qv")).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplane(dim: int, plane: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random unit-agnostic hyperplane from the
    portable FNV token hash (same one the embedder uses). ``table``
    selects an independent hyperplane family for multi-table LSH;
    table 0 keeps the original single-table planes bit-for-bit."""
    key = f"hp:{plane}:{{}}" if table == 0 else f"hp:t{table}:{plane}:{{}}"
    return [
        1.0 if (hash_token(key.format(j)) >> 8) % 2 == 0 else -1.0
        for j in range(dim)
    ]


def _bucket_col_name(table: int) -> str:
    return "lsh_bucket" if table == 0 else f"lsh_bucket_{table}"


def lsh_bucket_tables(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    tables: tuple[int, ...] = (0,),
) -> DataFrame:
    """Add one sign-random-projection bucket column per table
    (``lsh_bucket`` for table 0, ``lsh_bucket_{t}`` otherwise): bit p
    of table t's bucket = sign(v . hyperplane_{t,p}).

    All tables' buckets come from ONE Arrow-batched vectorized pass —
    a single (n, dim) x (dim, T*P) matmul per batch. The previous
    per-plane Catalyst ``aggregate``-fold expressions were
    whole-stage-codegen'd, but compiling T*P = 64 nested lambda folds
    cost ~4 s of constant plan/codegen time per query at the 8-table
    default — fine amortized over 10^9 rows, dominant at bench SF.
    The matmul path is both cheaper per row and free of that constant.
    Null rows and rows whose length != ``dim`` land in bucket 0 of
    every table — the same result the Catalyst fold gave them (null
    dots on every plane).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    if n_planes == 0 or not tables:
        # zero-plane degenerate (the exactness reduction): every row
        # lands in bucket 0 of every table — constant columns, no UDF
        out = vectors
        for t in tables:
            out = out.withColumn(_bucket_col_name(t), F.lit(0))
        return out

    M = np.stack(
        [
            np.asarray(_hyperplane(dim, p, t), dtype="float64")
            for t in tables
            for p in range(n_planes)
        ]
    )  # (T*P, dim)
    pows = 2 ** np.arange(n_planes)
    n_tables = len(tables)

    # no type hints: pandas is imported locally, so annotations would
    # be unresolvable strings to PySpark's hint inference — the
    # explicit returnType makes this a scalar pandas UDF
    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _buckets(v):
        X = np.zeros((len(v), dim), dtype="float64")
        valid = np.zeros(len(v), dtype=bool)
        for i, row in enumerate(v):
            # parity with the Catalyst fold this replaced: a null row
            # or one whose length != dim produced a null dot on every
            # plane there (zip_with pads with nulls), i.e. bucket 0 —
            # NOT the all-ones bucket a zero-padded matmul would give
            if row is None or len(row) != dim:
                continue
            X[i] = np.asarray(row, dtype="float64")
            valid[i] = True
        signs = (X @ M.T) >= 0  # (n, T*P)
        b = (signs.reshape(len(v), n_tables, n_planes) * pows).sum(axis=2)
        b[~valid] = 0
        return pd.Series(list(b.astype("int32")))

    out = vectors.withColumn("_lshb", _buckets(F.col(vec_col)))
    for i, t in enumerate(tables):
        # the UDF always emits n_tables ints, but element_at on a
        # UDF-produced array is nullable IntegerType; coalesce restores
        # the non-null schema the old Catalyst fold gave consumers
        # doing null-sensitive grouping/partitionBy on bucket columns
        out = out.withColumn(
            _bucket_col_name(t), F.coalesce(F.col("_lshb")[i], F.lit(0))
        )
    return out.drop("_lshb")


def _probe_set(
    query_vector: list[float],
    dim: int,
    n_planes: int,
    multi_probe: int,
    table: int = 0,
) -> set[int]:
    """The query's bucket plus every bucket within ``multi_probe``
    bit-flips, under ``table``'s hyperplane family."""
    import itertools

    import numpy as np

    qv = np.asarray(query_vector, dtype="float64")
    qbucket = 0
    for p in range(n_planes):
        if float(np.dot(qv, np.asarray(_hyperplane(dim, p, table)))) >= 0:
            qbucket += 2**p
    probes = {qbucket}
    for r in range(1, multi_probe + 1):
        for flips in itertools.combinations(range(n_planes), r):
            b = qbucket
            for p in flips:
                b ^= 1 << p
            probes.add(b)
    return probes


def lsh_top_k(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vector: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    multi_probe: int = 2,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k by hyperplane LSH over ``n_tables``
    INDEPENDENT hyperplane families (table 0 keeps the original
    planes). Each table is probed at the query's bucket plus every
    bucket within Hamming distance ``multi_probe`` of it (a vector
    whose sign differs on one near-zero projection lands one bit-flip
    away), and a vector is scanned if ANY table places it in its probe
    set. One table at distance r scans sum_{i<=r} C(n_planes, i) of the
    2^n_planes buckets (37/256 at 8 planes, r=2); more tables lift the
    recall ceiling of one family (a neighbor 3+ flips away under one
    family is likely within 1 flip under another) at L x the index
    storage. Recall < 1 by construction: callers pick and note their
    operating point. ``n_planes=0``, or ``multi_probe=n_planes``,
    probes every bucket and equals brute force.

    Physical shape: ONE scan with an OR-of-IN predicate; all tables'
    buckets come from a single Arrow-batched matmul pass
    (:func:`lsh_bucket_tables`). At cluster scale each table is its
    own ``partitionBy(lsh_bucket_t)`` layout, so the probe sets prune
    the scan.
    """
    bucketed = lsh_bucket_tables(
        vectors, vec_col, dim, n_planes, tuple(range(n_tables))
    )
    conds = None
    for t in range(n_tables):
        probes = _probe_set(query_vector, dim, n_planes, multi_probe, table=t)
        cond = F.col(_bucket_col_name(t)).isin(sorted(probes))
        conds = cond if conds is None else (conds | cond)
    return brute_force_top_k(
        bucketed.where(conds), id_col, vec_col, query_vector, k
    )


def embedding_near_dup_lsh(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.8,
    n_planes: int = 16,
    bands: int = 4,
    max_block: int = 2000,
) -> DataFrame:
    """Approximate embedding near-dup pairs at ANY scale: band the
    sign-random-projection bits with the SimHash tier's bit-band keys
    (cosine-close vectors agree on most sign bits, so they collide in
    >= 1 band with high probability), pair docs within capped band
    buckets through dedup's ``_banded_pairs``, then verify candidates
    with the exact native cosine. Returns (doc_a, doc_b, score) with
    score >= threshold.

    This is the scale path the exact broadcast tier
    (dedup.embedding_near_duplicates) points to above its byte cap: no
    broadcast of the vector set, no O(N^2) anything — the only
    pairwise work is inside capped LSH buckets. Recall < 1 by
    construction (pinned in BASELINE.md); ``n_planes=0`` degenerates
    to the exact all-pairs tier (the oracle-gated reduction).
    """
    rpb = n_planes // bands if bands else 0
    b = lsh_bucket_tables(vectors, vec_col, dim, n_planes).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"), "lsh_bucket"
    )
    cand = _banded_pairs(
        b.select("doc_id", _bit_band_keys("lsh_bucket", bands, rpb)), max_block
    )
    va = b.select(F.col("doc_id").alias("doc_a"), F.col("v").alias("va"))
    vb = b.select(F.col("doc_id").alias("doc_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("score", cosine(F.col("va"), F.col("vb")))
        .where(F.col("score") >= threshold)
        .select("doc_a", "doc_b", "score")
    )


# ------------------------------------------------------------------ IVF


#: IVF training: Lloyd's iterations, and the driver sample's row and
#: byte caps
IVF_ITERATIONS = 4
IVF_SAMPLE_LIMIT = 100_000
IVF_MAX_SAMPLE_BYTES = 1 << 28


def train_ivf_centroids(
    vectors: DataFrame, vec_col: str, k: int = 64
) -> list[list[float]]:
    """Deterministic mini-Lloyd's on a hash-ordered sample.

    Init = first k vectors in md5-hash order (deterministic, unbiased);
    each iteration assigns the sample to its nearest centroid by cosine
    and recomputes means — all in numpy on the driver over a bounded
    sample (the standard IVF recipe: training is sampled, ASSIGNMENT is
    distributed). Returns unit-norm centroids.

    The sample cap is **dim-aware**: the row budget is
    ``min(IVF_SAMPLE_LIMIT, IVF_MAX_SAMPLE_BYTES / (dim * 8))`` so a
    3072-dim corpus trains on ~10k vectors under the 256 MB default
    instead of pulling 2.4 GB through the driver — Lloyd's needs ~100x
    k points, not 100k unconditionally.

    Round 6 (the count-guard discipline's sibling): the sample fetch is
    byte-bounded BEFORE anything reaches the driver.
    ``orderBy().limit(cap)`` plans as TakeOrderedAndProject, which
    ships each partition's top-cap to the DRIVER and merges there —
    fine when ``n_partitions * cap * dim * 8`` fits the sample byte
    budget (the common case, and the fastest plan), but ~240 MB x
    merge width at a 10k-row 3072-dim cap on a wide scan. Above the
    budget the fetch switches to a two-stage executor-side top-cap
    (per-task smallest-``cap`` keys, then one single-partition merge)
    so the driver receives exactly <= cap rows via Arrow. Selected keys
    are identical either way; equal keys are identical vector strings,
    so Lloyd's sees the same matrix.
    """
    import numpy as np
    import pandas as pd

    # max over a BOUNDED prefix, not the first row (a null/short first
    # vector would silently undersize the dim-aware cap) and not the
    # full column (no O(N) scan before the capped sample — same
    # discipline as dedup.embedding_near_duplicates)
    head = (
        vectors.limit(65536)
        .agg(F.max(F.size(F.col(vec_col))).alias("d"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    if head is None or head["d"] is None or head["d"] <= 0:
        if head is not None and int(head["n"]) > 0:
            # non-empty table whose probed prefix has no valid vector:
            # training silently returning [] would disable IVF for the
            # whole corpus — surface the malformed input instead
            raise ValueError(
                f"train_ivf_centroids: first {int(head['n'])} rows have "
                f"no non-empty vector column {vec_col!r} — refusing to "
                "train on malformed input"
            )
        return []
    dim = int(head["d"])
    cap = max(min(IVF_SAMPLE_LIMIT, IVF_MAX_SAMPLE_BYTES // (dim * 8)), k)
    keyed = vectors.select(F.md5(F.col(vec_col).cast("string")).alias("_k"), vec_col)
    n_parts = max(keyed.rdd.getNumPartitions(), 1)
    if n_parts * cap * dim * 8 <= IVF_MAX_SAMPLE_BYTES:
        rows = keyed.orderBy("_k").limit(cap).collect()
        X = np.array([r[vec_col] for r in rows], dtype="float64")
    else:

        def local_top(batches):
            best = None
            for pdf in batches:
                cand = (
                    pdf if best is None else pd.concat([best, pdf], ignore_index=True)
                )
                best = cand.sort_values("_k", kind="mergesort").head(cap)
            if best is not None and len(best):
                yield best

        merged = (
            keyed.mapInPandas(local_top, keyed.schema)
            .repartition(1)
            .mapInPandas(local_top, keyed.schema)
        )
        pdf = merged.toPandas().sort_values("_k", kind="mergesort").head(cap)
        X = np.array(pdf[vec_col].tolist(), dtype="float64")
    if len(X) == 0:
        return []
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    k = min(k, len(X))
    C = X[:k].copy()
    for _ in range(IVF_ITERATIONS):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return [[float(x) for x in c] for c in C]


def ivf_assign(vectors: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add an ``ivf_cell`` int column = argmax-cosine centroid. The
    centroid matrix broadcasts; assignment is one numpy matmul per
    Arrow batch. At scale the table is written
    ``partitionBy(ivf_cell)`` so probes prune to n_probe/k of the data.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.array(centroids, dtype="float64")
    spark = vectors.sparkSession
    bC = spark.sparkContext.broadcast(C)
    schema = T.StructType(vectors.schema.fields + [T.StructField("ivf_cell", T.IntegerType(), False)])
    cols = vectors.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CM = bC.value
        for pdf in batches:
            if len(pdf) == 0:
                pdf["ivf_cell"] = pd.Series([], dtype="int32")
                yield pdf
                continue
            X = np.array(list(pdf[vec_col]), dtype="float64")
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0] = 1.0
            cells = np.argmax((X / n) @ CM.T, axis=1).astype("int32")
            out = pdf[cols].copy()
            out["ivf_cell"] = cells
            yield out

    return vectors.mapInPandas(run, schema)


def ivf_top_k(
    indexed: DataFrame,
    id_col: str,
    vec_col: str,
    query_vector: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 16,
) -> DataFrame:
    """Approximate top-k: score the query against the centroids, scan
    only the ``n_probe`` nearest cells, exact top-k within. Recall
    rises with n_probe (n_probe == len(centroids) is exact). The
    default ``n_probe=16`` is the retrieval-backbone operating point
    at the 64-cell training default: measured mean recall@10 **0.72 at
    ~25% scan** (vs 0.51 at probe 8, 0.38 at probe 4) on the
    worst-case near-uniform sf0.1 bench vectors — BASELINE.md round-5
    ANN table. Real clustered embeddings concentrate probability in
    few cells, so these are floors."""
    import numpy as np

    C = np.array(centroids, dtype="float64")
    q = np.array(query_vector, dtype="float64")
    qn = np.linalg.norm(q) or 1.0
    order = np.argsort(-(C @ (q / qn)))
    probe_cells = [int(c) for c in order[:n_probe]]
    return brute_force_top_k(
        indexed.where(F.col("ivf_cell").isin(probe_cells)), id_col, vec_col, query_vector, k
    )
