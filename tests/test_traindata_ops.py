"""Training-data ops: dedup tiers, similarity search, text stats,
multimodal plumbing — with DuckDB cross-checks where SQL-expressible
(pre-validating the __spark_entry__ oracle pairs)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
)
from legal_knowledge_graph_spark.operators.multimodal import (
    decode_features,
    deterministic_fake_features,
    frame_sample,
    sniff_media_meta,
)
from legal_knowledge_graph_spark.operators.similarity import (
    batch_top_k,
    brute_force_top_k,
    lsh_top_k,
)
from legal_knowledge_graph_spark.operators.textstats import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(
        f"create view embeddings as select * from read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Same Text"), (2, "same text "), (3, "other"), (4, "SAME TEXT")],
        "doc_id long, text string",
    )
    groups = exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2, 4]


def test_minhash_near_dup_finds_planted_pair(spark, docs):
    # plant a near-duplicate of doc 0 (one token changed)
    base = docs.where("doc_id = 0").first()["text"]
    mutated = base.replace(base.split()[0], "zzz", 1)
    extra = docs.sparkSession.createDataFrame(
        [(100000, mutated)], "doc_id long, text string"
    )
    d = docs.select("doc_id", "text").where("doc_id < 50").unionByName(extra)
    pairs = minhash_near_duplicates(d, "doc_id", "text", threshold=0.7).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 100000) in found
    # verified jaccard really is above threshold
    for r in pairs:
        assert r["inter_size"] >= 0.7 * r["union_size"]


def test_embedding_near_dup_cap_is_dim_aware(spark, embs, monkeypatch):
    """The broadcast cap scales with rows x dim: a byte budget one row
    short raises; the exact budget passes."""
    from legal_knowledge_graph_spark.operators import dedup

    sub = embs.withColumn("vid", F.col("vec_id").cast("long")).where("vid < 50")
    n = sub.count()
    dim = len(sub.first()["embedding"])
    monkeypatch.setattr(dedup, "EMB_MAX_BROADCAST_BYTES", (n - 1) * dim * 8)
    with pytest.raises(ValueError):
        embedding_near_duplicates(sub, "vid", "embedding")
    monkeypatch.setattr(dedup, "EMB_MAX_BROADCAST_BYTES", n * dim * 8)
    ok = embedding_near_duplicates(sub, "vid", "embedding", threshold=0.999999)
    assert ok.count() >= 0


def test_lsh_drop_metrics_counted(spark):
    """Band buckets above max_block are excluded AND countable: with 10
    identical docs every band bucket has 10 members, so max_block=5
    drops everything and the metrics report it."""
    from legal_knowledge_graph_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    d = spark.createDataFrame(
        [(i, "aaaa bbbb cccc dddd eeee") for i in range(10)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(shingles(d, "doc_id", "text"))
    m: dict = {}
    pairs = lsh_candidate_pairs(sigs, max_block=5, metrics=m)
    assert pairs.count() == 0
    assert m["dropped_buckets"] >= 1
    assert m["dropped_rows"] >= 10


def test_lsh_drop_metrics_fast_path_equals_fallback(spark, monkeypatch):
    """minhash_near_duplicates(metrics=) counts the same dropped band
    buckets on the bounded fast path as on the distributed fallback:
    10 identical docs put all 10 in one bucket per band, so max_block=5
    drops every bucket of the 4 bands."""
    from legal_knowledge_graph_spark.operators import dedup

    d = spark.createDataFrame(
        [(i, "aaaa bbbb cccc dddd eeee") for i in range(10)],
        "doc_id long, text string",
    )
    real_fast = dedup._minhash_fast
    took_fast = []

    def spy(*a, **kw):
        out = real_fast(*a, **kw)
        took_fast.append(out is not None)
        return out

    monkeypatch.setattr(dedup, "_minhash_fast", spy)
    fast_m: dict = {}
    assert dedup.minhash_near_duplicates(
        d, "doc_id", "text", max_block=5, metrics=fast_m
    ).count() == 0
    assert took_fast == [True]
    monkeypatch.setattr(dedup, "_minhash_fast", lambda *a, **kw: None)
    dist_m: dict = {}
    assert dedup.minhash_near_duplicates(
        d, "doc_id", "text", max_block=5, metrics=dist_m
    ).count() == 0
    assert fast_m == dist_m == {"dropped_buckets": 4, "dropped_rows": 40}


def test_jaccard_tiers_on_empty_input(spark):
    """Both Jaccard tiers return zero rows, with the pair schema, on a
    zero-row input."""
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    outs = [
        minhash_near_duplicates(empty.select("doc_id", "text"), "doc_id", "text"),
        ngram_jaccard_pairs(empty, "doc_id", "text", "source", min_jaccard=0.5),
    ]
    for out in outs:
        assert out.columns == ["doc_a", "doc_b", "inter_size", "union_size"]
        assert out.count() == 0


def test_jaccard_tiers_with_repeated_ids_match_oracles(spark, docs):
    """Ten doc ids re-used by a second row with mutated text: both
    Jaccard tiers must equal their DuckDB oracles run on the same rows
    (a repeated id's gram rows add up, as in shingles()), and no pair
    may be emitted twice."""
    from legal_knowledge_graph_spark.entry_queries import (
        SQL_NGRAM_JACCARD,
        _sql_minhash,
    )

    d = docs.select("doc_id", "text", "source")
    reused = d.where("doc_id < 10").select(
        "doc_id", F.regexp_replace("text", r"^\S+", "zzz").alias("text"), "source"
    )
    corpus = d.unionByName(reused)
    con = duckdb.connect()
    con.register("documents", corpus.toPandas())

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(
        minhash_near_duplicates(
            corpus.select("doc_id", "text"), "doc_id", "text", threshold=0.7
        )
    )
    assert got == sorted(con.execute(_sql_minhash(threshold=0.7)).fetchall())
    assert len(got) > 0

    got = rows(
        ngram_jaccard_pairs(corpus, "doc_id", "text", "source", min_jaccard=0.0).where(
            F.col("inter_size") >= 0.5 * F.col("union_size")
        )
    )
    assert got == sorted(con.execute(SQL_NGRAM_JACCARD).fetchall())
    assert len(got) > 0

    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", "source", min_jaccard=0.5)
    assert pairs.groupBy("doc_a", "doc_b").count().where("count > 1").count() == 0


def test_emb_lsh_near_dup_scale_path(spark, embs):
    """The SRP-banded near-dup scale path: zero false positives (exact
    cosine verify), the n_planes=0 reduction equals the exact
    broadcast tier, and the bucket cap applies."""
    from legal_knowledge_graph_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    sub = embs.withColumn("vid", F.col("vec_id").cast("long")).where("vid < 300")
    dim = len(sub.first()["embedding"])
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_duplicates(sub, "vid", "embedding", threshold=0.35).collect()
    }
    appr = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup_lsh(sub, "vid", "embedding", dim, threshold=0.35).collect()
    }
    assert appr <= exact  # precision 1.0 by construction
    red = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_dup_lsh(
            sub, "vid", "embedding", dim, threshold=0.35, n_planes=0
        ).collect()
    }
    assert red == exact
    # band buckets here hold 2-47 members; a cap of 5 drops every
    # bucket that held a pair above the threshold
    capped = embedding_near_dup_lsh(
        sub, "vid", "embedding", dim, threshold=0.35, max_block=5
    )
    assert capped.count() == 0


def test_ivf_training_sample_cap_is_dim_aware(spark, embs, monkeypatch):
    """IVF centroid training bounds its driver sample by bytes
    (rows x dim x 8), never below k, and handles empty input."""
    from legal_knowledge_graph_spark.operators import similarity
    from legal_knowledge_graph_spark.operators.similarity import train_ivf_centroids

    dim = len(embs.first()["embedding"])
    monkeypatch.setattr(similarity, "IVF_MAX_SAMPLE_BYTES", 20 * dim * 8)
    c = train_ivf_centroids(embs, "embedding", k=8)
    assert len(c) == 8
    monkeypatch.setattr(similarity, "IVF_MAX_SAMPLE_BYTES", 1)
    c2 = train_ivf_centroids(embs, "embedding", k=8)
    assert len(c2) == 8  # floor at k
    assert train_ivf_centroids(embs.where("false"), "embedding", k=8) == []


def test_simhash_duckdb_parity(spark, docs, duck):
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs.where("doc_id < 40"), "doc_id", "text").collect()
    }
    oracle = dict(
        duck.execute(
            """
            with toks as (
              select doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) as tok
              from documents where doc_id < 40 and length(trim(text)) > 0
            ), bits as (
              select doc_id, ('0x' || substr(md5(tok), 1, 8))::bigint as h from toks
              where length(tok) > 0
            ), sums as (
              select doc_id, i,
                     sum(case when (h >> i) & 1 = 1 then 1 else -1 end) as s
              from bits, generate_series(0, 31) as t(i)
              group by doc_id, i
            )
            select doc_id, sum(case when s > 0 then 1::bigint << i else 0 end)::bigint as simhash
            from sums group by doc_id
            """
        ).fetchall()
    )
    assert got == oracle


def test_simhash_near_dup_pigeonhole_lossless(spark, docs):
    """Banded SimHash pair search must find EXACTLY the brute-force
    Hamming<=3 pairs (pigeonhole: 4 bands cover distance 3), and
    reject unsound band/distance combinations."""
    import itertools

    from legal_knowledge_graph_spark.operators.dedup import (
        simhash as simhash_fn,
        simhash_near_duplicates,
    )

    d = docs.select("doc_id", "text").where("doc_id < 60")
    mut = d.where("doc_id < 10").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    corpus = d.unionByName(mut)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_duplicates(
            corpus, "doc_id", "text", max_hamming=3
        ).collect()
    }
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fn(corpus, "doc_id", "text").collect()}
    want = {}
    for a, b in itertools.combinations(sorted(fps), 2):
        h = bin(fps[a] ^ fps[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want and want  # lossless AND non-trivial (planted pairs)
    with pytest.raises(ValueError):
        simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=4, bands=4)


def test_ngram_jaccard_blocked(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs.where("doc_id < 60"), "doc_id", "text", "source", min_jaccard=0.2
    )
    rows = pairs.collect()
    assert rows  # word-salad docs share 3-gram mass within a source
    for r in rows:
        assert r["inter_size"] >= 0.2 * r["union_size"]
        assert r["doc_a"] < r["doc_b"]


def test_embedding_near_dup_and_lsh_vs_exact(spark, embs):
    dim = len(embs.first()["embedding"])
    sub = embs.withColumn("vid", F.col("vec_id").cast("long")).where("vid < 200")
    exact_pairs = embedding_near_duplicates(sub, "vid", "embedding", threshold=0.9)
    assert exact_pairs.count() >= 0  # shape check; threshold may be strict

    q = [float(x) for x in embs.first()["embedding"]]
    exact = brute_force_top_k(sub, "vid", "embedding", q, k=5).collect()
    assert exact[0]["id"] == 0 and exact[0]["score"] == pytest.approx(1.0, abs=1e-6)
    approx = lsh_top_k(
        sub, "vid", "embedding", q, dim=dim, k=5, multi_probe=2, n_tables=1
    ).collect()
    # the query's own vector is always in its own bucket -> rank 1
    assert approx[0]["id"] == 0


def test_brute_force_topk_duckdb_parity(spark, embs, duck):
    q = [float(x) for x in embs.where("vec_id = '7'").first()["embedding"]]
    got = [
        (r["id"], r["rank"])
        for r in brute_force_top_k(
            embs.withColumn("vid", F.col("vec_id").cast("long")), "vid", "embedding", q, k=10
        ).collect()
    ]
    qlit = "[" + ",".join(repr(x) for x in q) + "]::double[]"
    oracle = duck.execute(
        f"""
        select vec_id::bigint as id,
               row_number() over (order by list_cosine_similarity(embedding::double[], {qlit}) desc,
                                  vec_id::bigint) as rank
        from embeddings
        order by rank limit 10
        """
    ).fetchall()
    assert got == [(r[0], r[1]) for r in oracle]


def test_batch_topk_consistent_with_single(spark, embs):
    sub = embs.withColumn("vid", F.col("vec_id").cast("long")).where("vid < 100")
    queries = sub.where("vid < 3").select(
        F.col("vid").alias("qid"), F.col("embedding").alias("qv")
    )
    res = batch_top_k(sub, queries, "vid", "embedding", "qid", "qv", k=3).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"]))
    for qid in (0, 1, 2):
        ranked = sorted(by_q[qid])
        assert ranked[0][1] == qid  # self is rank 1


def test_token_stats_and_quality(spark, docs, duck):
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"])
        for r in token_stats(docs.where("doc_id < 30"), "doc_id", "text").collect()
    }
    oracle = dict(
        duck.execute(
            """
            select doc_id, (len(regexp_split_to_array(lower(trim(text)), '\\s+')),
                            length(text))
            from documents where doc_id < 30
            """
        ).fetchall()
    )
    assert {k: tuple(v) for k, v in oracle.items()} == got

    q = quality_score(docs.where("doc_id < 30"), "doc_id", "text").collect()
    for r in q:
        assert 0 <= r["q_score_x1000"] <= 1000


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),
            (2, "el perro y la casa para los gatos una vez"),
            (3, "der hund und die katze nicht mit haus"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_fingerprint_folds_formatting(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2] != fps[3]


def test_multimodal_plumbing(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + bytes(range(200))),
        (2, b"\xff\xd8\xff\xe0" + b"jpegdata" * 100),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    meta = {r["media_id"]: r["media_meta"] for r in sniff_media_meta(df, "blob").collect()}
    assert meta[1]["format"] == "png"
    assert meta[2]["format"] == "jpeg"
    assert meta[1]["n_bytes"] == 208

    feats = {
        r["media_id"]: r["features"]
        for r in decode_features(
            df, "media_id", "blob", dim=16, decode_fn=deterministic_fake_features
        ).collect()
    }
    assert len(feats[1]) == 16
    assert abs(sum(feats[1]) - 1.0) < 1e-5
    assert sum(feats[3]) == 0.0  # null blob -> zero vector, no crash

    frames = frame_sample(df, "media_id", "blob", stride=64, frame_bytes=32).collect()
    assert any(r["media_id"] == 2 and r["frame_idx"] > 0 for r in frames)
    assert all(len(r["frame"]) <= 32 for r in frames)

    with pytest.raises(Exception) as ei:
        decode_features(df, "media_id", "blob").collect()
    assert "NotImplementedError" in str(ei.value) or "codecs" in str(ei.value)


def test_fake_features_deterministic():
    import pandas as pd

    blobs = pd.Series([b"abc" * 50, b"xyz"])
    a = deterministic_fake_features(blobs)
    b = deterministic_fake_features(blobs)
    assert np.array_equal(a, b)


def test_ivf_ann_recall_beats_hyperplane_lsh(spark, embs):
    """IVF with n_probe=4/16 must recover most of the exact top-10 —
    and concretely beat the hyperplane-LSH path on this embedding
    distribution (where LSH recall is poor, ~0.2)."""
    from legal_knowledge_graph_spark.operators.similarity import (
        brute_force_top_k,
        ivf_assign,
        ivf_top_k,
        lsh_top_k,
        train_ivf_centroids,
    )

    sub = embs.withColumn("vid", F.col("vec_id").cast("long"))
    dim = len(sub.first()["embedding"])
    q = [float(x) for x in sub.where("vid = 11").first()["embedding"]]

    exact = {r["id"] for r in brute_force_top_k(sub, "vid", "embedding", q, k=10).collect()}
    cents = train_ivf_centroids(sub, "embedding", k=16)
    indexed = ivf_assign(sub, "embedding", cents).localCheckpoint()
    approx = {
        r["id"]
        for r in ivf_top_k(indexed, "vid", "embedding", q, cents, k=10, n_probe=4).collect()
    }
    recall_ivf = len(exact & approx) / 10
    lsh = {
        r["id"]
        for r in lsh_top_k(
            sub, "vid", "embedding", q, dim=dim, k=10, multi_probe=2, n_tables=1
        ).collect()
    }
    recall_lsh = len(exact & lsh) / 10
    assert recall_ivf >= 0.5, f"ivf recall {recall_ivf}"
    assert recall_ivf > recall_lsh, (recall_ivf, recall_lsh)
    # full probe == exact
    full = {
        r["id"]
        for r in ivf_top_k(indexed, "vid", "embedding", q, cents, k=10, n_probe=16).collect()
    }
    assert full == exact
    # determinism of training
    assert cents == train_ivf_centroids(sub, "embedding", k=16)


def test_bmp_ppm_codecs_roundtrip():
    """Real-codec slot: encode->decode is identity for 24-bit BMP
    (incl. 4-byte row padding and top-down row order) and binary P6
    PPM (incl. header comments); unsupported variants raise."""
    import struct

    from legal_knowledge_graph_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.RandomState(3)
    for w, h in [(5, 3), (8, 4), (1, 1), (7, 2)]:  # 5,7 force row padding
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
        assert np.array_equal(decode_ppm(encode_ppm(px)), px)
        assert np.array_equal(decode_image(encode_bmp(px)), px)
        assert np.array_equal(decode_image(encode_ppm(px)), px)

    # top-down BMP: negative height, rows stored first-row-first
    px = rng.randint(0, 256, size=(3, 5, 3)).astype(np.uint8)
    blob = bytearray(encode_bmp(px[::-1]))  # encoder wrote bottom-up of flipped
    struct.pack_into("<i", blob, 22, -3)  # declare top-down
    assert np.array_equal(decode_bmp(bytes(blob)), px[::-1][::-1])  # = px read top-down
    # comments in the PPM header
    raw = encode_ppm(px)
    commented = b"P6\n# a comment\n5 3\n# another\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(commented), decode_ppm(raw))

    with pytest.raises(ValueError):
        decode_bmp(b"NOTBMP" + b"\x00" * 60)
    bad_bpp = bytearray(encode_bmp(px))
    struct.pack_into("<H", bad_bpp, 28, 8)  # 8bpp paletted: unsupported
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad_bpp))
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ASCII PPM: unsupported
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n" + b"\x00" * 32)  # no real png codec


def test_image_pixel_stats_spark(spark):
    """image_pixel_stats decodes real containers inside Arrow batches
    and reports integer stats matching numpy truth."""
    from legal_knowledge_graph_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        image_pixel_stats,
    )

    rng = np.random.RandomState(9)
    rows, truth = [], {}
    for i in range(20):
        px = rng.randint(0, 256, size=(2 + i % 3, 3 + i % 4, 3)).astype(np.uint8)
        blob = encode_bmp(px) if i % 2 == 0 else encode_ppm(px)
        rows.append((i, bytearray(blob)))
        s = px.reshape(-1, 3).sum(axis=0)
        truth[i] = (px.shape[1], px.shape[0], int(s[0]), int(s[1]), int(s[2]))
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {
        r["media_id"]: (r["width"], r["height"], r["sum_r"], r["sum_g"], r["sum_b"])
        for r in image_pixel_stats(df, "media_id", "blob").collect()
    }
    assert got == truth


def test_multi_table_lsh_recall_and_exact_reduction(spark, embs):
    """Multi-table LSH: (a) exhaustive probes == brute force (the gate
    reduction), (b) recall at the default operating point beats
    single-table multi-probe at a comparable scan fraction (the point
    of L independent tables), with both pinned for BASELINE.md."""
    from legal_knowledge_graph_spark.operators.similarity import (
        brute_force_top_k,
        lsh_bucket_tables,
        lsh_top_k,
        _probe_set,
    )

    sub = embs.withColumn("vid", F.col("vec_id").cast("long"))
    dim = len(sub.first()["embedding"])
    q = [float(x) for x in sub.where("vid = 19").first()["embedding"]]

    # (a) exhaustive reduction
    exact = [
        (r["id"], r["rank"])
        for r in brute_force_top_k(sub, "vid", "embedding", q, k=10).collect()
    ]
    full = [
        (r["id"], r["rank"])
        for r in lsh_top_k(
            sub, "vid", "embedding", q, dim, k=10, n_planes=4, multi_probe=4, n_tables=2
        ).collect()
    ]
    assert full == exact

    # (b) recall: mean over a handful of held-out queries
    qids = [3, 11, 19, 77, 101]
    rec_multi, rec_single, scanned = [], [], []
    n_total = sub.count()
    for qid in qids:
        qv = [float(x) for x in sub.where(f"vid = {qid}").first()["embedding"]]
        truth = {r["id"] for r in brute_force_top_k(sub, "vid", "embedding", qv, k=10).collect()}
        multi = {
            r["id"]
            for r in lsh_top_k(
                sub, "vid", "embedding", qv, dim, k=10, multi_probe=1, n_tables=8
            ).collect()
        }
        single = {
            r["id"]
            for r in lsh_top_k(
                sub, "vid", "embedding", qv, dim, k=10, multi_probe=2, n_tables=1
            ).collect()
        }
        rec_multi.append(len(truth & multi) / 10)
        rec_single.append(len(truth & single) / 10)
        # scan fraction of the default multi-table operating point
        # (8 tables x probe-1, as in the multi-table call above)
        b = sub
        cond = None
        for t in range(8):
            b = lsh_bucket_tables(b, "embedding", dim, 8, (t,))
            col = "lsh_bucket" if t == 0 else f"lsh_bucket_{t}"
            c = F.col(col).isin(sorted(_probe_set(qv, dim, 8, 1, table=t)))
            cond = c if cond is None else (cond | c)
        scanned.append(b.where(cond).count() / n_total)
    mean_multi = sum(rec_multi) / len(rec_multi)
    mean_single = sum(rec_single) / len(rec_single)
    mean_scan = sum(scanned) / len(scanned)
    # pinned operating point (BASELINE.md): recall and scan fraction
    assert mean_multi >= 0.6, (rec_multi, mean_scan)
    assert mean_multi > mean_single, (mean_multi, mean_single)
    assert mean_scan <= 0.30, scanned


def test_lsh_bucket_tables_matches_numpy_reference(spark, embs):
    """The single-pass Arrow bucketing must equal a from-scratch numpy
    recompute of sign(v . hyperplane_{t,p}) bit-packing for every
    table, and a single-table pass must agree with the multi-table pass
    (guards the hyperplane family derivation and bit order)."""
    import numpy as np

    from legal_knowledge_graph_spark.operators.similarity import (
        _hyperplane,
        lsh_bucket_tables,
    )

    sub = embs.withColumn("vid", F.col("vec_id").cast("long")).limit(50)
    rows = sub.select("vid", "embedding").collect()
    dim = len(rows[0]["embedding"])
    n_planes, tables = 8, (0, 1, 3)

    got = {
        r["vid"]: (r["lsh_bucket"], r["lsh_bucket_1"], r["lsh_bucket_3"])
        for r in lsh_bucket_tables(sub, "embedding", dim, n_planes, tables).collect()
    }
    for r in rows:
        v = np.asarray(r["embedding"], dtype="float64")
        want = []
        for t in tables:
            b = 0
            for p in range(n_planes):
                if float(v @ np.asarray(_hyperplane(dim, p, t))) >= 0:
                    b += 2**p
            want.append(b)
        assert got[r["vid"]] == tuple(want), r["vid"]

    single = {
        r["vid"]: r["lsh_bucket_3"]
        for r in lsh_bucket_tables(sub, "embedding", dim, n_planes, (3,)).collect()
    }
    assert single == {k: v[2] for k, v in got.items()}


def test_lsh_bucket_null_and_ragged_rows_land_in_bucket_zero(spark):
    """Parity with the Catalyst fold the vectorized path replaced:
    null rows and rows whose length != dim produced null dots on every
    plane (bucket 0) — the zero-padded matmul must not silently move
    them to the all-ones bucket."""
    from legal_knowledge_graph_spark.operators.similarity import lsh_bucket_tables

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.3, 0.9, 0.1]),
            (2, None),
            (3, [0.5, -0.3]),             # shorter than dim
            (4, [0.5, -0.3, 0.9, 0.1, 7.0]),  # longer than dim
            (5, []),
        ],
        "vid long, embedding array<double>",
    )
    got = {
        r["vid"]: (r["lsh_bucket"], r["lsh_bucket_1"])
        for r in lsh_bucket_tables(df, "embedding", 4, 8, (0, 1)).collect()
    }
    for vid in (2, 3, 4, 5):
        assert got[vid] == (0, 0), vid
    assert got[1] != (0, 0)  # a real vector gets a real bucket


# ---------------------------------------------------------------- round 6:
# vectorized packed-gram extraction + GEMM verify + bucket-local simhash


def test_packed_gram_parity_with_gram_set():
    """The packed-codepoint gram extraction must reproduce _gram_set
    exactly for every k it claims (short texts, empty, None, astral
    codepoints, repeats)."""
    from legal_knowledge_graph_spark.operators.dedup import (
        _gram_set,
        _pack_gram,
        _packed_doc_grams,
        _unpack_gram,
    )

    texts = [
        "hello world", "", "ab", "a", "abc", "ααβγδ unicode ™",
        "🎉🎊x🎉yz", "aaa", "the the the", None, "  spaced  ", "x" * 300,
    ]
    for k in (1, 2, 3):
        doc_of, packed = _packed_doc_grams(texts, k)
        for i, t in enumerate(texts):
            want = _gram_set(t or "", k)
            got = {_unpack_gram(int(p), k) for p in packed[doc_of == i]}
            assert got == want, (k, i, t)
            for g in want:
                assert _unpack_gram(_pack_gram(g, k), k) == g


def test_jaccard_fast_path_equals_distributed(spark, docs, monkeypatch):
    """The bounded-vocab Arrow fast paths (packed grams, broadcast
    masks, block-local pair enumeration incl. the GEMM branch for big
    blocks) must match the distributed shingle-join path row for row,
    also when every bucket's pairs span several 3-row units."""
    from legal_knowledge_graph_spark.operators import dedup

    d = docs.where("doc_id < 300").select(
        "doc_id", "text", F.lit("blk").alias("one_block")
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def ngram():
        return rows(
            dedup.ngram_jaccard_pairs(d, "doc_id", "text", "one_block", min_jaccard=0.5)
        )

    def minhash():
        return rows(dedup.minhash_near_duplicates(d, "doc_id", "text", threshold=0.7))

    # one 300-doc block => first i-chunks enumerate >= 2^14 pairs, so
    # the GEMM branch runs for them and the pairwise branch for the tail
    fast, fastm = ngram(), minhash()
    with monkeypatch.context() as m:
        m.setattr(dedup, "UNIT_ROWS", 3)  # 3-row units: pairwise branch only
        fast3, fastm3 = ngram(), minhash()
    monkeypatch.setattr(dedup, "_ngram_fast", lambda *a, **kw: None)
    monkeypatch.setattr(dedup, "_minhash_fast", lambda *a, **kw: None)
    dist, distm = ngram(), minhash()
    assert fast == dist and len(fast) > 0
    assert fast3 == dist
    assert fastm == distm
    assert fastm3 == distm


def test_simhash_near_dup_bucket_local_equals_bruteforce(spark, docs):
    """The bucket-local Hamming verify (fingerprints carried through
    the band buckets, no driver collect) must equal a from-scratch
    banding + exhaustive in-bucket recompute, including the cap."""
    import itertools
    from collections import defaultdict

    from legal_knowledge_graph_spark.operators.dedup import (
        simhash as simhash_fn,
        simhash_near_duplicates,
    )

    d = docs.where("doc_id < 120").select("doc_id", "text")
    mut = d.where("doc_id < 30").select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    corpus = d.unionByName(mut)
    got = sorted(
        tuple(r)
        for r in simhash_near_duplicates(
            corpus, "doc_id", "text", max_hamming=3, max_block=40
        ).collect()
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fn(corpus, "doc_id", "text").collect()
    }
    buckets = defaultdict(list)
    for i, s in fps.items():
        for b in range(4):
            buckets[(b, (s >> (b * 8)) & 255)].append(i)
    want = set()
    for mem in buckets.values():
        if len(mem) > 40:
            continue
        for a, b in itertools.combinations(sorted(mem), 2):
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                want.add((a, b, h))
    assert got == sorted(want) and len(got) > 0


def test_simhash_near_dup_first_band_rule_with_dropped_buckets(
    spark, docs, monkeypatch
):
    """Force buckets over the cap (max_block=3 on a corpus with planted
    near-identical clusters) so the first-surviving-band emission must
    consult the dropped-bucket set: a pair whose earliest agreeing band
    landed in a dropped bucket must still surface from its first
    SURVIVING band, and the output must equal the distinct-over-all-
    surviving-buckets semantics recomputed from scratch — also when a
    bucket's pairs span several 1-row units."""
    from legal_knowledge_graph_spark.operators import dedup
    import itertools
    from collections import defaultdict

    from legal_knowledge_graph_spark.operators.dedup import (
        simhash as simhash_fn,
        simhash_near_duplicates,
    )

    d = docs.where("doc_id < 80").select("doc_id", "text")
    # two mutation families -> many hamming<=3 pairs sharing band values
    muts = [
        d.where("doc_id < 25").select(
            (F.col("doc_id") + 10000 * i).alias("doc_id"),
            F.regexp_replace("text", r"^\S+", w).alias("text"),
        )
        for i, w in ((1, "zzz"), (2, "qqq"))
    ]
    corpus = d.unionByName(muts[0]).unionByName(muts[1])
    max_block = 3

    def pairs():
        return sorted(
            tuple(r)
            for r in simhash_near_duplicates(
                corpus, "doc_id", "text", max_hamming=3, max_block=max_block
            ).collect()
        )

    got = pairs()
    monkeypatch.setattr(dedup, "UNIT_ROWS", 1)
    got1 = pairs()
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fn(corpus, "doc_id", "text").collect()
    }
    buckets = defaultdict(list)
    for i, s in fps.items():
        for b in range(4):
            buckets[(b, (s >> (b * 8)) & 255)].append(i)
    n_dropped = sum(1 for mem in buckets.values() if len(mem) > max_block)
    assert n_dropped > 0  # the dropped-keys path must actually fire
    want = set()
    for mem in buckets.values():
        if len(mem) > max_block:
            continue
        for a, b in itertools.combinations(sorted(mem), 2):
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                want.add((a, b, h))
    assert got == sorted(want)
    assert got1 == sorted(want)
