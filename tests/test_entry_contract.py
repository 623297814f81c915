"""Pre-validate the driver contract: every queries() entry runs, and
every oracle_sql() entry produces the SAME multiset of rows in DuckDB
(sorted columns, stringified values — mirroring the driver's
order-insensitive value-hash compare)."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck_views(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    return _duck_views(sf_dir)


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert rows[0]["out_degree"] >= rows[-1]["out_degree"]


def test_queries_and_oracles_agree(spark, sf_dir, duck):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    failures = []
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        if name not in oracles:
            # rows-only check (matches the driver's weaker mode)
            assert rows is not None
            continue
        ocols = None
        try:
            res = duck.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # pragma: no cover
            failures.append((name, f"oracle error: {e}"))
            continue
        if sorted(cols) != sorted(ocols):
            failures.append((name, f"schema mismatch spark={sorted(cols)} duck={sorted(ocols)}"))
            continue
        got = _row_multiset(cols, rows)
        want = _row_multiset(ocols, orows)
        if got != want:
            diff_g = [r for r in got if r not in set(want)][:3]
            diff_w = [r for r in want if r not in set(got)][:3]
            failures.append(
                (name, f"values differ: n={len(got)}/{len(want)} spark_only={diff_g} duck_only={diff_w}")
            )
    assert not failures, "\n".join(f"{n}: {m}" for n, m in failures)


#: the driver gate, in the order the driver verifies it (first 50 keys)
GATE_NAMES = [
    "structure_sequential", "toc_components", "rank_scores",
    "dedup_groups", "sample_per_group", "pack_sequences", "hash_split",
    "simhash_near_dup", "quality_filters", "contamination", "k_hop",
    "split_intro_body", "mention_counts", "triple_extract",
    "surface_normalize", "entity_link", "cc_components", "tree_agg",
    "next_prev", "dedup_exact", "dedup_minhash", "ngram_jaccard",
    "embedding_near_dup", "text_metrics", "salted_degree", "media_meta",
    "decode_features", "sampled_scan", "event_windows", "json_parse",
    "search_children_topk", "search_neighbors", "resolve_spans",
    "rollup_agg", "corpus_meta", "benchmark_validate", "tree_summarize",
    "align_spans", "corpus_nodes", "vector_attach", "idempotent_ids",
    "ivf_ann_exact", "lsh_ann_exact", "sessionize", "frame_sample",
    "batch_topk", "benchmark_summary", "html_decode",
    "stream_event_windows", "ann_approx",
]

#: sha1 of each oracle's normalized DuckDB result over sf0.001
ORACLE_DIGESTS = {
    "structure_sequential": "c28d665601ce2e15bc39ce6ee6daf66a70cfa696",
    "toc_components": "9be99d22479be351ba08ef0ad62565301a1371c3",
    "rank_scores": "bc65b6429ae3d1a83ff6b2593bfd39cf229b5210",
    "dedup_groups": "bba8b684a97a9c53f726beaf6fd768b7ba29da87",
    "sample_per_group": "ceee036f839d2602ae4c28cac62986d38227af79",
    "pack_sequences": "3635627d3a7e9a981d1d53e63ea4549c4acb2a49",
    "hash_split": "3fa479820d94451fba0f712c85e359ba0bbc67e2",
    "simhash_near_dup": "6b5b29fce925e48aa1e48329a4b48cba98669126",
    "quality_filters": "fb7829c84bfddef2a05dcd9344f18defd33c3a1e",
    "contamination": "23863c967a3e2195577809113bce42c4b1caa4d6",
    "k_hop": "ccbc6039895d6d64c05a7b3230c00174c38ef6b7",
    "split_intro_body": "ebe528c642b8b6d6ad2eef130a66c967cfedc1f1",
    "mention_counts": "2d65a54a5cd16b82f7b5cfd90deb31721611a233",
    "triple_extract": "063f52c8ce7c84d76826e5affc8be55a017d1cbe",
    "surface_normalize": "af1b7fb01c406287c7592ffe92dc6e7a96a8ec27",
    "entity_link": "c9a705c80166fa530ba7fcb0d41bb38e414c67cf",
    "cc_components": "fbc3dde3b6f15a2d08f96fdba99a653e551e089a",
    "tree_agg": "ef79d0e921d8c4761fab1b2c73ba7f4d20bc3144",
    "next_prev": "ebed7d5e47a8f2c50215a888d55b7a3b881164f5",
    "dedup_exact": "c95abd7f383e0a792d3256fd8104430406ca1cd2",
    "dedup_minhash": "2d5e8f7199346bf44dffe4d9113e8699ae0447a2",
    "ngram_jaccard": "123e074516c817d59b853221abad8d2dd37f7183",
    "embedding_near_dup": "a1a098ff7f221c584c87d493e22a7494ad375cbf",
    "text_metrics": "57e95b893cf3af120906caf7f6eae94e9641e8ed",
    "salted_degree": "0e5fdca6c205e5f5c6d2c34c1bcc64f63abca8ef",
    "media_meta": "4e7dfd7ffc47376bcdd0f358d46fc73be6c1059b",
    "decode_features": "cbef40d0b1fcc7913573f582446f7bce57229fad",
    "sampled_scan": "c2a397aa94893f82a6c124dd6915a5d831211e10",
    "event_windows": "ecc8e5fb0a97ecc4d00bc4f1f704b214fd66473f",
    "json_parse": "94c570d36aebd248733bd146a0441bb0676434c6",
    "search_children_topk": "cd84bb1dcf746e63ebb760c21613967f27ffa103",
    "search_neighbors": "a2c5f17dbc638e092ee8a9e9452b4217f39b0ab6",
    "resolve_spans": "784f93462d4f0d6a9447e5390dd3c30279acf590",
    "rollup_agg": "4aba99bbc135755e79769bbd2dad5f17fd9d562f",
    "corpus_meta": "c51e7fe65800980db0b855db1df97ed312d884e9",
    "benchmark_validate": "cc7c870b2bc2924889d9f9c9e21be4b41c8bb1ca",
    "tree_summarize": "bfb93d5bc61254887b32a667e5046e075545dca2",
    "align_spans": "8b15eb535ec3437c5a1ff6233a1a22e35ea94a6e",
    "corpus_nodes": "a0f608bc024e512aecb2ac884aeec04a8e3e1904",
    "vector_attach": "8e75b7aefab936c68aa74c6a999e1b489a917659",
    "idempotent_ids": "005eb40decd503eae824b695ae5f55b784d2d808",
    "ivf_ann_exact": "b1b847c4f812cb241d5fa9dcc51ee09b19c96acd",
    "lsh_ann_exact": "8cf85c315cf3fe5de62f65591b4d4b8ae49940b2",
    "sessionize": "6851c1f0a14bdfe55d2b6eecb35433a7aa26697e",
    "frame_sample": "ba030745cd43500d7ac8e3a4ad8286d484edc43f",
    "batch_topk": "3b2cd4792cd290c17ece0f34bf53a93bff4f13a4",
    "benchmark_summary": "ce0d1178681e4c6592b98e25789809ebae1fb755",
    "html_decode": "93fee21582de3adeb8b9045be36aefb2aacd5d77",
    "stream_event_windows": "ecc8e5fb0a97ecc4d00bc4f1f704b214fd66473f",
}


def _result_digest(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    lines = [",".join(sorted(cols)), *_row_multiset(cols, res.fetchall())]
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


def test_gate_registry_pinned():
    """The gate's keys, their order and every oracle's RESULT are
    pinned (DuckDB only, no Spark session): a registry rewrite may
    change oracle SQL text but not what it computes, so an oracle
    cannot drift to agree with a broken query."""
    from legal_knowledge_graph_spark.entry_queries import ORACLES, QUERIES

    assert list(QUERIES) == GATE_NAMES
    assert set(ORACLES) == set(GATE_NAMES) - {"ann_approx"}
    con = _duck_views("/root/testdata/sf0.001")
    got = {name: _result_digest(con, sql) for name, sql in ORACLES.items()}
    assert got == ORACLE_DIGESTS


def test_bench_names_resolve():
    """Every name the benchmarks time (bench.BENCH_QUERIES, perfbench
    SUITE_LEAVES) resolves the way they resolve it: q_<name>, else the
    gate entry."""
    import bench
    from perfbench.metrics import SUITE_LEAVES

    from legal_knowledge_graph_spark import entry_queries

    names = [*bench.BENCH_QUERIES, *SUITE_LEAVES]
    missing = [
        n for n in names
        if not callable(
            getattr(entry_queries, f"q_{n}", None) or entry_queries.QUERIES.get(n)
        )
    ]
    assert not missing
