"""Connected components on an edge DataFrame — large-star/small-star.

The reference's single-linkage AgglomerativeClustering at cosine
threshold tau (reference: utils/cluster.py:4-26) is exactly connected
components over the graph whose edges are pairs with distance < tau —
so CC is the distributed decomposition of C1.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014). Converges
in O(log n) rounds; each round is two shuffles (groupBy min +
re-emit). ``localCheckpoint`` every round cuts lineage so plans don't
grow across iterations (the iterative-fixpoint pitfall from SURVEY.md
§4).

- large-star: every node connects its strictly-larger neighbors to the
  minimum of its closed neighborhood.
- small-star: edges oriented high->low; every high node connects its
  (smaller-or-equal) neighbors and itself to the minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rounds of the large-star/small-star loop before it gives up
MAX_ITER = 25
#: canonical edges the driver union-find fast path takes (<= 16 MB)
DRIVER_CAP = 1_000_000


def _canonical_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    # undirected view: (u, v) for every edge in both orientations
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # m(u) = min over closed neighborhood
    m = und.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.select("src", F.least("src", "m").alias("m"))
    # connect strictly larger neighbors v > u to m(u)
    out = (
        und.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("a"), F.col("m").alias("b"))
    )
    return out.select(F.greatest("a", "b").alias("dst"), F.least("a", "b").alias("src")).where(
        F.col("src") != F.col("dst")
    ).select("src", "dst").distinct()


def _small_star(e: DataFrame) -> DataFrame:
    # orient high -> low: center = high node
    o = e.select(F.greatest("src", "dst").alias("c"), F.least("src", "dst").alias("v"))
    m = o.groupBy("c").agg(F.min("v").alias("m"))
    # connect all low neighbors and the center itself to m(c)
    neigh = o.join(m, "c").select(F.col("v").alias("a"), F.col("m").alias("b"))
    selfe = m.select(F.col("c").alias("a"), F.col("m").alias("b"))
    out = neigh.union(selfe)
    return out.select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")).where(
        F.col("src") != F.col("dst")
    ).distinct()


def _checksum(e: DataFrame) -> tuple:
    # bit_xor is a valid set checksum here because the edge set is
    # distinct (and it cannot overflow under ANSI mode, unlike sum)
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _driver_union_find(rows) -> list[tuple]:
    """Union-find with path halving over collected (src, dst) rows;
    returns (node, component=min id in component) for every node that
    appears in ``rows``. O(E α(E)) — microseconds at the bounded sizes
    the fast path admits."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        # path compression for the chain we walked
        while x != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[rb] = ra
    root_min: dict = {}
    for n in parent:
        r = find(n)
        m = root_min.get(r)
        if m is None or n < m:
            root_min[r] = n
    return [(n, root_min[find(n)]) for n in parent]


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src: long, dst: long) -> (node: long, component: long).

    ``component`` is the minimum node id in the node's component.
    Nodes that appear only as isolated vertices in ``edges`` (self
    loops) map to themselves; vertices absent from ``edges`` are the
    caller's to union in. Raises ``RuntimeError`` when the distributed
    loop has not converged after ``MAX_ITER`` rounds.

    **Bounded fast path** (round 5 — the CC convergence loop was the
    pipeline's single largest serial-seconds contributor at ~15 s per
    run, measured by the 2-vs-8-core stage decomposition): the
    convergence checksum already counts the canonical edge set, so
    when it fits ``DRIVER_CAP`` the components are solved with driver
    union-find over ONE bounded collect (≤ 16 MB at the 1M-edge
    default) and broadcast back — zero iteration rounds, zero
    per-round driver latency. Above the cap the large-star/small-star
    loop below IS the path (the 100 TB shape: each round two
    map-side-combinable shuffles). Same output either way, pinned by
    tests/test_linking.py's fast-vs-distributed equivalence test
    (test_cc_driver_fast_path_equals_distributed).
    """
    # The input edge table is consumed by BOTH the canonical edge set
    # (below) and the nodes table (whose final assignment join runs in
    # a separate action) — without a checkpoint an expensive upstream
    # lineage (e.g. link_entities' candidate scoring) re-executes once
    # per consumer (measured 3x at 400k pages). Iterative-CC engines
    # materialize their input for exactly this reason; at the bounded
    # fast-path sizes this is trivial, and at scale it is the standard
    # pre-iteration materialization.
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Lazy localCheckpoint: the checksum action both materializes the
    # checkpoint (cutting lineage across iterations) and tests
    # convergence — ONE driver round trip per iteration instead of
    # three (eager checkpoint + isEmpty + checksum). At web scale the
    # per-iteration shuffles dominate; in small/interactive runs the
    # driver latency did.
    e = _canonical_edges(edges).localCheckpoint(eager=False)
    prev = _checksum(e)
    if prev[0] == 0:
        return nodes.select("node", F.col("node").alias("component"))

    if prev[0] <= DRIVER_CAP:
        # the checksum materialized the checkpoint, so this fetch reads
        # executor-cached blocks — bounded by construction. Arrow path
        # (toPandas) rather than collect(): 1M Row objects cost 10-20x
        # the raw 16 MB of longs in driver heap and serialize row by
        # row; two int64 numpy columns transfer as a handful of Arrow
        # buffers. tolist() converts to plain ints for the union-find
        # dict (and for createDataFrame below).
        import pandas as pd

        epd = e.toPandas()
        assign = _driver_union_find(
            zip(epd["src"].tolist(), epd["dst"].tolist())
        )
        spark = edges.sparkSession
        assign_pdf = pd.DataFrame(assign, columns=["node", "component"])
        assign_df = F.broadcast(
            # pandas -> Arrow createDataFrame (row-tuple ingestion
            # pickles per row; at the 1M-edge cap assign can hold ~2M
            # entries)
            spark.createDataFrame(assign_pdf, "node long, component long")
        )
        # nodes stays distributed (self-loop-only vertices can be
        # unbounded even when the canonical edge set is tiny); the
        # assignment map broadcasts against it
        return nodes.join(assign_df, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )

    n_edges = prev[0]
    for _ in range(MAX_ITER):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e2)
        e = e2
        if cur == prev:
            break
        prev = cur
    else:
        # an unsettled edge set is not a forest of stars: its
        # assignment below would split components
        raise RuntimeError(
            f"connected_components did not converge within MAX_ITER={MAX_ITER}"
            f" rounds ({n_edges} canonical edges)"
        )

    # Converged state is a forest of stars (child -> root = component
    # min). Assignment: min over closed neighborhood.
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    assign = und.groupBy("src").agg(F.min("dst").alias("m")).select(
        F.col("src").alias("node"), F.least("src", "m").alias("component")
    )
    return nodes.join(assign, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
