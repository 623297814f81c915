"""Scan-parallelism guard shared by the CPU-heavy map operators.

A single-file parquet corpus scans as 1-2 input splits (128 MB
``spark.sql.files.maxPartitionBytes`` vs a ~6 MB file), so every
NARROW stage above it — Arrow extraction passes, Python regex/codec
work, explode-heavy gram fans — runs on 1-2 cores no matter how many
the session has. The guard round-robins such inputs up to the default
parallelism; on a well-partitioned cluster table it is a no-op and
never ADDS a shuffle (round-3 finding, generalized from
operators/dedup.py in round 6).
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame

# a shuffle node in a physical plan string: "Exchange hashpartitioning(..."
# (not "BroadcastExchange ..."); a reused shuffle prints
# "ReusedExchange [...], Exchange ..."
_SHUFFLE_RE = re.compile(r"\bExchange\b")


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Repartition iff the input has fewer partitions than half the
    default parallelism; no-op otherwise.

    Under-parallelism only afflicts NARROW plans rooted at a few input
    splits: any shuffle Exchange between the scan and this operator
    already spreads the data across the (cores-scaled) shuffle
    partitions. A ``BroadcastExchange`` does not: the stream side of a
    broadcast join keeps its scan's partitions, so only a shuffle
    ``Exchange`` counts. The Exchange probe matters for cost too —
    ``df.rdd`` on an AQE plan triggers getFinalPhysicalPlan(), which
    EXECUTES every upstream query stage on the driver thread at
    plan-BUILD time and then re-executes it at action time (measured:
    ~5 s of serial build time in the 400k-page nodes stage before this
    check existed). On an exchange-free plan ``df.rdd`` is pure
    planning and stays cheap; on a broadcast-only plan it runs the
    small build side once more."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _SHUFFLE_RE.search(plan):
        return df
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the `hash()` expression for an
    IntegerType column, seed 42) — public algorithm, pinned against
    F.hash by tests/test_plans.py so an engine change cannot silently
    desynchronize the balanced-write mapping below."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    m = 0xFFFFFFFF
    k1 = (x & m) * c1 & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = k1 * c2 & m
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # byte length of an int
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & m
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


# cap of the slot-key scan, in tries per shuffle slot: the chance that
# 32*n tries all miss a given one of n slots is about e^-32
_MAX_TRIES_PER_SLOT = 32


@functools.lru_cache(maxsize=16)
def _slot_keys(n: int, n_buckets: int) -> tuple[int, ...] | None:
    """For each bucket b (n >= n_buckets), the smallest non-negative int
    whose Murmur3 hash lands in shuffle slot b*n//n_buckets of n, found
    in one scan of at most ``_MAX_TRIES_PER_SLOT * n`` ints; None if the
    scan hits that cap first."""
    slot_bucket = {b * n // n_buckets: b for b in range(n_buckets)}
    keys = [0] * n_buckets
    for x in range(_MAX_TRIES_PER_SLOT * n):
        b = slot_bucket.pop(murmur3_int32(x) % n, None)
        if b is not None:
            keys[b] = x
            if not slot_bucket:
                return tuple(keys)
    return None


def repartition_buckets_balanced(df: DataFrame, bucket_col: str, n_buckets: int) -> DataFrame:
    """Cluster ``df`` by an integer bucket column for a partitioned
    write, with EXACT slot balance.

    ``repartition(col(bucket))`` hashes the n_buckets distinct values
    into the shuffle slots Poisson-style: at 64 slots the busiest task
    holds 3/32 of ALL data vs an ideal 0.5/32 — a 6x data-proportional
    write straggler (guide §2.3). AQE's REBALANCE fixes the skew but
    re-coalesces to advisory-sized partitions, starving write
    parallelism instead. Here each bucket value is mapped to a small
    "magic" integer whose Murmur3 hash lands in the slot we CHOOSE
    (slot b*n//n_buckets, ``_slot_keys``), so ``repartition(n, magic)``
    yields one slot per bucket — the one-file-set-per-bucket layout AND
    balanced tasks, deterministic, no sampling pass, no AQE dependence.
    If the capped key scan fails, it falls back to a plain
    ``repartition(n, bucket)``."""
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    n = max(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        sc.defaultParallelism,
        n_buckets,
    )
    keys = _slot_keys(n, n_buckets)
    if keys is None:
        return df.repartition(n, F.col(bucket_col))
    mapping = F.create_map(*[F.lit(v) for kv in enumerate(keys) for v in kv])
    salt = F.element_at(mapping, F.col(bucket_col).cast("int")).cast("int")
    return df.repartition(n, salt.alias("_write_slot"))
