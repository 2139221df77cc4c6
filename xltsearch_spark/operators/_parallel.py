"""Input-parallelism floor for map-heavy operators (guide §2.5 input skew).

A small parquet table arrives as 1-3 scan partitions (128 MB splits), which
serializes the expensive map-side work — Python shingle hashing, numpy
matmuls, JVM regex tokenization — on a handful of cores while the rest of
local[N] (or the cluster) idles. These operators' per-row work is orders of
magnitude above scan cost, so one cheap hash repartition up to
defaultParallelism pays for itself immediately.

Scale shape: at 100 TB any scan already carries >> cores partitions and this
is a no-op; it only triggers on the small-input case. The repartition hashes
on a caller-named key column (deterministic row->partition mapping — NOT
round-robin, which pays a sort-before-repartition and is retry-unsafe on
nondeterministic input, guide §2.5). Row-wise results are unchanged: every
operator using this computes per-row/per-group values that do not depend on
physical partitioning.

``sized_partition_count`` is the same rule for keyed passes that must
shuffle anyway (the index build's per-bucket stages): a task count of at
least defaultParallelism that grows with the input's plan-stat bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_once(df: DataFrame) -> DataFrame:
    """Eagerly pin a frame that multiple plan branches consume, so its
    (expensive) producer runs ONCE instead of once per branch.

    Exchange/stage reuse would normally deduplicate identical subtrees,
    but a CACHED (persisted) input defeats it: under AQE the
    InMemoryRelation consumers do not canonicalize equal, so every branch
    above the cache re-executes the whole subtree (measured: a shingle
    emitter with 4 consumers over a persisted corpus ran its Python pass
    8x; an identical pipeline over an unpersisted scan reused the
    exchange). Pinning with localCheckpoint makes the producer a
    LogicalRDD, above which reuse works again — and downstream consumers
    keep the checkpointed frame's output partitioning, so keyed
    aggregates/joins over the pinned exchange add no new shuffle.

    localCheckpoint stores MEMORY_AND_DISK on executors (disk-backed,
    distributed — the same bytes the shuffle already carries) and is
    released by the ContextCleaner when the frame is garbage collected.
    Skipped for streaming frames (they cannot be checkpointed), when the
    caller already persisted the frame, or when it is already a
    materialized checkpoint."""
    if df.isStreaming:
        return df
    sl = df.storageLevel
    if sl.useMemory or sl.useDisk or sl.useOffHeap:
        return df
    try:
        if "LogicalRDD" in df._jdf.queryExecution().logical().nodeName():
            return df  # already checkpointed
    except Exception:  # pragma: no cover
        pass
    return df.localCheckpoint(eager=True)


# break-even for spreading map-side text work, by downstream cost class:
# the Python passes (shingle hashing, signatures, 20-token window
# emission) cost roughly 0.5 s per MB of text per core (measured:
# shingle+minhash over the 0.6 MB sf0.1 documents table ~0.3 s), while the
# repartition costs one small shuffle plus wider task dispatch
# (~0.3-0.5 s of fixed overhead per downstream stage) — break-even about
# 1 MB of PLAN-STAT bytes per partition: Catalyst sizeInBytes for a
# parquet/persisted text scan underestimates the in-flight text ~2x
# (measured 7.3 MB stats for 15.3 MB of text), so 1 MB stats ~ 2 MB text
# ~ 1 s of serialized Python — well past the spread cost. A/B at the 10x
# table (3.6 MB stats/partition, 2 partitions): signatures 2.92->0.58 s,
# simhash 1.76->0.57 s with the 1 MB floor; the sf0.1 table (0.71 MB
# stats) stays a no-op. Codegen'd JVM projections
# (quality/language/gopher regex structs) run ~20x cheaper per byte
# (measured: 15 MB single-task in ~0.3 s), so their break-even is an
# order of magnitude higher.
MIN_BYTES_PER_PARTITION = 1 << 20        # Python-rate map work
JVM_MIN_BYTES_PER_PARTITION = 64 << 20   # codegen'd JVM map work

_UNKNOWN_STATS = 1 << 60  # Catalyst returns defaultSizeInBytes when unknown


def _plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-stat size estimate, or None when it is unknown."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - defensive (exotic plans)
        return None
    return None if size >= _UNKNOWN_STATS else size


def ensure_min_parallelism(df: DataFrame, key_col: str | None = None,
                           min_bytes: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``sparkContext.defaultParallelism`` when its
    plan yields fewer partitions AND each partition carries enough bytes
    for the spread to beat the shuffle (``min_bytes``, default
    MIN_BYTES_PER_PARTITION — pass JVM_MIN_BYTES_PER_PARTITION for
    codegen'd map work). Hash-partitions on ``key_col`` when given
    (deterministic), round-robin otherwise. No-op for streaming frames,
    for inputs that are already parallel enough, and for small inputs
    where per-stage overhead dominates."""
    if df.isStreaming:
        return df
    if min_bytes is None:
        min_bytes = MIN_BYTES_PER_PARTITION
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive (exotic plans)
        return df
    if cur >= target:
        return df
    size = _plan_bytes(df)
    if size is None or size // max(cur, 1) < min_bytes:
        return df
    if key_col is not None and key_col in df.columns:
        return df.repartition(target, key_col)
    return df.repartition(target)


def sized_partition_count(df: DataFrame) -> int:
    """Task count for a keyed whole-partition pass over ``df``: at least
    ``defaultParallelism`` (every core busy), more once the plan-stat bytes
    exceed ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` per task —
    the size Spark itself aims a shuffle partition at. A fixed count would
    start the same number of Python tasks for a 150-doc update segment as
    for a full build; this one grows with the input instead."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    size = _plan_bytes(df)
    if size is None:
        return target
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    return max(target, -(-size // max(int(advisory), 1)))
