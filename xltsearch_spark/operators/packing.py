"""Deterministic sequence packing, shard assignment, and mixture
resampling — the last mile of a training-data pipeline.

After curation/dedup a 100-TB corpus still has to be turned into what a
trainer actually consumes: fixed-token-budget sequences, a fixed number
of balanced shards, and a domain mix reweighted to a target recipe.
All three operators here are *engine- and partitioning-invariant*: every
decision derives from pure integer arithmetic over a stable id (the same
Knuth hash as :mod:`xltsearch_spark.operators.sampling`), so the output
is bit-identical on 1 executor or 1000 and reproducible in the DuckDB
oracle.

Scale notes:

* ``pack_chunked`` needs a GLOBAL exclusive prefix sum of token counts in
  a deterministic order. A ``sum() over (order by ...)`` window with no
  partition key serializes on one task, and ``repartitionByRange`` would
  add a boundary-sampling scan of the corpus; instead the order
  ``(hash(id), id)`` is realized by ONE hash-bucketed shuffle
  (``bucket = hash // width`` — arithmetic, no sampling), per-bucket
  sums are a tiny driver collect, and offsets are added map-side in
  ``mapInPandas`` — the scalable equivalent of sort + scan, one pass
  over the data.
* ``pack_greedy`` is inherently sequential *within* a partition (the
  current pack's fill is a non-associative running state) but
  embarrassingly parallel across partitions, and the per-partition work
  is batched numpy (``_greedy_fill`` jumps pack-by-pack via
  searchsorted on the token cumsum, not doc-by-doc); pack ids are made
  globally dense with the same two-pass offset trick (pass 1 counts
  packs per partition, pass 2 assigns). Pack *composition* at partition boundaries
  depends on the partitioning, which is why the oracle-checked variant is
  ``pack_chunked`` (exact, invariant) and greedy is the no-split option.
* ``assign_shards`` / ``mixture_resample`` are one shuffle and map-only
  respectively; the shard hash balances shard sizes by construction
  (no hot shard, every shard ~N/n_shards).
"""

from __future__ import annotations

from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from xltsearch_spark.operators.sampling import _MOD, bucket_hash

# salt offset for the fractional-copy coin in mixture_resample; must stay
# in sync with the oracle SQL (any fixed prime works — it only needs to
# decorrelate the copy coin from the id hash used elsewhere)
_MIX_SALT = 7919


# minimum bucket count for the ordered shuffle: bucket = hash // width
# is pure arithmetic over the uniform 31-bit hash, so bucket populations
# are balanced by construction and the boundaries NEVER depend on
# sampling, partitioning, or cluster size. The default (n_buckets=None)
# scales as 8x the cluster parallelism, floored at 1024: hashing bucket
# ids to partitions is balls-in-bins, so ~8 buckets per partition keeps
# the heaviest partition within ~2x of the mean and leaves no partition
# empty at ANY cluster size, while the per-bucket bookkeeping (sums,
# offsets) stays a small driver collect (8 rows per core). The OUTPUT is
# invariant to the bucket count (boundaries only split the sum) — only
# load balance depends on it.
DEFAULT_ORDER_BUCKETS = 1024

# internal column names for the ordered shuffle; collision with caller
# columns is rejected loudly (the frames are sorted/bookkept on them)
_HCOL, _BCOL = "_pk_hash", "_pk_bucket"


def _resolve_buckets(df: DataFrame, n_buckets: int | None) -> int:
    if n_buckets is not None:
        return n_buckets
    return max(DEFAULT_ORDER_BUCKETS,
               8 * df.sparkSession.sparkContext.defaultParallelism)


def _hash_bucketed_sort(df: DataFrame, id_col: str, salt: int,
                        n_buckets: int) -> DataFrame:
    """ONE shuffle that realizes the global order ``(hash(id), id)`` as
    (bucket, hash, id)-sorted partitions, where ``bucket = hash //
    width`` slices the hash space arithmetically.

    ``repartitionByRange`` would need a *sampling pass* over the input
    to pick boundaries — a second full scan of the corpus (and
    nondeterministic boundaries). The hash is uniform in [0, 2^31), so
    equal-width slices are balanced without looking at the data: scan
    once, shuffle once. Buckets are hash-distributed to partitions
    (a partition may hold several, non-adjacent buckets), so all
    downstream bookkeeping is keyed per BUCKET, not per partition.
    """
    clash = {_HCOL, _BCOL} & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with packing "
                         f"internals: {sorted(clash)}")
    width = (_MOD + n_buckets - 1) // n_buckets
    return (df.withColumn(_HCOL, bucket_hash(F.col(id_col), salt))
              .withColumn(_BCOL, F.floor(F.col(_HCOL) / F.lit(width))
                          .cast("int"))
              .repartition(max(df.sparkSession.sparkContext
                               .defaultParallelism, 8), F.col(_BCOL))
              .sortWithinPartitions(_BCOL, _HCOL, id_col))


def _ordered_exclusive_cumsum(df: DataFrame, value_col: str, id_col: str,
                              salt: int, out_col: str,
                              n_buckets: int) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` (long) over the global
    ``(hash(id), id)`` order, without a global window (which would
    serialize on one task) and without a range-sampling pass (which
    would scan the corpus twice).

    Two passes over ONE persisted hash-bucketed shuffle: per-bucket sums
    are a tiny collect (``n_buckets`` rows), then each task adds its
    buckets' offsets plus a local per-bucket numpy cumsum inside
    ``mapInPandas``. The result is independent of partitioning, cluster
    size AND ``n_buckets`` (bucket boundaries only split the sum).

    Cache contract: the sorted frame stays persisted because the
    RETURNED frame reads it lazily on every action — releasing it here
    would re-shuffle per action. Callers running many packing calls in
    one long-lived session should materialize/write the result and then
    ``spark.catalog.clearCache()`` (or track and unpersist).
    """
    n_buckets = _resolve_buckets(df, n_buckets)
    sorted_df = _hash_bucketed_sort(df, id_col, salt, n_buckets).persist()
    sums = {r[_BCOL]: r["s"] for r in
            sorted_df.groupBy(_BCOL)
                     .agg(F.sum(F.col(value_col).cast("long")).alias("s"))
                     .collect()}
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b] or 0
    out_schema = StructType(sorted_df.schema.fields +
                            [StructField(out_col, LongType())])

    def add_cumsum(it):
        carry_b, carry = None, 0  # consumed tokens of the open bucket
        for pdf in it:
            pdf = pdf.copy()
            start, carry_b, carry = _batch_cumsum(
                pdf[value_col].to_numpy("int64"),
                pdf[_BCOL].to_numpy("int64"), offsets, carry_b, carry)
            pdf[out_col] = start
            yield pdf

    return sorted_df.mapInPandas(add_cumsum, schema=out_schema)


def _batch_cumsum(vals, bs, offsets: dict, carry_b, carry: int):
    """One pandas batch of the distributed exclusive cumsum.

    Rows arrive bucket-sorted, so buckets are contiguous segments; each
    segment's cumsum restarts at its bucket's global offset, and
    ``(carry_b, carry)`` threads the open bucket's consumed count across
    batch boundaries within a task. Returns ``(start, carry_b, carry)``.
    Pure numpy — property-tested against the sequential rule in
    tests/test_packing.py.
    """
    import numpy as np
    if not len(bs):
        return np.empty(0, dtype=np.int64), carry_b, carry
    inc = vals.cumsum() - vals
    # exclusive cumsum restarted at each bucket change
    seg_starts = np.flatnonzero(np.r_[True, bs[1:] != bs[:-1]])
    base_at_seg = inc[seg_starts]
    seg_of_row = np.repeat(np.arange(len(seg_starts)),
                           np.diff(np.r_[seg_starts, len(bs)]))
    local = inc - base_at_seg[seg_of_row]
    off = np.array([offsets[int(b)] for b in bs[seg_starts]],
                   dtype=np.int64)
    start = local + off[seg_of_row]
    if carry_b == bs[0]:
        start[seg_of_row == 0] += carry
    # thread the open bucket's consumed count into the next batch
    consumed = int(vals[seg_of_row == seg_of_row[-1]].sum())
    carry = consumed + (carry if carry_b == bs[-1] and
                        seg_of_row[-1] == 0 else 0)
    return start, int(bs[-1]), carry


def pack_chunked(df: DataFrame, budget: int, id_col: str = "doc_id",
                 token_col: str = "n_tokens", salt: int = 0,
                 n_buckets: int | None = None) -> DataFrame:
    """Concatenate-and-chunk packing: documents are laid out in the
    deterministic order ``(hash(id), id)``, token streams concatenated,
    and cut every ``budget`` tokens (the classic causal-LM data layout —
    documents may straddle a cut; the trainer masks across boundaries or
    not, its choice).

    Adds columns: ``start_offset`` (global token offset of the doc),
    ``pack_id`` (= start_offset // budget), ``pack_offset`` (position
    inside that pack) and ``n_packs_spanned``. Pure integer arithmetic
    over a two-pass prefix sum — invariant to partitioning, cluster size
    and engine (bit-identical in the DuckDB oracle).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    out = _ordered_exclusive_cumsum(
        df, token_col, id_col, salt, "start_offset", n_buckets) \
        .drop(_HCOL, _BCOL)
    b = int(budget)
    start = F.col("start_offset")
    tok = F.col(token_col).cast("long")
    # an empty doc still *occupies* its start position for span math.
    # `div` (integer division on longs), not floor(/): double division
    # loses exactness past 2^53 total tokens, a range a 100-TB corpus
    # actually reaches
    last = start + F.greatest(tok, F.lit(1)) - F.lit(1)
    return (out
            .withColumn("pack_id", F.expr(f"start_offset div {b}"))
            .withColumn("pack_offset", start % b)
            .withColumn("_last_tok", last)
            .withColumn("n_packs_spanned",
                        F.expr(f"_last_tok div {b}") - F.col("pack_id")
                        + F.lit(1))
            .drop("_last_tok"))


def pack_manifest(df: DataFrame, budget: int, id_col: str = "doc_id",
                  token_col: str = "n_tokens", salt: int = 0,
                  n_buckets: int | None = None) -> DataFrame:
    """Per-(pack, doc) slice manifest — what a trainer actually reads to
    assemble pack K: for each pack, the ordered documents contributing
    tokens, with the doc-local token slice ``[tok_start, tok_end)`` and
    the in-pack position of that slice.

    Built on :func:`pack_chunked`'s per-doc layout by exploding each
    document over the packs it spans (``explode(sequence(...))`` — a
    narrow map-only generate over the packed frame, no extra shuffle).
    The arithmetic: inside pack ``p``, a doc whose global token range is
    ``[start, start + n)`` contributes its tokens
    ``[max(0, p*budget - start), min(n, (p+1)*budget - start))`` at
    in-pack offset ``start + tok_start - p*budget``. Zero-token docs
    appear once with an empty slice ``[0, 0)`` (they occupy a position
    in exactly one pack, matching ``n_packs_spanned``).
    """
    packed = pack_chunked(df, budget, id_col=id_col, token_col=token_col,
                          salt=salt, n_buckets=n_buckets)
    b = int(budget)
    start = F.col("start_offset")
    n = F.col(token_col).cast("long")
    p = F.col("pack_id")
    tok_start = F.greatest(F.lit(0).cast("long"), p * b - start)
    tok_end = F.least(n, (p + F.lit(1)) * b - start)
    return (packed
            .withColumn("pack_id",
                        F.explode(F.sequence(p, p + F.col("n_packs_spanned")
                                             - F.lit(1))))
            .withColumn("tok_start", tok_start)
            .withColumn("tok_end", tok_end)
            .withColumn("in_pack_offset", start + F.col("tok_start") - p * b)
            .select(id_col, "pack_id", "in_pack_offset", "tok_start",
                    "tok_end"))


def pack_greedy(df: DataFrame, budget: int, id_col: str = "doc_id",
                token_col: str = "n_tokens", salt: int = 0) -> DataFrame:
    """Greedy no-split packing: walk documents in ``(hash(id), id)``
    order, open a new pack whenever the next document would overflow
    ``budget``; documents larger than the budget get a pack of their own.
    No document is ever split (instruction-tuning / contrastive layouts).

    Adds ``pack_id`` (globally dense) and ``pack_offset`` (token offset
    inside the pack). Greedy fill is a non-associative running state, so
    it runs per partition — but batched, not row-at-a-time: the
    ``_greedy_fill`` kernel binary-searches the token cumsum for each
    pack boundary (O(n_packs·log n) numpy ops per batch). Pack ids are
    globalized with a two-pass offset (pass 1 counts packs per
    partition — same tiny collect as the prefix sum). Pack composition at partition boundaries
    therefore depends on the partitioning (each boundary starts a fresh
    pack); use :func:`pack_chunked` when bit-stable output across
    cluster sizes is required.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    sorted_df = _hash_bucketed_sort(df, id_col, salt,
                                    _resolve_buckets(df, None)).persist()

    def count_packs(it):
        # ONE greedy state across all pandas batches of the partition
        # (state resets at batch boundaries would fabricate pack breaks)
        import pandas as pd
        pid = TaskContext.get().partitionId()
        pack, fill, last = 0, 0, -1
        for pdf in it:
            packs, _, pack, fill = _greedy_fill(
                pdf[token_col].to_numpy("int64"), budget, pack, fill)
            if len(packs):
                last = int(packs[-1])
        # one row per partition: number of packs opened
        yield pd.DataFrame({"pid": [pid], "n_packs": [last + 1]})

    counts_schema = "pid int, n_packs long"
    counts = {r["pid"]: r["n_packs"]
              for r in sorted_df.mapInPandas(count_packs,
                                             schema=counts_schema).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = StructType(sorted_df.schema.fields +
                            [StructField("pack_id", LongType()),
                             StructField("pack_offset", LongType())])

    def assign(it):
        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        pack, fill = 0, 0  # greedy state threads across pandas batches
        for pdf in it:
            pdf = pdf.copy()
            packs, offs, pack, fill = _greedy_fill(
                pdf[token_col].to_numpy("int64"), budget, pack, fill)
            pdf["pack_id"], pdf["pack_offset"] = base + packs, offs
            yield pdf

    return sorted_df.mapInPandas(assign, schema=out_schema) \
                    .drop(_HCOL, _BCOL)


def _greedy_fill(t: "np.ndarray", budget: int, pack: int, fill: int):
    """Batch greedy fill (the sequential rule, vectorized): pack whole
    runs of documents at once by binary-searching the token cumsum for
    the furthest doc that still fits — O(n_packs·log n) numpy ops
    instead of a per-document Python loop, bit-identical to the
    sequential rule (open a new pack when the next doc would overflow;
    close on exact fill; an oversize doc owns its pack).

    Returns ``(pack_idx, pack_offset, end_pack, end_fill)`` with the end
    state threaded so callers can continue across pandas batches.
    """
    import numpy as np
    n = len(t)
    packs = np.empty(n, dtype=np.int64)
    offs = np.empty(n, dtype=np.int64)
    cs = np.concatenate(([0], np.cumsum(t, dtype=np.int64)))
    i = 0
    while i < n:
        x = cs[i] + (budget - fill)  # cumsum value that exactly fills
        m = int(np.searchsorted(cs, x, side="left"))
        # docs i..j-1 continue the pack: up to the exact-fill boundary
        # (inclusive — the pack then closes) else strictly below it
        j = m if (m <= n and cs[min(m, n)] == x) else m - 1
        if j <= i:
            if fill > 0:          # next doc would overflow: fresh pack
                pack, fill = pack + 1, 0
                continue
            j = i + 1             # oversize doc: a pack of its own
        packs[i:j] = pack
        offs[i:j] = fill + (cs[i:j] - cs[i])
        fill += int(cs[j] - cs[i])
        if fill >= budget:        # exactly-full or oversize: close it
            pack, fill = pack + 1, 0
        i = j
    return packs, offs, pack, fill


def assign_shards(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                  salt: int = 0, out_col: str = "shard",
                  pos_col: str = "pos_in_shard") -> DataFrame:
    """Deterministic shard id + dense position within the shard.

    ``shard = hash(id) mod n_shards`` (uniform by construction — no hot
    shard), ``pos_in_shard`` = rank of ``(hash(id), id)`` inside the
    shard, i.e. a reproducible within-shard shuffle order. One shuffle on
    the shard key; the within-shard sort is bounded by the shard size
    (~N/n_shards — pick n_shards so a shard fits a task, exactly as you
    would for output files).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if _HCOL in df.columns:
        raise ValueError(f"input column collides with packing "
                         f"internals: {_HCOL!r}")
    w = Window.partitionBy(out_col).orderBy(F.col(_HCOL).asc(),
                                            F.col(id_col).asc())
    return (df.withColumn(_HCOL, bucket_hash(F.col(id_col), salt))
              .withColumn(out_col, F.pmod(F.col(_HCOL), F.lit(n_shards))
                          .cast("int"))
              .withColumn(pos_col, F.row_number().over(w) - F.lit(1))
              .drop(_HCOL))


def write_shards(df: DataFrame, path: str, n_shards: int,
                 id_col: str = "doc_id", salt: int = 0,
                 fmt: str = "parquet") -> None:
    """Materialize ``n_shards`` balanced, internally-shuffled shard files
    under ``path/shard=K/``. One file per shard (repartition on the shard
    column), rows ordered by ``pos_in_shard`` so a reader streaming shard
    K sees the reproducible shuffled order.
    """
    sharded = assign_shards(df, n_shards, id_col=id_col, salt=salt)
    (sharded.repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "pos_in_shard")
            .write.partitionBy("shard").mode("overwrite")
            .format(fmt).save(path))


def mixture_factor_expr(domain_col: Column,
                        factors: dict[str, float],
                        default_factor: float = 1.0) -> Column:
    """Literal CASE chain ``domain -> repeat factor`` (tiny dict: stays
    inside whole-stage codegen, no join)."""
    if default_factor < 0:
        raise ValueError(f"negative default mixture factor: "
                         f"{default_factor}")
    expr = None
    for dom, f in factors.items():
        if f < 0:
            raise ValueError(f"negative mixture factor for {dom!r}: {f}")
        cond = domain_col == F.lit(dom)
        expr = F.when(cond, F.lit(float(f))) if expr is None \
            else expr.when(cond, F.lit(float(f)))
    return F.lit(float(default_factor)) if expr is None \
        else expr.otherwise(F.lit(float(default_factor)))


def n_copies_expr(id_col: Column, factor: Column, salt: int = 0) -> Column:
    """Deterministic copy count for a fractional repeat factor f:
    ``floor(f)`` copies always, plus one more iff the id's coin hash
    lands below ``floor(frac(f) * 2^31)`` — exact in expectation, exactly
    reproducible, and identical arithmetic in the DuckDB oracle (the
    ``floor`` on the bound avoids engine-specific double->int casts)."""
    whole = F.floor(factor).cast("long")
    frac = factor - whole
    bound = F.floor(frac * F.lit(float(_MOD))).cast("long")
    coin = bucket_hash(id_col, salt + _MIX_SALT)
    return whole + (coin < bound).cast("long")


def mixture_resample(df: DataFrame, domain_col: str,
                     factors: dict[str, float], id_col: str = "doc_id",
                     salt: int = 0, default_factor: float = 1.0,
                     copy_col: str = "copy_idx") -> DataFrame:
    """Reweight the domain mix by deterministic up/down-sampling.

    ``factors`` maps domain -> repeat factor (2.5 = every doc twice plus
    a hash-chosen half a third time; 0.4 = keep a hash-chosen 40%; 0 =
    drop the domain). Each kept copy gets ``copy_col`` in
    ``[0, n_copies)`` so downstream stages (e.g. packing, which needs
    distinct ids) can re-key as ``(id, copy_idx)``. Map-only: a CASE
    lookup, a hash coin, and a narrow ``explode(sequence(...))`` — no
    shuffle, no join, pipelined into the scan at any scale.
    """
    n = n_copies_expr(F.col(id_col),
                      mixture_factor_expr(F.col(domain_col), factors,
                                          default_factor), salt)
    return (df.withColumn("_n_copies", n)
              .filter(F.col("_n_copies") > 0)
              .withColumn(copy_col,
                          F.explode(F.sequence(F.lit(0),
                                               F.col("_n_copies") - 1)))
              .drop("_n_copies"))


def temperature_mixture_factors(df: DataFrame, domain_col: str,
                                tau: float,
                                preserve_total: bool = True
                                ) -> dict[str, float]:
    """Temperature-based domain sampling weights — the public multilingual
    pretraining formulation (Devlin et al. 2019 mBERT exponential
    smoothing; Conneau & Lample 2019 §3.1): with domain shares
    p_i = n_i / N, sample from q_i ∝ p_i^tau. tau < 1 flattens the mix
    (upweights low-resource domains), tau = 1 is the natural mix, tau = 0
    is uniform over domains.

    Returns per-domain repeat factors for :func:`mixture_resample`:
    factor_i = q_i / p_i (scaled to preserve the expected corpus size
    when ``preserve_total``; drop the scaling to get bare q_i weights).
    One tiny groupBy (|domains| rows collect — domains are few by
    definition); the resample itself stays map-only.
    """
    if tau < 0:
        raise ValueError(f"tau must be >= 0, got {tau}")
    rows = df.groupBy(domain_col).agg(F.count("*").alias("n")).collect()
    n_by_dom = {r[domain_col]: int(r["n"]) for r in rows}
    total = sum(n_by_dom.values())
    if not total:
        return {}
    qs = {d: (n / total) ** tau for d, n in n_by_dom.items()}
    z = sum(qs.values())
    out = {}
    for d, n in n_by_dom.items():
        q = qs[d] / z
        out[d] = q * total / n if preserve_total else q
    return out


def temperature_resample(df: DataFrame, domain_col: str, tau: float,
                         id_col: str = "doc_id", salt: int = 0,
                         copy_col: str = "copy_idx") -> DataFrame:
    """:func:`mixture_resample` with factors from
    :func:`temperature_mixture_factors` — one tiny stats aggregate, then
    the map-only deterministic resample."""
    factors = temperature_mixture_factors(df, domain_col, tau)
    return mixture_resample(df, domain_col, factors, id_col=id_col,
                            salt=salt, copy_col=copy_col)
