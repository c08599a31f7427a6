"""[EXT] Token-budget shard packing for training-data output.

Pre-training pipelines write curated documents into shards of roughly
equal TOKEN count (not file size): the trainer streams shards whole, so
token balance is what sets step-time balance. The packing rule here is
the standard blocked one: lay documents out in a deterministic total
order, give each a byte-offset-like running token offset, and cut a
shard boundary every ``budget`` tokens —

    shard(doc) = floor(exclusive_prefix_sum(n_tokens) / budget)

A document straddling a boundary belongs to the shard its START offset
falls in, so shards can overflow by at most one document (exactly like
fixed-size block layout). Deterministic: same corpus + same order
column → same shards, on any cluster or partitioning.

The global prefix sum is the interesting part at 100 TB. A single
``Window.orderBy(...)`` with no partition key collapses the whole corpus
onto ONE reducer — the classic scale killer. This operator uses the
canonical two-level scan instead:

1. range-repartition by the order column (Spark samples boundaries —
   the same machinery ``sortWithinPartitions`` uses);
2. per-partition local prefix sums via a window PARTITIONED by the
   range-partition id (parallel across partitions);
3. per-partition totals (one row per partition — bounded, tiny) get
   their own prefix sum and are broadcast-joined back as offsets.

Every step is parallel; the only serialized data is one row per
partition. The result column is integer-exact, so the DuckDB oracle
(a plain window cumsum) value-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_shards(
    docs: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 1_000_000,
    order_col: str = "doc_id",
    shard_col: str = "shard",
    num_partitions: int | None = None,
    start_offset: int | dict = 0,
    group_col: str | None = None,
) -> DataFrame:
    """Assign every document a shard id under a token ``budget``.

    ``order_col`` must be a unique, totally ordered key (document ids);
    the packing is defined BY that order, which is what makes it
    deterministic and retry-safe. ``start_offset`` shifts the global
    token offset — the incremental packer
    (streaming/sharding.py) passes the cursor from previous epochs so
    shard ids continue instead of restarting at 0. Returns the input
    columns plus ``shard_col`` (long).

    ``group_col`` packs several independent shard streams in ONE pass
    (the incremental exporter's splits): every group gets the shards
    it would get alone, and ``start_offset`` is then a dict
    ``{group value: offset}`` (missing groups start at 0). The range
    exchange sorts on (group, order); the local-prefix window is
    partitioned by (``_pid``, group), because one range partition can
    hold the tail of one group and the head of the next; the offsets
    window restarts per group; each group's start offset is a literal
    in the plan. The offsets stay IN the plan, next to the prefixes
    they must match: computed on the driver, they would be stale as
    soon as a re-built plan re-samples the range boundaries (see
    below), while an in-plan offsets table shifts with them.

    Pins ONE tracked persist (the ranged, prefix-summed relation —
    both the totals aggregate and the final join consume it; see the
    inline note). Call ``caching.release_caches()`` after the
    consuming action, like every persisting operator here.

    ``_pid`` (``spark_partition_id()`` after the range exchange) is a
    SEMANTIC grouping key here, which is safe against
    recompute-after-eviction: the range boundaries come from
    ``RangePartitioner``'s reservoir sample, whose seed is derived from
    the sampled RDD's id and partition index — recomputing the same
    persisted lineage replays the same RDD ids over the same source
    rows, so the boundaries, each row's partition, and therefore
    ``_pid`` are bit-identical on recompute. (A RE-BUILT plan over the
    same data may sample different boundaries, but then BOTH the local
    prefixes and the offsets table shift consistently, and the final
    ``offset + local_prefix`` sum — hence the shard id — is unchanged;
    pinned by ``tests/test_sharding.py`` recompute/partitioning
    invariance.)
    """
    from ..caching import tracked_persist

    spark = docs.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    keys = [] if group_col is None else [group_col]
    ranged = docs.repartitionByRange(
        n_parts, *[F.col(c) for c in keys + [order_col]]
    ).withColumn("_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("_pid", *keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Persisted because BOTH consumers need it (the totals aggregate
    # and the final join) and Spark cannot reuse the range exchange
    # between them: repartitionByRange samples its boundaries with a
    # per-instance seed, so the two exchanges are not recognized as
    # identical and the totals branch would re-scan, re-shuffle, and
    # re-sort the whole corpus (verified: ReusedExchange never fires).
    # One cache write/read beats a second full scan+sort at any scale.
    # Tracked — callers release_caches() after the consuming action.
    local = tracked_persist(
        ranged.withColumn(
            "_local_prefix", F.coalesce(F.sum(token_col).over(w_local), F.lit(0))
        )
    )

    # one row per (range partition, group); the window below runs over
    # ~n_parts rows per group, so "unbounded" here is bounded by the
    # partition count
    totals = local.groupBy("_pid", *keys).agg(F.sum(token_col).alias("_ptotal"))
    w_parts = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_offset", F.coalesce(F.sum("_ptotal").over(w_parts), F.lit(0))
    ).select("_pid", *keys, "_offset")
    if group_col is None:
        start = F.lit(start_offset).cast("long")
    else:
        start = F.lit(0).cast("long")
        if start_offset:
            starts = F.create_map(
                *[
                    c
                    for g, off in start_offset.items()
                    for c in (F.lit(g), F.lit(off).cast("long"))
                ]
            )
            start = F.coalesce(starts[F.col(group_col)], start)

    # 64-bit integer division (SQL `div`), NOT floor(double /): every
    # operand is a long, and past ~2^53 cumulative tokens the double
    # rounding of `/` could misplace a shard boundary — at 100 TB the
    # running token offset crosses 2^53 (~9e15) within ~20T documents
    # of 500 tokens, so the integer path is a scale requirement, not
    # pedantry.
    out = (
        local.join(F.broadcast(offsets), ["_pid", *keys])
        .withColumn("_tot_off", start + F.col("_offset") + F.col("_local_prefix"))
        .withColumn(shard_col, F.expr(f"_tot_off div {int(budget)}L"))
    )
    # the join puts its keys first; restore the input column order
    return out.select(*docs.columns, shard_col)


def shuffle_order_key(id_col: str, salt: str):
    """THE one deterministic-shuffle order key (the batch and stream
    exporters both call it, so the same salt can never produce two
    different shard layouts): ``sha256('shuffle:<salt>:' || id)`` —
    pack in this order and shard contents are pseudo-random w.r.t.
    document order yet bit-stable per salt."""
    from pyspark.sql import functions as F

    return F.sha2(
        F.concat(F.lit(f"shuffle:{salt}:"), F.col(id_col).cast("string")),
        256,
    )
