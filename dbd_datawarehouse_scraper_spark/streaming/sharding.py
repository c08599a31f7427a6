"""[EXT] Incremental token-budget shard packing under ``foreachBatch``.

The streaming counterpart of :func:`operators.sharding.pack_shards`:
curated documents arrive in epochs, and each epoch's shard layout must
CONTINUE the global token offset where the previous epoch stopped —
otherwise every epoch restarts at shard 0 and the trainer sees
colliding shard ids. The cursor (one row: the running token offset) is
the only cross-epoch state, persisted next to the output as a one-row
JSON dataset that the driver reads and writes through the Hadoop FS
handle (fsutil.fs_read_json_row / fs_write_json_row — no Spark job):

- epoch N reads the cursor (explicit Hadoop-FS existence check — a
  corrupted cursor FAILS the epoch, it never silently restarts at 0,
  the same loud-failure contract as streaming/near_dedup.py);
- packs its batch with the batch-local two-level prefix sum PLUS the
  cursor offset (the batch plan is identical to the batch operator —
  range partitions, per-partition window sums, tiny offsets table);
- writes survivor rows to ``out_path/epoch=N`` (epoch-suffixed
  overwrite: replays rewrite themselves, so a crashed epoch stays
  idempotent) and the advanced cursor to an epoch-suffixed cursor
  file, promoting it to ``cursor`` last — the promotion is the commit
  point, so a crash between data write and promotion replays cleanly.

``foreachBatch`` is at-least-once, so BOTH replay windows must be
idempotent, and the cursor is keyed by epoch to make them so:

- crash BEFORE promotion: the replayed epoch reads the previous
  epoch's cursor, repacks from the same start offset, and rewrites
  ``out_path/epoch=N`` identically — plain overwrite idempotency;
- crash AFTER promotion but before Spark's streaming commit-log write
  (or an ``availableNow`` restart whose last batch promoted but never
  committed): the cursor now records ``(epoch_id=N, start_offset,
  next_offset)``, so the replay of epoch N detects its own promotion
  and repacks from ``start_offset`` — NOT from the already-advanced
  ``next_offset`` — then re-promotes the identical cursor. Without
  the epoch key this replay would shift every shard id in epoch N and
  double-advance the offset for every later epoch.
A cursor whose recorded epoch is AHEAD of the replayed epoch by more
than the replay window (``cursor.epoch_id > epoch_id``) means history
was lost; that fails loudly rather than guessing an offset.

Grouped packing (``pack_epoch(split_col=...)``, the incremental
exporter's train/val/... splits): each split is its own shard stream
with its own output dir and cursor, but one epoch packs them all in ONE
grouped ``pack_shards`` pass — one range exchange on (split, order
key), one offsets table that restarts per split, and each split's
cursor start as a literal in the plan. The offsets are not computed on
the driver: a plan re-built after ``release_caches()`` re-samples the
range boundaries, and only offsets computed in the same plan as the
prefixes follow them (see ``pack_shards``). All splits' token totals
come from one aggregate over the packed relation, and the cursors are
promoted only after every split's output is written; each split's
cursor keeps its own epoch key, so a crash after promoting some
splits' cursors but not others replays each split correctly.

A batch run of pack_shards over the concatenation of all epochs (in
epoch, then order-column order) produces the same shard for every
document — pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..caching import pool_mark, release_since, tracked_persist
from ..fsutil import (
    fs_delete,
    fs_exists,
    fs_list_names,
    fs_read_json_row,
    fs_write_json_row,
)
from ..operators.sharding import pack_shards
from ..sources.sinks import check_fold_threshold, jsonl_sink
from ._store import EpochDirs, run_epochs

_CURSOR_SCHEMA = (
    "epoch_id LONG, start_offset LONG, next_offset LONG, budget LONG"
)


def _read_cursor(spark, path: str):
    """Return the promoted cursor row, or ``None`` if no cursor exists.

    Cursors written before the epoch-keyed format (``next_offset`` +
    ``budget`` only) read back with ``epoch_id`` null; they are
    accepted (``epoch_id`` treated as "unknown, never matches a replay")
    so an existing store keeps working — the first new-format promotion
    upgrades it in place.
    """
    if not fs_exists(spark, f"{path}/cursor"):
        return None
    row = fs_read_json_row(spark, f"{path}/cursor", _CURSOR_SCHEMA)
    if row is None or row["next_offset"] is None or row["budget"] is None:
        # the cursor dir exists but holds no readable row (torn write,
        # manual tampering): restarting silently at offset 0 would
        # renumber every shard — fail the epoch instead
        raise ValueError(
            f"shard cursor at {path}/cursor exists but is unreadable — "
            "restore it from the latest cursor-epoch-N snapshot next to "
            "it (or wipe cursor AND output to restart packing from 0)."
        )
    return row


def stream_pack_shards(
    stream_docs: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint: str,
    token_col: str = "n_tokens",
    budget: int = 1_000_000,
    order_col: str = "doc_id",
    shard_col: str = "shard",
    available_now: bool = True,
    fold_output_after: int | None = 16,
    keep_cursor_snapshots: int = 4,
) -> StreamingQuery:
    """Start the incremental packer. Rows land in ``out_path/epoch=N``
    with ``shard_col`` continuing across epochs; the cursor lives under
    ``state_path``. The budget is pinned by the cursor — restarting
    with a different budget raises (shards packed under two budgets
    interleave nonsensically).

    Store lifecycle: once ``fold_output_after`` committed ``epoch=N``
    output generations accumulate they are folded into one
    (sources/sinks.py fold_epoch_dirs — shard ids live in the rows, so
    folding is consumer-invisible), and cursor snapshots older than the
    ``keep_cursor_snapshots`` most recent are pruned; both touch only
    epochs below the current one, so the replay window is preserved."""
    check_fold_threshold("fold_output_after", fold_output_after)
    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        pack_epoch(
            spark, batch_df, epoch_id, out_path, state_path,
            token_col=token_col, budget=budget, order_col=order_col,
            shard_col=shard_col, fold_output_after=fold_output_after,
            keep_cursor_snapshots=keep_cursor_snapshots,
        )

    return run_epochs(stream_docs, process, checkpoint, available_now)


def _start_offset(spark, state_path: str, epoch_id: int, budget: int) -> int:
    """The token offset epoch ``epoch_id`` packs from, per the cursor
    under ``state_path`` (0 for a fresh packer); see the module
    docstring for the replay rules."""
    state = _read_cursor(spark, state_path)
    if state is None:
        return 0
    if state["budget"] != budget:
        raise ValueError(
            f"shard cursor at {state_path} was written with "
            f"budget={state['budget']}, this run uses {budget}; "
            "shards packed under two budgets interleave — wipe "
            "the output and cursor or rerun with the stored "
            "budget."
        )
    if state["epoch_id"] is not None and state["epoch_id"] == epoch_id:
        # foreachBatch is at-least-once: this epoch already ran
        # to completion (its cursor was promoted) but Spark's
        # commit log missed the commit, so it is replaying.
        # Repack from the epoch's ORIGINAL start offset — using
        # the promoted next_offset would shift this epoch's
        # shard ids and double-advance every later epoch.
        return state["start_offset"]
    if state["epoch_id"] is not None and state["epoch_id"] > epoch_id:
        raise ValueError(
            f"shard cursor at {state_path} records epoch "
            f"{state['epoch_id']} but epoch {epoch_id} is "
            "replaying — either the checkpoint was reset "
            "against an existing cursor (which would re-pack "
            "already-packed documents) or more than the "
            "one-epoch replay window was lost; restore the "
            f"matching cursor-epoch-{max(epoch_id - 1, 0)} "
            "snapshot to cursor, or wipe cursor AND output to "
            "restart packing from 0."
        )
    return state["next_offset"]


def pack_epoch(
    spark,
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    state_path: str,
    token_col: str = "n_tokens",
    budget: int = 1_000_000,
    order_col: str = "doc_id",
    shard_col: str = "shard",
    fold_output_after: int | None = 16,
    keep_cursor_snapshots: int = 4,
    fmt: str = "parquet",
    drop_cols: tuple = (),
    split_col: str | None = None,
    splits: tuple = (),
) -> None:
    """One epoch of the incremental packer, as a plain function so
    composed incremental pipelines (streaming/export.py) can run it
    inside their own ``foreachBatch``. Same cursor, replay, folding,
    and promotion-last semantics as the stream wrapper. ``fmt="jsonl"``
    writes gzip JSONL partitioned by the shard column
    (``epoch=N/shard=<n>/``, the trainer-facing layout) instead of
    plain parquet; both are epoch-suffixed overwrites, so replay
    idempotence is format-independent. ``drop_cols`` names bookkeeping
    columns (e.g. a shuffle-order key) to exclude from the written
    rows AFTER packing — they may serve as ``order_col``.

    ``split_col`` packs one independent shard stream per label in
    ``splits`` (the exporter's train/val/... splits) in ONE grouped
    ``pack_shards`` pass: label ``L`` has its own output
    ``out_path/<split_col>=L/epoch=N`` and its own cursor under
    ``state_path/<split_col>=L``, exactly as if packed alone, and the
    split column itself is not written. A label with no rows this
    epoch still gets its (empty) epoch dir and a cursor advanced by 0.
    All labels' token totals come from one aggregate over the packed
    relation.

    Folding needs parquet output: ``fmt="jsonl"`` with a positive
    ``fold_output_after`` is refused before anything is folded or
    written (the flat parquet fold cannot read the ``shard=``-partitioned
    JSONL dirs, and every replay would fail the same way)."""
    if fmt == "jsonl" and fold_output_after:
        raise ValueError(
            "pack_epoch folds parquet output only: fmt='jsonl' needs "
            f"fold_output_after=None or 0, got {fold_output_after}"
        )
    if split_col is None:
        streams = {None: (out_path, state_path)}
    else:
        streams = {
            label: (
                f"{out_path}/{split_col}={label}",
                f"{state_path}/{split_col}={label}",
            )
            for label in splits
        }
    outs = {
        label: EpochDirs(
            out, "shard output",
            "overwriting committed epochs would renumber packed shards",
        )
        for label, (out, _) in streams.items()
    }
    for label, (_, state) in streams.items():
        outs[label].fold(spark, epoch_id, fold_output_after)
        if keep_cursor_snapshots is not None:
            snaps = sorted(
                int(n.rsplit("-", 1)[1])
                for n in fs_list_names(spark, state)
                if n.startswith("cursor-epoch-")
            )
            for e in snaps[:-keep_cursor_snapshots or None]:
                if e < epoch_id:
                    fs_delete(spark, f"{state}/cursor-epoch-{e}")
    mark = pool_mark()
    try:
        starts = {
            label: _start_offset(spark, state, epoch_id, budget)
            for label, (_, state) in streams.items()
        }
        # persisted: every output write and the totals aggregate below
        # read it (release_since reclaims it with pack_shards' own pin)
        packed = tracked_persist(
            pack_shards(
                batch_df, token_col=token_col, budget=budget,
                order_col=order_col, shard_col=shard_col,
                start_offset=starts[None] if split_col is None else starts,
                group_col=split_col,
            ).drop(*drop_cols)
        )
        total = F.coalesce(F.sum(token_col), F.lit(0))
        if split_col is None:
            totals = {None: packed.agg(total).first()[0]}
        else:
            totals = dict(
                packed.groupBy(split_col).agg(total).collect()
            )
        for label, out in outs.items():
            rows = packed
            if split_col is not None:
                rows = packed.filter(F.col(split_col) == label).drop(split_col)
            if fmt == "jsonl":
                jsonl_sink(rows, out.path(epoch_id), partition_by=(shard_col,))
            else:
                out.write(rows, epoch_id)
        # advance + promote each cursor (promotion = commit point), only
        # after every output is written; the epoch key makes
        # re-promotion on replay a no-op rewrite
        for label, (_, state) in streams.items():
            offset = starts[label]
            cursor = (
                int(epoch_id), int(offset),
                int(offset + totals.get(label, 0)), int(budget),
            )
            for name in (f"cursor-epoch-{epoch_id}", "cursor"):
                fs_write_json_row(
                    spark, f"{state}/{name}", _CURSOR_SCHEMA, cursor
                )
    finally:
        release_since(mark)
