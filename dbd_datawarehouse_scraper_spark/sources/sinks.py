"""Sinks (SURVEY §2.1): batched writes, side outputs, combine, backup.

The reference hand-rolls batched CSV durability (flush every 20 rows,
scraper_v2.py:1334-1435). Spark's task-level write commit protocol IS
the batch mechanism — one file per partition, atomic job commit — so
``batched_sink`` is a thin wrapper that controls partition count (file
size) instead of reimplementing batching.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F


def partitioned_overwrite(
    df: DataFrame, *cols: str, n_parts: int | None = None
) -> DataFrameWriter:
    """The package's one partitioned overwrite: a writer for ``df``
    partitioned by ``cols``, in the format the caller picks
    (``.parquet(path)``).

    ``df`` is first repartitioned ON the partition values (into
    ``n_parts`` tasks when given), so each value lands in one task —
    one file per value, instead of every input task opening a file in
    every value dir it touches (tasks × values small files). Static
    overwrite: a rewrite that produces fewer partition values (a
    replayed epoch, a fold, a rebuilt index) must truncate the target,
    not merge with stale value dirs under an ambient dynamic
    ``partitionOverwriteMode`` default."""
    keys = [F.col(c) for c in cols]
    parts = df.repartition(n_parts, *keys) if n_parts else df.repartition(*keys)
    return (
        parts.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(*cols)
    )


def batched_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    target_files: int | None = None,
) -> None:
    """Write one file per partition (the reference's 'batch files',
    scraper_v2.py:1334-1353). ``target_files`` coalesces small outputs;
    leave None at scale and let AQE size partitions. ``partition_by``
    writes through :func:`partitioned_overwrite` (one file per value;
    ``target_files`` then caps its tasks)."""
    if partition_by:
        writer = partitioned_overwrite(
            df, *partition_by, n_parts=target_files
        ).mode(mode)
    else:
        out = df.coalesce(target_files) if target_files else df
        writer = out.write.mode(mode)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    else:
        writer.parquet(path)


def side_output_sink(
    main: DataFrame,
    side: DataFrame,
    main_path: str,
    side_path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """Two-channel sink: fact table + not-found reject channel
    (scraper_v2.py:1346-1353). In streaming the same pair writes from
    one ``foreachBatch``. ``target_files`` bounds the file count of the
    main channel (the CLI's --batch-size); the reject channel is small
    and always coalesces to one file when a target is set."""
    batched_sink(main, main_path, fmt=fmt, mode=mode, target_files=target_files)
    batched_sink(
        side, side_path, fmt=fmt, mode=mode,
        target_files=1 if target_files else None,
    )


def backup_on_overwrite(path: str, force: bool = False) -> str | None:
    """Timestamped copy before overwrite unless forced
    (scraper_v2.py:1371-1383). Returns the backup path if one was made."""
    if force or not os.path.exists(path):
        return None
    stamp = datetime.now().strftime("%Y%m%d_%H%M%S")
    backup = f"{path}.backup_{stamp}"
    if os.path.isdir(path):
        shutil.copytree(path, backup)
    else:
        shutil.copy2(path, backup)
    return backup


def compact_output(
    spark,
    path: str,
    target_mb: int = 512,
    fmt: str = "parquet",
) -> int:
    """[EXT] Small-file compaction: rewrite an output directory into
    ~``target_mb``-sized files. Incremental sinks (micro-batch appends,
    streaming epochs) accumulate many small files; at scale that
    degrades every downstream scan (per-file open cost, tiny row
    groups, starved vectorized readers). Returns the new file count.

    CONSTRAINTS (explicit, not implied): this utility is for a LOCAL
    POSIX filesystem with an exclusive writer — ``os.rename``/``glob``
    do not exist as atomic operations on object stores, and the
    two-rename swap below has a window where readers see no directory
    at all. On a cluster, compact via the table format's own rewrite
    (e.g. a transactional file-format compaction) or swap a versioned
    directory pointer; at 100 TB run this per partition directory, not
    per table. A crash between the two renames strands the data at
    ``path.__compact_old__`` — call :func:`recover_compaction` at
    startup to roll back.

    FLAT DATA DIRECTORIES ONLY: the rewrite reads with a plain
    ``spark.read`` and writes flat, so a hive-partitioned layout
    (``col=value`` subdirs) would be flattened, any other nested
    directory silently dropped, and sidecar markers (a streaming
    store's ``_schema``) lost — all irreversibly once the swap's
    ``rmtree`` runs. Structured directories are refused up front;
    compact their leaf directories individually (epoch stores have
    :func:`fold_epoch_dirs`, which preserves their protocol)."""

    def _write(tmp: str, n_files: int) -> None:
        reader = (
            spark.read.option("header", True).csv(path)
            if fmt == "csv"
            else spark.read.parquet(path)
        )
        batched_sink(reader, tmp, fmt=fmt, target_files=n_files)

    return _compact_swap(path, target_mb, _write)


def _assert_flat_data_dir(path: str) -> None:
    """Refuse to rewrite-and-swap a directory whose structure the flat
    rewrite would destroy: hive partition subdirs get flattened into a
    column, other subdirs are silently dropped by ``spark.read``, and
    sidecar markers (underscore-prefixed, e.g. a streaming out_path's
    ``_schema``) are not carried over — each a permanent loss after
    the swap deletes the original."""
    for entry in sorted(os.listdir(path)):
        if entry.startswith("."):
            continue
        # underscore check FIRST: this package's markers (_schema,
        # _FOLDED_GEN) are themselves small json DIRECTORIES
        if entry.startswith("_") and entry != "_SUCCESS":
            raise ValueError(
                f"refusing to compact {path}: sidecar marker {entry!r} "
                "would be dropped by the rewrite (the directory looks "
                "like a versioned store output, not a plain table)."
            )
        if os.path.isdir(os.path.join(path, entry)):
            kind = (
                "a hive-partitioned (col=value) layout"
                if "=" in entry
                else "nested directories"
            )
            raise ValueError(
                f"refusing to compact {path}: it contains {kind} "
                f"({entry!r}) which a flat rewrite-and-swap would "
                "destroy. Compact leaf directories individually; for "
                "streaming epoch stores use fold_epoch_dirs, which "
                "preserves the store protocol."
            )


def _compact_swap(path: str, target_mb: int, write_tmp) -> int:
    """The shared rewrite-and-swap protocol behind
    :func:`compact_output` and ``layout.optimize_table``: recover a
    crashed prior attempt, refuse structured directories, size the
    target file count from the current bytes, write the replacement
    via ``write_tmp(tmp_path, n_files)``, then two-rename swap and
    delete the original. Kept in ONE place so the crash-safety
    contract (marker names, rename order, :func:`recover_compaction`)
    cannot drift between callers."""
    import glob

    if target_mb <= 0:
        raise ValueError(f"target_mb must be positive, got {target_mb}")
    recover_compaction(path)  # roll back any crashed prior attempt
    _assert_flat_data_dir(path)
    files = [
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = int(max(1, -(-total_bytes // (target_mb * 1024 * 1024))))
    tmp = f"{path}.__compact_tmp__"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale tmp from a crash before the swap
    write_tmp(tmp, n_files)
    old = f"{path}.__compact_old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def recover_compaction(path: str) -> bool:
    """Roll back a compaction that crashed mid-swap.

    ``compact_output`` renames ``path`` → ``path.__compact_old__`` then
    ``path.__compact_tmp__`` → ``path``; a crash between the renames
    leaves only ``__compact_old__`` (the intact original). Restore it.
    Returns True if a recovery happened. Idempotent; called by
    ``compact_output`` itself, and safe to call at process startup."""
    old = f"{path}.__compact_old__"
    if os.path.exists(old):
        if os.path.exists(path):
            # swap completed; old is just debris from a crash before
            # the final cleanup rmtree
            shutil.rmtree(old)
            return False
        os.rename(old, path)
        return True
    return False


def combine_batches(
    spark, batches_path: str, out_path: str, fmt: str = "parquet"
) -> int:
    """Glob batch files → one combined output (+ row count), the
    reference's --combine-only utility (scraper_v2.py:1356-1420).
    Reading a directory is already a union; the single output file is a
    deliberate small-result convenience (coalesce(1))."""
    df = (
        spark.read.option("header", True).csv(batches_path)
        if fmt == "csv"
        else spark.read.parquet(batches_path)
    )
    batched_sink(df, out_path, fmt=fmt, target_files=1)
    return df.count()


def recover_epoch_fold(spark, path: str) -> bool:
    """Complete or roll back an epoch fold (:func:`fold_epoch_dirs`)
    that crashed mid-protocol, over the Hadoop FS API so streaming
    stores on any filesystem recover. Returns True if any repair
    happened. Idempotent.

    The tiered fold moves COMMITTED carried generations into the tmp
    dir before the swap, so tmp contents can no longer be dropped
    blindly (round-5 review — the pre-tiering recovery deleted a
    leftover tmp, which with carried dirs inside would have destroyed
    committed dedup history). A commit marker (``<path>.__fold_commit__``,
    written only once tmp is COMPLETE) decides direction:

    - marker present → roll FORWARD: finish the swap (path→old,
      tmp→path, drop old, drop marker). Every state along the forward
      sequence is distinguishable: tmp existing means path is still
      the pre-swap dir.
    - marker absent → roll BACK: tmp is incomplete. Each ``epoch=*``
      under tmp either does not exist under path (a carried dir —
      rename it back) or collides with a live source dir (a freshly
      written, possibly partial, fold generation — its sources are
      intact in path, so drop it; a new generation is always named
      ``epoch=<max folded>``, which is a source still in path). Then
      drop tmp. Legacy ``old`` debris without a marker is handled as
      before (restore if path vanished, else drop)."""
    from ..fsutil import fs_delete, fs_exists, fs_list_names, fs_rename

    old = f"{path}.__fold_old__"
    tmp = f"{path}.__fold_tmp__"
    commit = f"{path}.__fold_commit__"
    repaired = False
    if fs_exists(spark, commit):
        # FORWARD: tmp was complete when the marker was written
        if fs_exists(spark, tmp):
            if fs_exists(spark, path):
                fs_rename(spark, path, old)
            fs_rename(spark, tmp, path)
            repaired = True
        if fs_exists(spark, old):
            fs_delete(spark, old)
            repaired = True
        fs_delete(spark, commit)
        return repaired
    if fs_exists(spark, old):
        if fs_exists(spark, path):
            fs_delete(spark, old)
        else:
            fs_rename(spark, old, path)
        repaired = True
    if fs_exists(spark, tmp):
        # BACKWARD: restore carried dirs, drop partial generations
        if fs_exists(spark, path):
            for n in fs_list_names(spark, tmp):
                if not n.startswith("epoch="):
                    continue
                if fs_exists(spark, f"{path}/{n}"):
                    fs_delete(spark, f"{tmp}/{n}")
                else:
                    fs_rename(spark, f"{tmp}/{n}", f"{path}/{n}")
        fs_delete(spark, tmp)
        repaired = True
    return repaired


def check_fold_threshold(name: str, value: int | None) -> None:
    """Refuse a negative fold threshold. ``None`` and ``0`` mean
    "recover, never fold" and a positive count folds (see
    :func:`fold_epoch_dirs`); a negative one has no meaning. Store
    wrappers call this at stream start, so a bad value raises there
    instead of as an async ``StreamingQueryException`` mid-stream."""
    if value is not None and value < 0:
        raise ValueError(
            f"{name} must be None, 0 (never fold) or a positive epoch "
            f"count, got {value}"
        )


def fold_epoch_dirs(
    spark,
    path: str,
    below_epoch: int,
    min_dirs: int = 8,
    target_files: int = 8,
    partition_col: str | None = None,
    merge=None,
) -> bool:
    """[EXT] Fold committed ``epoch=K`` generations of a streaming
    store into ONE — the store-lifecycle counterpart of
    :func:`compact_output`. Incremental stores (the near-dup signature
    store, the shard packer's output) append one parquet directory per
    epoch; after thousands of epochs every history probe is a
    small-files scan. This folds committed ``epoch=K`` dirs
    (``K < below_epoch``) into ``epoch=<max folded K>`` generations
    of ~``target_files`` files each, preserving rows exactly — unless
    the caller passes ``merge`` (a ``DataFrame -> DataFrame`` reducer),
    in which case each folded generation is the MERGE of its members.
    For delta stores whose consumers re-aggregate the whole history per
    epoch (the segment/substring frequency stores: union of deltas →
    groupBy-sum), an ASSOCIATIVE merge shrinks every folded generation
    to one row per key while every downstream total is bit-unchanged —
    without it, folding bounds the store's file count but not its ROW
    count, and the per-epoch re-aggregation still shuffles every delta
    ever written (the round-11 verdict's striking-cost class, round
    12). ``merge`` must be associative and idempotent over regrouping
    (groupBy-sum / min / max are; averages and raw counts of rows are
    NOT — keep sums and derive ratios downstream).

    ``partition_col`` names a partitioned store's one partition column
    (the epoch dirs hold ``<partition_col>=v`` subdirs): its
    generations are rewritten through :func:`partitioned_overwrite`,
    one file per value, so pruned reads keep working after a fold
    (``merge`` applies to flat stores only). Members that hold no data
    (:func:`..fsutil.fs_holds_data` — an all-struck partitioned epoch)
    are skipped.

    Replay safety: ``foreachBatch`` can replay at most the CURRENT
    epoch, so callers pass ``below_epoch=<current epoch_id>`` — a
    replayed epoch's own (uncommitted, about-to-be-rewritten) dir is
    never folded, and re-folding on replay is a no-op-shaped rewrite
    of already-folded generations. No-op below ``min_dirs`` eligible
    dirs so steady-state epochs don't pay a rewrite.

    Every epoch store calls this once per epoch, unconditionally; a
    falsy ``min_dirs`` (``None`` or ``0``) means "recover, never
    fold"; a negative one raises before anything is written. Recovery
    must not depend on folding: a crash mid fold-swap leaves the store
    moved aside (``<path>.__fold_old__``), which a run without
    recovery reads as "no history" — readmitting duplicates and
    stranding the committed generations (round-5 review).

    Tiered (round-5 review): folding ALL eligible dirs every time
    re-reads and rewrites the ever-growing folded generation on every
    cycle — O(N²/min_dirs) total I/O over the store's life. Folded
    generations therefore carry a ``_FOLDED_GEN`` marker and fold in
    two tiers, LSM-style:

    - **minor** — when ≥ ``min_dirs`` UNMARKED eligible dirs exist,
      fold only those into one new marked generation (the big old
      generations are not touched);
    - **major** — when the marked eligible generations themselves
      number ≥ ``min_dirs`` (and at least two), fold those into one;
      a lone marked generation is carried, so a replay with nothing
      new rewrites nothing.

    A row is rewritten once by a minor fold and once per major cycle —
    total I/O ~N²/(2·min_dirs²) over the store's life versus
    ~N²/(2·min_dirs) untiered (a min_dirs× reduction; truly
    log-amortized folding needs unbounded LSM levels, deliberately not
    built — two tiers keep recovery enumerable).

    Crash safety mirrors :func:`compact_output`'s two-rename swap
    (write tmp → move aside → move in → drop old) with
    :func:`recover_epoch_fold` run first; on POSIX/HDFS the renames
    are atomic, on object stores use the table format's own compaction
    instead. A crash mid-fold can drop a REPLAYING current epoch's
    leftover dir with the tmp — harmless by the replay contract: that
    dir was uncommitted and the replay rewrites it with overwrite.
    Committed generations are never exposed to that window (they move
    in one rename). Returns True iff a fold happened."""
    from ..fsutil import (
        fs_delete, fs_epoch_ids, fs_exists, fs_holds_data, fs_rename, fs_touch,
    )

    check_fold_threshold("min_dirs", min_dirs)
    recover_epoch_fold(spark, path)
    if not min_dirs:
        return False
    epochs = sorted(fs_epoch_ids(spark, path))
    eligible = [e for e in epochs if e < below_epoch]
    marked = [
        e for e in eligible
        if fs_exists(spark, f"{path}/epoch={e}/_FOLDED_GEN")
    ]
    unmarked = [e for e in eligible if e not in set(marked)]
    fold_minor = len(unmarked) >= min_dirs
    # one marked generation has nothing to fold into: rewriting it into
    # itself (min_dirs=1) would only rename its files on every call
    fold_major = len(marked) >= max(min_dirs, 2)
    if not (fold_minor or fold_major):
        return False
    tmp, old = f"{path}.__fold_tmp__", f"{path}.__fold_old__"
    commit = f"{path}.__fold_commit__"

    def write_gen(group):
        kmax = max(group)
        # a member all of whose rows were struck holds only markers
        # (unreadable); fold the data-bearing members, and when there
        # are none the generation is just its markers (still one dir
        # replacing many)
        data = [
            f"{path}/epoch={e}"
            for e in group
            if fs_holds_data(spark, f"{path}/epoch={e}")
        ]
        dst = f"{tmp}/epoch={kmax}"
        if data and partition_col:
            # a multi-dir read of partitioned dirs needs the table root
            # declared (basePath); the epoch column it surfaces is not
            # part of the rows
            rows = spark.read.option("basePath", path).parquet(*data)
            partitioned_overwrite(rows.drop("epoch"), partition_col).parquet(
                dst
            )
        elif data:
            rows = spark.read.parquet(*data)
            if merge is not None:
                rows = merge(rows)
            rows.coalesce(target_files).write.mode("overwrite").parquet(dst)
        else:
            fs_touch(spark, f"{tmp}/epoch={kmax}/_SUCCESS")
        fs_touch(spark, f"{tmp}/epoch={kmax}/_FOLDED_GEN")
        return kmax

    carried = set()
    if fold_minor:
        write_gen(unmarked)
    else:
        carried.update(unmarked)
    if fold_major:
        write_gen(marked)
    else:
        carried.update(marked)
    # carry untouched dirs (live replay-window dirs + the non-folding
    # tier) across the swap by rename — no rewrite
    for e in epochs:
        if e >= below_epoch or e in carried:
            fs_rename(spark, f"{path}/epoch={e}", f"{tmp}/epoch={e}")
    # tmp is COMPLETE: the commit marker flips recovery from roll-back
    # to roll-forward — from here every crash finishes the swap instead
    # of undoing it (carried committed dirs now live only in tmp, so
    # backward recovery past this point would lose them)
    fs_touch(spark, commit)
    fs_rename(spark, path, old)
    fs_rename(spark, tmp, path)
    fs_delete(spark, old)
    fs_delete(spark, commit)
    return True


def jsonl_sink(
    df,
    path: str,
    mode: str = "overwrite",
    target_files: int | None = None,
    compression: str | None = "gzip",
    partition_by: tuple[str, ...] = (),
) -> None:
    """[EXT] JSONL export — the shard format training loaders consume.
    Defaults to gzip (the public corpora ship .jsonl.gz); pass
    ``compression=None`` for plain text. ``partition_by`` pairs with
    pack_shards' shard column so each token-budget shard lands in its
    own directory; ``target_files`` is for small outputs only — at
    scale leave it None and let the upstream partitioning (range
    exchange, AQE) decide file counts."""
    out = df.coalesce(target_files) if target_files else df
    writer = out.write.mode(mode)
    if partition_by:
        # static overwrite: a replayed epoch whose repack emits fewer
        # shard= dirs must truncate the epoch dir, not merge with the
        # stale shards under an ambient dynamic default (round-12
        # review — the same phantom-partition class as the stores)
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "static"
        )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
