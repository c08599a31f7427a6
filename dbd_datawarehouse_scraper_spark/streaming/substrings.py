"""[EXT] Incremental exact-substring dedup: a window-hash statistics
store fed by ``foreachBatch``.

The streaming counterpart of
:func:`..operators.substrings.substring_dedup`. Documents arrive in
epochs; a ``min_len``-token window is duplicated once it has been seen
in ≥ ``min_docs`` distinct documents ACROSS ALL EPOCHS SO FAR (or ≥ 2
times anywhere under ``within_doc``), and every epoch's spans must be
struck against those cumulative statistics without re-scanning
historical text.

State = one (window hash → doc count, occurrence count, min
occurrence) DELTA per epoch under ``store_path/winstats/epoch=N`` —
~32 bytes a row, never window text. Cumulative statistics fold
exactly: document ids never repeat across epochs of an append-only
ingestion so per-epoch distinct doc counts SUM; occurrence counts SUM;
the global survivor is the MIN of per-epoch min occurrences (struct
min — the same (id, pos) total order the batch operator uses).

Prefix-consistency contract (test-pinned): epoch N's output is
IDENTICAL to running the batch operator over the union of epochs ≤ N
and restricting to epoch N's documents. The corollary every
incremental cleaner in this package shares: a span whose duplicate
only ARRIVES at epoch N stays in the already-written outputs of
epochs < N (they were correct prefixes when written), and under
``keep_first`` the survivor is the min occurrence over the PREFIX —
so if a later epoch carries a smaller id than an already-emitted copy,
both survive across the output union (re-cleaning history is a batch
re-run over the union, not an epoch operation).

Marking and striking run through THE SAME expressions as the batch
operator (:func:`..operators.substrings.marked_positions` /
``apply_strikes`` / ``window_occurrences``), so prefix consistency
holds by construction, not by parallel maintenance.

Store integrity mirrors streaming/segments.py: format marker pins
``min_len`` (window hashes of a different width never combine), and
the ``winstats`` deltas are one :class:`._store.EpochDirs` sub-dir
(strictly-below history, reset-ahead refusal, epoch-suffixed
overwrites) whose committed generations fold with an
AGGREGATING merge (round 12): each folded generation is the
groupBy-sum/min of its member deltas — one row per window hash instead
of one per (epoch, hash). Without the merge, folding bounded the
store's FILE count but not its ROW count, and the per-epoch cumulative
re-aggregation still shuffled every delta ever written; sums and the
(min_id, min_pos) struct-min are associative, so every downstream
total is bit-unchanged. ``min_docs`` / ``keep_first`` / ``within_doc``
are read-time parameters (not baked into stored rows), so they may
vary per run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..caching import pool_mark, release_since, tracked_persist
from ..sources.sinks import check_fold_threshold
from ._store import EpochDirs, StoreMarker, run_epochs

#: Bump when the window hashing or store layout changes incompatibly.
STORE_FORMAT_VERSION = 1

#: Batches whose distinct-hash relation stays at or below this many
#: rows broadcast it into the history-prefilter semi join (the
#: segments-store bound; hash-only rows), so the history scan streams
#: through unshuffled; larger batches take the plain semi join.
BROADCAST_KEYS_MAX_ROWS = 4_000_000

_MARKER = StoreMarker(
    "format_version INT, min_len INT",
    "substring store",
    "Window hashes of different widths never combine correctly",
)


def _merge_stats(df: DataFrame) -> DataFrame:
    """Associative reducer for window-stat deltas: summed doc/occ
    counts and the earliest (min_id, min_pos) occurrence per window
    hash. Used by the per-epoch cumulative total AND as the fold merge
    — one definition so they cannot drift."""
    from ..operators.substrings import _H

    return (
        df.groupBy(_H)
        .agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("occ_count").alias("occ_count"),
            F.min(F.struct(F.col("min_id"), F.col("min_pos"))).alias(
                "_min_occ"
            ),
        )
        .select(
            _H,
            "doc_count",
            "occ_count",
            F.col("_min_occ.min_id").alias("min_id"),
            F.col("_min_occ.min_pos").alias("min_pos"),
        )
    )


def stream_substring_dedup(
    stream_docs: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    min_docs: int = 2,
    keep_first: bool = True,
    within_doc: bool = False,
    available_now: bool = True,
    fold_store_after: int | None = 16,
) -> StreamingQuery:
    """Start the incremental exact-substring dedup stream. Struck
    epochs land in ``out_path/epoch=N`` (all input columns,
    ``text_col`` rewritten, plus ``n_tokens``/``n_removed``/
    ``n_spans``); the statistics store grows under
    ``store_path/winstats/epoch=N``. Returns the StreamingQuery."""
    from ..operators.substrings import validate_substring_params

    validate_substring_params(min_len, min_docs)
    check_fold_threshold("fold_store_after", fold_store_after)
    spark = stream_docs.sparkSession
    _MARKER.check(spark, store_path, (STORE_FORMAT_VERSION, min_len))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        substring_dedup_epoch(
            spark, batch_df, epoch_id, out_path, store_path,
            id_col=id_col, text_col=text_col, min_len=min_len,
            min_docs=min_docs, keep_first=keep_first,
            within_doc=within_doc, fold_store_after=fold_store_after,
        )

    return run_epochs(stream_docs, process, checkpoint, available_now)


def substring_dedup_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    min_docs: int = 2,
    keep_first: bool = True,
    within_doc: bool = False,
    fold_store_after: int | None = 16,
) -> bool:
    """One epoch of incremental exact-substring dedup, as a plain
    function so composed incremental pipelines can run it inside their
    own ``foreachBatch``. Strikes ``batch_df``'s duplicated spans
    against cumulative history + in-epoch statistics, writes the
    cleaned rows to ``out_path/epoch=<epoch_id>`` and the epoch's
    statistics delta to the store. Epoch-suffixed overwrites keep
    replays idempotent; releases exactly the caches it pins. Returns
    True iff the epoch had rows."""
    from ..operators.substrings import validate_substring_params

    validate_substring_params(min_len, min_docs)
    _MARKER.check(spark, store_path, (STORE_FORMAT_VERSION, min_len))
    # the aggregating merge keeps folded generations at one row per
    # window hash
    stats = EpochDirs(
        f"{store_path}/winstats", "substring store",
        "overwriting committed statistics silently readmits "
        "duplicated spans",
        merge=_merge_stats,
    )
    stats.fold(spark, epoch_id, fold_store_after)
    mark = pool_mark()
    try:
        batch = tracked_persist(batch_df)
        if batch.count() == 0:
            return False

        from ..operators.substrings import (
            _H,
            _ID,
            _POS,
            apply_strikes,
            marked_positions,
            window_occurrences,
        )

        occ = tracked_persist(
            window_occurrences(batch, id_col, text_col, min_len)
        )
        epoch_stats = tracked_persist(
            occ.groupBy(_H).agg(
                F.count_distinct(F.col(_ID)).alias("doc_count"),
                F.count("*").alias("occ_count"),
                F.min(F.struct(F.col(_ID), F.col(_POS))).alias("_min_occ"),
            ).select(
                _H,
                "doc_count",
                "occ_count",
                F.col(f"_min_occ.{_ID}").alias("min_id"),
                F.col(f"_min_occ.{_POS}").alias("min_pos"),
            )
        )

        # cumulative statistics: committed history deltas + this
        # epoch's own
        hist_epochs = stats.history(spark, epoch_id)
        total = epoch_stats
        if hist_epochs:
            hist = stats.read(spark, hist_epochs)
            # only hashes present in THIS batch can affect the epoch's
            # output (the dup verdicts join back against the batch's
            # occurrences, and the store delta below is epoch-only):
            # prefilter history with a semi join on the batch's key
            # set — broadcast for micro-batches so the history scan
            # STREAMS — and the cumulative merge aggregates O(batch
            # keys), not O(every key the store has ever seen)
            keys = epoch_stats.select(_H)
            if epoch_stats.count() <= BROADCAST_KEYS_MAX_ROWS:
                keys = F.broadcast(keys)
            hist = hist.join(keys, _H, "left_semi")
            total = _merge_stats(epoch_stats.unionByName(hist))
        cond = F.col("doc_count") >= min_docs
        if within_doc:
            cond = cond | (F.col("occ_count") >= 2)
        dup = total.filter(cond).select(
            _H,
            F.col("min_id").alias("_ss_surv_id"),
            F.col("min_pos").alias("_ss_surv_pos"),
        )

        marked = marked_positions(occ, dup, keep_first)
        out = apply_strikes(batch, marked, id_col, text_col, min_len).select(
            *[c for c in batch.columns if c != text_col],
            F.col("_ss_out.clean_text").alias(text_col),
            F.col("_ss_out.n_tokens").alias("n_tokens"),
            F.col("_ss_out.n_removed").alias("n_removed"),
            F.col("_ss_out.n_spans").alias("n_spans"),
        )
        out.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
        stats.write(epoch_stats, epoch_id)
        return True
    finally:
        release_since(mark)
