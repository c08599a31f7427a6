"""[EXT] Incremental perceptual image dedup: a dHash store fed by
``foreachBatch`` — the epoch form of
:func:`..multimodal.image_dedup.image_near_dedup`, completing the
family (near-dup text, segments, semantic, substring, and now image
dedup all have batch AND epoch forms under the shared store pattern).

Per epoch:

- dHash the incoming batch with THE batch kernel
  (:func:`..multimodal.image_dedup.dhash_media` — same codec layering,
  same per-row error channel: undecodable payloads NULL their own hash,
  are KEPT in the output, and are never stored);
- dedup WITHIN the batch exactly like the batch operator
  (block-permutation Hamming pairs, one survivor per connected
  component — the minimum id);
- dedup AGAINST HISTORY with the cross form of
  :func:`..operators.dedup.hamming_pairs` (epoch hashes vs stored
  survivor hashes) — history stores 8-byte hashes, never payloads, so
  the store is ~16 B/image however large the images are;
- append the epoch's survivor hashes to the store, one flat
  :class:`._store.EpochDirs` sub-dir (epoch-suffixed overwrites,
  strictly-below history reads, checkpoint-reset refusal, tiered
  folds with crash recovery) behind a format marker pinning codec +
  radius + grid.

Earliest-epoch-wins, like every incremental dedup here: an image
within ``max_hamming`` of any already-accepted SURVIVOR is dropped;
dropped images' hashes are not stored, so a later image that chains
to a dropped one (within d of it, beyond d of its surviving
representative) is admitted — the batch operator's transitive
connected components would have dropped it. Same documented
divergence class as the near-dup stream's estimate-vs-exact verify:
prefix outputs stay exactly consistent (replays rewrite themselves),
and stream == batch whenever epoch order agrees with id order and
clusters sit within ``max_hamming`` of their surviving minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..caching import pool_mark, release_since, tracked_persist
from ..multimodal.image_dedup import HASH_H, HASH_W, dhash_media
from ..operators.dedup import hamming_pairs
from ..operators.graph import component_survivors
from ..sources.sinks import check_fold_threshold
from ._store import EpochDirs, StoreMarker, run_epochs

#: Bump when the dHash construction (grid, kernel family) or store
#: layout changes incompatibly; stores refuse to mix formats.
STORE_FORMAT_VERSION = 1

#: Batches at or below this many hashed rows probe the history via a
#: broadcast of the batch's blocked relation ((max_hamming+1) rows per
#: hash) — the history side streams through its scan, never shuffled
#: or sorted. Larger batches take the merge join. The history stays
#: un-bucketed deliberately: directory pruning would need the store
#: replicated per pigeonhole block (each hash joins on d+1 block
#: keys), a (d+1)x storage trade the 8-byte rows don't justify — the
#: per-epoch scan is ~16 B/stored image, the cheapest history in the
#: package.
BROADCAST_PROBE_MAX_HASHES = 1_000_000

_MARKER = StoreMarker(
    "format_version INT, codec STRING, max_hamming INT, "
    "hash_w INT, hash_h INT",
    "image-hash store",
    "dHashes from different codecs, grids, or Hamming radii do not "
    "compare meaningfully — historical near-duplicates would "
    "silently pass or false-drop",
)


def _validate_or_init_store(
    spark: SparkSession, store_path: str, codec: str, max_hamming: int
) -> str:
    """Validate/init the store marker and return the RESOLVED codec.
    The marker pins the resolved kernel, never the raw name: pinning
    ``'auto'`` would let the same store hash with Pillow on one box
    and the stub on another (marker check passing!) — cross-epoch
    comparisons between kernels are meaningless and historical
    duplicates would silently pass (review r9). Resolution also runs
    BEFORE the marker write, so a typo'd codec refuses without
    poisoning a fresh store path."""
    from ..multimodal.media import _resolve_codec

    chosen = _resolve_codec(codec)
    _MARKER.check(
        spark, store_path,
        (STORE_FORMAT_VERSION, chosen, max_hamming, HASH_W, HASH_H),
    )
    return chosen


def stream_image_dedup(
    stream_media: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    codec: str = "fake",
    max_hamming: int = 3,
    available_now: bool = True,
    fold_store_after: int | None = 16,
) -> StreamingQuery:
    """Start the incremental image-dedup stream. Survivor rows land in
    ``out_path/epoch=N``; the hash store grows under
    ``store_path/hashes/epoch=N``. Returns the StreamingQuery.

    Output schema contract: survivors carry EXACTLY (id_col,
    payload_col) — extra source columns are dropped and the column set
    is pinned under ``out_path/_schema`` (the shared out-schema
    marker), so a source schema change can never mix schemas inside
    one out_path. Composed pipelines that want more columns call
    :func:`image_dedup_epoch` directly, which keeps all input columns.

    The store marker pins (RESOLVED codec, max_hamming, grid) —
    resuming an existing store with a different decode kernel or
    radius raises (re-hash into a fresh store to change them; note
    ``codec='auto'`` pins whatever it resolves to on the FIRST run, so
    an auto store refuses rather than silently degrading when Pillow
    disappears). ``fold_store_after`` folds committed store
    generations like every other epoch store."""
    from ._store import validate_or_init_out_schema

    check_fold_threshold("fold_store_after", fold_store_after)
    spark = stream_media.sparkSession
    _validate_or_init_store(spark, store_path, codec, max_hamming)
    validate_or_init_out_schema(
        spark, out_path, [id_col, payload_col], STORE_FORMAT_VERSION
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        image_dedup_epoch(
            spark, batch_df.select(id_col, payload_col), epoch_id,
            out_path, store_path,
            id_col=id_col, payload_col=payload_col, codec=codec,
            max_hamming=max_hamming, fold_store_after=fold_store_after,
        )

    return run_epochs(stream_media, process, checkpoint, available_now)


def image_dedup_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    store_path: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    codec: str = "fake",
    max_hamming: int = 3,
    fold_store_after: int | None = 16,
) -> bool:
    """One epoch of the incremental image dedup, as a plain function so
    composed incremental pipelines can run it inside their own
    ``foreachBatch``. Writes survivors (ALL input columns) to
    ``out_path/epoch=<epoch_id>`` and their (id, dhash) rows to the
    store; undecodable images survive with nothing stored. Returns
    True iff the epoch had rows."""
    codec = _validate_or_init_store(spark, store_path, codec, max_hamming)
    hashes = EpochDirs(
        f"{store_path}/hashes", "image-hash store",
        "proceeding would overwrite committed epoch hashes one by "
        "one while deduping only against the remnant — silently "
        "readmitting perceptual duplicates",
    )
    hashes.fold(spark, epoch_id, fold_store_after)
    mark = pool_mark()
    try:
        batch = tracked_persist(batch_df)
        n_batch = batch.count()
        if n_batch == 0:
            return False
        sel = batch.select(
            F.col(id_col).alias("media_id"), F.col(payload_col).alias("payload")
        )
        hashed = tracked_persist(
            dhash_media(sel, codec=codec).select("media_id", "dhash")
        )

        # within-batch: component-min survivors (NULL hashes never pair)
        pairs = hamming_pairs(hashed, "media_id", "dhash", max_hamming)
        losers = component_survivors(pairs).withColumnRenamed("id", "media_id")
        kept_h = hashed.join(losers, "media_id", "left_anti")

        hist_epochs = hashes.history(spark, epoch_id)
        if hist_epochs:
            hist = hashes.read(spark, hist_epochs)
            dup_ids = (
                hamming_pairs(
                    kept_h, "media_id", "dhash", max_hamming, against=hist,
                    # micro-batch path: the history streams through a
                    # broadcast probe of the batch instead of a
                    # two-sided sort-merge of the accumulated store
                    broadcast_probe=n_batch <= BROADCAST_PROBE_MAX_HASHES,
                )
                .select(F.col("id_a").alias("media_id"))
                .distinct()
            )
            kept_h = kept_h.join(dup_ids, "media_id", "left_anti")

        kept_h = tracked_persist(kept_h)
        survivors = batch.join(
            kept_h.select(F.col("media_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        # epoch-suffixed overwrites: replayed epochs rewrite themselves
        survivors.write.mode("overwrite").parquet(
            f"{out_path}/epoch={epoch_id}"
        )
        # store only COMPARABLE survivors: NULL-hash (undecodable) rows
        # survive the output but cannot suppress future duplicates
        hashes.write(kept_h.filter(F.col("dhash").isNotNull()), epoch_id)
        return True
    finally:
        release_since(mark)
