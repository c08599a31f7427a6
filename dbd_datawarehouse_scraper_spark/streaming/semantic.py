"""[EXT] Incremental embedding-space (SemDeDup) dedup: a survivor-
vector store fed by ``foreachBatch``.

The batch form (operators/clustering.py ``semantic_dedup``) prunes
rows whose embedding has cosine ≥ threshold with an earlier-id row in
the same k-means cluster. This module is its incremental counterpart
— the last dedup family in the package to gain one (MinHash near-dup,
segment/passage, shard packing, and the contamination screen all have
epoch forms under the same store pattern):

- the CENTERS ARE FROZEN AT STORE INIT (the first epoch supplies them,
  normally from a persisted :func:`operators.clustering.kmeans_fit`);
  every epoch assigns through the same deterministic broadcast kernel,
  so cluster scope never shifts under the accumulated history. The
  marker pins a sha256 of the center bytes — resuming a store with
  different centers would silently change every comparison scope, so
  it refuses instead;
- per epoch, each row is compared against (a) the accepted history
  SURVIVORS of its cluster and (b) earlier-id rows of the same epoch
  and cluster, via one ``applyInPandas`` per (cluster, sub) group
  running the shared tiled sweep with the history rows PINNED
  (``_greedy_cosine_survivors(..., pinned=n_hist)``): history is
  never re-dropped, only suppresses. With ids monotone across epochs
  (the append-only ingestion shape) the accumulated survivor set is
  IDENTICAL to the batch ``semantic_dedup`` over the union — pinned
  by the prefix-consistency test;
- the store holds (cluster, id, vector) of survivors only — the same
  "history is signatures, not text" bound as the near-dup store: at
  the SemDeDup working point the survivor set is the deduped corpus'
  embeddings, ~256 B/row at 64-dim float64;
- epoch-suffixed overwrites make replays idempotent; history reads
  cover epochs STRICTLY BELOW the current one (a replayed epoch never
  sees its own half-written output); epochs ABOVE the current id mean
  a reset checkpoint over a populated store and refuse loudly; folds
  are tiered via ``sources.sinks.fold_epoch_dirs`` with crash
  recovery, all inherited from the near-dup store pattern.

Cross-epoch comparison cost per row is O(|cluster survivors|·d) — the
same per-row bound as the batch operator, reached incrementally. The
optional ``sub_splits`` caps group size like the batch operator's
``max_cluster_size`` sub-split, but FROZEN in the marker (the batch
form derives its split count from the observed cluster size, which
would change across epochs and silently shrink dedup scope — an
incremental store must pin it; the same bounded recall cost on
sub-bucket boundaries applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..caching import pool_mark, release_since, tracked_persist
from ..fsutil import fs_exists, fs_read_json_row, fs_write_json_row

#: Bump when the store layout, assignment kernel, or sweep semantics
#: change incompatibly; stores refuse to mix formats. v2 = vecs epoch
#: dirs are cluster-partitioned (round 12); v1 stores refuse with the
#: wipe hint.
STORE_FORMAT_VERSION = 2

_MARKER_SCHEMA = (
    "format_version INT, threshold DOUBLE, dim INT, n_centers INT, "
    "sub_splits INT, id_col STRING, vec_col STRING, centers_sha STRING"
)


def _centers_sha(centers: list) -> str:
    """sha256 over the canonical float64 byte image of the centers —
    the identity the marker pins (bit-stable across save/load, which
    round-trips float64 exactly)."""
    import hashlib

    import numpy as np

    return hashlib.sha256(
        np.ascontiguousarray(np.asarray(centers, dtype=np.float64)).tobytes()
    ).hexdigest()


def _validate_or_init_store(
    spark: SparkSession,
    store_path: str,
    centers: list | None,
    threshold: float,
    sub_splits: int,
    id_col: str,
    vec_col: str,
) -> list:
    """Ensure ``store_path`` carries a compatible marker + centers,
    initializing both iff the store does not exist yet (which requires
    ``centers``). Returns the store's centers. Raises on any mismatch,
    an unversioned pre-existing store, or a first epoch without
    centers."""
    from ..operators.clustering import load_centers, save_centers

    marker = f"{store_path}/format"
    if fs_exists(spark, marker):
        row = fs_read_json_row(spark, marker, _MARKER_SCHEMA)
        if row is None or row["format_version"] is None:
            raise ValueError(
                f"semantic store marker at {marker} exists but is "
                "unreadable — wipe the store (and re-ingest) before "
                "continuing."
            )
        stored = load_centers(spark, f"{store_path}/centers")
        found = (
            row["format_version"], row["threshold"], len(stored[0]),
            len(stored), row["sub_splits"], row["id_col"], row["vec_col"],
        )
        want = (
            STORE_FORMAT_VERSION, float(threshold), row["dim"],
            row["n_centers"], int(sub_splits), id_col, vec_col,
        )
        if found != want or row["centers_sha"] != _centers_sha(stored):
            raise ValueError(
                f"semantic store at {store_path} has (version, threshold, "
                f"dim, n_centers, sub_splits, id_col, vec_col)={found} "
                f"with centers_sha={row['centers_sha'][:12]}…, but this "
                f"run needs {want} — comparisons under different "
                "parameters or centers never agree with the stored "
                "survivors. Wipe the store (and re-ingest) or rerun "
                "with the store's parameters."
            )
        if centers is not None and _centers_sha(centers) != row["centers_sha"]:
            raise ValueError(
                f"semantic store at {store_path} was initialized with "
                "different centers than the ones supplied — cluster "
                "scopes would silently shift under the accumulated "
                "history. Omit centers= to use the store's, or wipe "
                "the store to refit."
            )
        return stored
    if fs_exists(spark, store_path):
        raise ValueError(
            f"semantic store at {store_path} exists but has no format "
            "marker — it is corrupted or torn mid-init. Wipe it (and "
            "re-ingest history) before continuing."
        )
    if centers is None:
        raise ValueError(
            "first epoch against a fresh semantic store must supply "
            "centers= (fit once with operators.clustering.kmeans_fit, "
            "persist with save_centers; the store freezes them)."
        )
    # init order: centers first, marker LAST — the marker is the
    # commit; a crash in between leaves a marker-less dir the next
    # init refuses (wipe + retry), never a half-valid store.
    save_centers(spark, centers, f"{store_path}/centers")
    fs_write_json_row(
        spark, marker, _MARKER_SCHEMA,
        (
            STORE_FORMAT_VERSION, float(threshold), len(centers[0]),
            len(centers), int(sub_splits), id_col, vec_col,
            _centers_sha(centers),
        ),
    )
    return centers


def semantic_dedup_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    out_path: str,
    store_path: str,
    centers: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    sub_splits: int = 1,
    fold_store_after: int | None = 16,
) -> bool:
    """One epoch of the incremental SemDeDup, as a plain function so
    composed incremental pipelines can run it inside their own
    ``foreachBatch``: assign ``batch_df`` to the store's frozen
    centers, sweep each (cluster, sub) group with the cluster's
    accepted history pinned, write epoch survivors (ALL input columns
    plus ``cluster``) to ``out_path/epoch=<epoch_id>`` and their
    (cluster, id, vector) rows to the store. Epoch-suffixed overwrites
    keep replays idempotent; releases exactly the caches it pins.
    Returns True iff the epoch had rows."""
    import pandas as pd

    from ..operators.clustering import (
        _assign_to_centers,
        _greedy_cosine_survivors,
    )
    from ..sources.sinks import fold_epoch_dirs, recover_epoch_fold

    centers = _validate_or_init_store(
        spark, store_path, centers, threshold, sub_splits, id_col, vec_col
    )
    from .near_dedup import _validate_or_init_out

    # crash recovery runs unconditionally (a crash mid fold-swap with
    # folding later disabled must still be healed — near-dup r5 class)
    if fold_store_after:
        fold_epoch_dirs(
            spark, f"{store_path}/vecs",
            below_epoch=epoch_id, min_dirs=fold_store_after,
            partition_cols=("cluster",),
        )
    else:
        recover_epoch_fold(spark, f"{store_path}/vecs")

    mark = pool_mark()
    try:
        batch = tracked_persist(batch_df)
        if batch.count() == 0:
            return False
        _validate_or_init_out(
            spark, out_path, list(batch_df.columns) + ["cluster"]
        )

        sub_expr = (
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(sub_splits)))
            if sub_splits > 1
            else F.lit(0)
        ).cast("int")
        assigned = (
            _assign_to_centers(batch, vec_col, centers)
            .withColumn("_sub", sub_expr)
            .withColumn("_hist", F.lit(0))
        )

        # history = committed epochs STRICTLY BELOW the current one; epochs
        # above mean a reset checkpoint over a populated store — refuse.
        from ._store import committed_epochs_below

        hist_epochs = committed_epochs_below(
            spark, f"{store_path}/vecs", epoch_id, "semantic store",
            "overwriting committed epoch vectors would silently readmit "
            "semantic duplicates",
        )

        union = assigned
        if hist_epochs:
            from ._store import epochs_with_partition_data

            # epochs whose every row was struck hold only _SUCCESS
            # (partitionBy emits no files for zero rows) — filter
            # before the multi-dir read or schema inference fails
            vecs_root = f"{store_path}/vecs"
            hist_epochs = epochs_with_partition_data(
                spark, vecs_root, hist_epochs, "cluster="
            )
        if hist_epochs:
            # bounded driver collect: ≤ n_centers ints (a store parameter)
            needed = [
                r["cluster"]
                for r in assigned.select("cluster").distinct().collect()
            ]
            # cluster is the store's PARTITION column (v2): it exists
            # only as directory metadata, so this filter is satisfied
            # by directory-level pruning — the epoch reads exactly the
            # vector bytes of the clusters the batch touched, however
            # many epochs the store has accumulated
            hist = (
                spark.read.option("basePath", vecs_root).parquet(
                    *[f"{vecs_root}/epoch={e}" for e in hist_epochs]
                )
                .filter(F.col("cluster").isin(needed))
                .select(
                    "cluster",
                    F.col("_id").alias(id_col),
                    F.col("_vec").alias(vec_col),
                    (
                        F.pmod(F.xxhash64(F.col("_id")), F.lit(int(sub_splits)))
                        if sub_splits > 1
                        else F.lit(0)
                    ).cast("int").alias("_sub"),
                    F.lit(1).alias("_hist"),
                )
            )
            # align history to the batch's column set (extra input columns
            # ride as NULL on history rows; they are never emitted)
            for c in assigned.columns:
                if c not in hist.columns:
                    hist = hist.withColumn(
                        c, F.lit(None).cast(assigned.schema[c].dataType)
                    )
            union = assigned.unionByName(hist.select(assigned.columns))

        out_schema = assigned.drop("_sub", "_hist").schema

        def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            # history block first (its internal order is irrelevant — the
            # pinned rows are mutually dissimilar by construction), then
            # epoch rows in id order: with monotone ids this is exactly the
            # batch sweep's global id order.
            pdf = pdf.sort_values(
                ["_hist", id_col], ascending=[False, True], kind="mergesort"
            ).reset_index(drop=True)
            n_hist = int((pdf["_hist"] == 1).sum())
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            keep = _greedy_cosine_survivors(
                mat, threshold, pinned=n_hist
            )
            keep[:n_hist] = False  # history is context, not output
            return pdf.loc[keep].drop(columns=["_sub", "_hist"])

        survivors = tracked_persist(
            union.groupBy("cluster", "_sub").applyInPandas(_sweep, out_schema)
        )
        survivors.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
        # cluster-PARTITIONED store layout (v2): the history read
        # filters on the batch's clusters, and as a partition column
        # that filter can only be satisfied by directory pruning (v1's
        # sortWithinPartitions row-group-stats layout was a soft
        # guarantee a fold could lose). Repartition ON the cluster so
        # partitionBy doesn't fan every task into every cluster dir;
        # static overwrite so a replayed epoch occupying fewer clusters
        # truncates rather than merging under an ambient dynamic
        # partitionOverwriteMode.
        survivors.select(
            "cluster",
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_vec"),
        ).repartition(F.col("cluster")).write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("cluster").parquet(
            f"{store_path}/vecs/epoch={epoch_id}"
        )
        return True
    finally:
        release_since(mark)


def stream_semantic_dedup(
    stream_vecs: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    centers: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    sub_splits: int = 1,
    available_now: bool = True,
    fold_store_after: int | None = 16,
) -> StreamingQuery:
    """Start the incremental SemDeDup stream. Survivor rows land in
    ``out_path/epoch=N``; the survivor-vector store grows under
    ``store_path/vecs/epoch=N``. Returns the StreamingQuery.

    Output schema contract: survivors carry EXACTLY (id_col, vec_col,
    cluster) — extra source columns are dropped so a source schema
    change can never mix schemas inside one out_path. Composed
    pipelines that want more columns call :func:`semantic_dedup_epoch`
    directly, which keeps all input columns.

    The FIRST run against a fresh store must supply ``centers`` (fit
    once with ``kmeans_fit``); the store freezes them and later runs
    may omit the argument. Earliest-wins across epochs: with ids
    monotone over arrival (append-only ingestion) the accumulated
    survivor set equals batch ``semantic_dedup`` over the union of all
    epochs with the same centers (prefix-consistency, test-pinned)."""
    spark = stream_vecs.sparkSession
    _validate_or_init_store(
        spark, store_path, centers, threshold, sub_splits, id_col, vec_col
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        semantic_dedup_epoch(
            spark, batch_df.select(id_col, vec_col), epoch_id,
            out_path, store_path,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
            sub_splits=sub_splits, fold_store_after=fold_store_after,
        )

    writer = stream_vecs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
