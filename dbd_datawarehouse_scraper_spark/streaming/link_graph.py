"""[EXT] Incremental link-graph epoch store: a growing deduped
(src, dst) edge relation fed by ``foreachBatch``, with on-demand
PageRank refreshes over the committed store.

The Common Crawl shape this serves: crawl shards (WAT metadata → page
links) arrive in epochs — monthly dumps, continuous fetch batches —
and the domain-rank curation signal must stay current WITHOUT
re-extracting edges from every archive ever ingested. The store keeps
exactly what rank needs (the deduped edge relation, never payloads):

- per epoch, :func:`link_graph_epoch` normalizes the batch's edges
  (distinct, null/self-loop dropped) and STRIKES them against history
  — only never-seen (src, dst) pairs land in ``edges/epoch=N``, so
  the union of committed dirs IS the deduped edge relation and the
  rank-time dedup cost never grows with re-crawled links (the same
  cross-epoch striking discipline as the near-dup signature store);
- the store is HASH-BUCKETED on the edge key: every epoch dir is
  partitioned by ``bucket = pmod(xxhash64(src, dst), n_buckets)``
  (``n_buckets`` pinned in the format marker — a store written under
  one bucketing can never be struck under another, or re-crawled
  edges would silently duplicate). Striking reads only the store
  buckets the batch occupies (directory-level partition pruning), and
  for the common micro-batch case runs as a broadcast
  semi-join-then-anti-join — the store side STREAMS through a
  columnar scan probing the broadcast batch, never shuffled, never
  sorted. Per-epoch cost is one unshuffled pruned scan of the store
  plus two batch-sized hash joins, versus the round-11 layout's full
  store-vs-batch sort-merge anti-join (the round-11 verdict's scale
  caveat: folding bounded the file count, not the bytes shuffled);
- :func:`refresh_ranks` runs the bit-deterministic integer PageRank
  (operators/graph.py) over the committed store and lands a NEW
  generation directory ``ranks/gen=G`` before flipping ``ranks/_meta``
  to name it — the marker is the COMMIT (written last), and because
  every refresh writes a fresh generation (never overwriting the one
  the current marker names), a crash mid-refresh leaves the previous
  generation's data AND marker fully intact (round-11 advice: an
  in-place ``ranks/data`` overwrite destroyed the old generation
  before the new marker landed). Superseded generations are deleted
  only after the new marker commits. Rank refresh is deliberately
  decoupled from ingest (the standard batch-layer cadence: rank every
  K epochs, not per batch);
- store integrity follows the package protocol (streaming/_store.py):
  a format marker pins the layout version AND the bucketing, and
  ``edges`` is one bucket-partitioned :class:`._store.EpochDirs`
  sub-dir — strictly-below history reads that skip all-struck epochs,
  checkpoint-reset-ahead refusal, epoch-suffixed replay-idempotent
  overwrites (one file per bucket, static overwrite), tiered
  LSM-style folding that keeps the bucket layout, so the history
  probe never degrades into a thousands-of-small-files scan.

Scale shape (the 100 TB story): the per-epoch work is one distinct
over the batch plus one PRUNED, UNSHUFFLED columnar scan of the
store's matching buckets probing a broadcast of the batch (micro-batch
path) — or, for a batch too large to broadcast
(``broadcast_strike_max_rows``), one key-shuffle anti-join whose keys
include the bucket. PageRank's per-round work is one key-shuffle join
+ one map-side-combined sum (see operators/graph.py); refresh cost is
independent of how many epochs fed the store.

Reference analog: scraper_v2.py's resume protocol persists progress
so re-runs never refetch (scraper_v2.py:1690-1720); this store applies
the same never-redo-committed-work contract to the link graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import (
    fs_delete,
    fs_epoch_ids,
    fs_exists,
    fs_list_names,
    fs_read_json_row,
    fs_write_json_row,
)
from ..sources.sinks import check_fold_threshold
from ._store import EpochDirs, StoreMarker, run_epochs

#: Bump when the edge layout changes incompatibly. v2 = hash-bucketed
#: epoch dirs (round 12); v1 stores refuse with a wipe/re-ingest hint.
LINK_STORE_FORMAT_VERSION = 2

#: Default edge-key bucket count for NEW stores. Local/test scale;
#: a cluster-scale store wants enough buckets that one bucket of the
#: largest epoch fits an executor's scan comfortably (the marker pins
#: whatever the store was created with).
DEFAULT_N_BUCKETS = 32

#: Batches at or below this many distinct edges strike via the
#: broadcast semi/anti path (store scanned, never shuffled); larger
#: batches fall back to the bucketed sort-merge anti-join.
BROADCAST_STRIKE_MAX_ROWS = 1_000_000

_MARKER = StoreMarker(
    "format_version INT, directed INT, n_buckets INT",
    "link-graph store",
    "Edges written under one layout cannot be read under another; "
    "wipe the store and re-ingest",
    free_fields=("n_buckets",),
)
_META_SCHEMA = (
    "gen INT, as_of_epoch INT, n_edges BIGINT, n_nodes BIGINT, "
    "damping INT, max_iter INT"
)


def _store_n_buckets(
    spark: SparkSession,
    store_path: str,
    n_buckets_default: int | None = None,
) -> int:
    """Marker handshake, with ``n_buckets`` as a FREE field (store
    state fixed at creation, not caller input — a caller-supplied
    count only seeds a NEW store). Returns the store's pinned bucket
    count.
    ``n_buckets_default=None`` is the read-only form for the read
    paths (stored_edges / refresh_ranks / current_ranks): a v1 or
    unversioned store must refuse there exactly as on ingest —
    round-12 review finding: a v1 store slipped past a bare existence
    check and read as an EMPTY edge relation (then committed an empty
    rank generation advertising the real max epoch)."""
    init = n_buckets_default is not None
    return _MARKER.check(
        spark,
        store_path,
        (
            LINK_STORE_FORMAT_VERSION,
            1,
            int(n_buckets_default) if init else None,
        ),
        init=init,
    )["n_buckets"]


def _bucket_of(src: F.Column, dst: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(src, dst), F.lit(n_buckets)).cast("int")


def _edges(store_path: str) -> EpochDirs:
    """The bucket-partitioned ``edges`` sub-dir."""
    return EpochDirs(
        f"{store_path}/edges", "link-graph store",
        "edges re-ingested after a wipe are struck from scratch",
        partition_col="bucket",
    )


def page_link_edges(
    pages: DataFrame,
    url_col: str = "url",
    links_col: str = "links",
    by_domain: bool = True,
) -> DataFrame:
    """(src, dst) edges from a parsed page relation (e.g.
    ``wat_metadata_source`` output): explode the links array and key
    both ends by host (``by_domain=True`` — the Common Crawl rank
    granularity) or by full URL. Purely declarative (explode +
    regexp_extract), no shuffle; the store's epoch fold dedups.

    Host extraction yielding nothing — relative and scheme-less links,
    the COMMON case in real WAT data — maps to NULL, not ``''``, so
    :func:`link_graph_epoch`'s null filter drops those edges (round-11
    advice: a ``''`` phantom node passed the null filter and
    accumulated rank mass from every domain emitting relative links)."""
    host = lambda c: F.nullif(  # noqa: E731
        F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", 1),
        F.lit(""),
    )
    src = host(F.col(url_col)) if by_domain else F.col(url_col)
    link = F.explode(F.col(links_col)).alias("_link")
    out = pages.select(src.alias("src"), link)
    dst = host(F.col("_link")) if by_domain else F.col("_link")
    return out.select("src", dst.alias("dst"))


def link_graph_epoch(
    spark: SparkSession,
    batch_edges: DataFrame,
    epoch_id: int,
    store_path: str,
    src_col: str = "src",
    dst_col: str = "dst",
    fold_store_after: int | None = 16,
    n_buckets: int = DEFAULT_N_BUCKETS,
    broadcast_strike_max_rows: int = BROADCAST_STRIKE_MAX_ROWS,
) -> dict:
    """Fold one epoch's edges into the store. Normalizes (distinct;
    null endpoints and self-loops dropped — rank is undefined on
    either), strikes against every committed epoch below this one, and
    overwrites ``edges/epoch=<epoch_id>`` (bucket-partitioned) with
    only the NEW pairs — replay-idempotent by construction. Returns
    ``{"n_batch_edges", "n_new_edges"}``.

    ``n_buckets`` seeds a NEW store's bucketing only; an existing
    store's marker wins. Striking prunes the history scan to the
    batch's buckets and, for batches at or below
    ``broadcast_strike_max_rows`` distinct edges, runs broadcast
    semi-then-anti (store side never shuffles); larger batches take
    the bucketed sort-merge anti-join."""
    b = _store_n_buckets(spark, store_path, n_buckets)
    store = _edges(store_path)
    store.fold(spark, epoch_id, fold_store_after)
    # listed before anything is written, even for an empty batch: the
    # reset-ahead refusal must fire before this epoch's overwrite
    history_epochs = store.history(spark, epoch_id)
    from ..caching import release_these, tracked_persist

    batch_p = tracked_persist(
        batch_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
        .withColumn("bucket", _bucket_of(F.col("src"), F.col("dst"), b))
    )
    # the persisted batch is referenced up to three times below (count,
    # broadcast probe, anti-join left side) — one distinct shuffle, not
    # three; released in the finally (a throwing strike join or epoch
    # write must not leave the batch pinned in executor storage —
    # round-12 review: repeated failing batches in a long-running
    # stream would accumulate dead cached blocks)
    try:
        edges = batch_p
        n_batch = edges.count()
        if history_epochs and n_batch > 0:
            history = store.read(spark, history_epochs).select(
                "src", "dst", "bucket"
            )
            if n_batch <= broadcast_strike_max_rows:
                # prune the store scan to the batch's buckets
                # (directory-level partition pruning — a micro-batch of
                # a few domains touches a few buckets; a batch
                # comfortably larger than the bucket count occupies
                # nearly all of them, so skip the probe job rather than
                # pay a collect to learn nothing), then stream it
                # through a broadcast probe: `old` is the ≤|batch|
                # store edges the batch re-crawled; anti-joining the
                # batch against THAT (also broadcast) never shuffles
                # anything store-sized.
                if n_batch < 32 * b:
                    bks = [
                        r[0]
                        for r in edges.select("bucket").distinct().collect()
                    ]
                    if len(bks) < b:
                        history = history.filter(F.col("bucket").isin(bks))
                old = history.join(
                    F.broadcast(edges.select("src", "dst")),
                    ["src", "dst"],
                    "left_semi",
                ).select("src", "dst")
                edges = edges.join(
                    F.broadcast(old), ["src", "dst"], "left_anti"
                )
            else:
                # batch too big to broadcast: bucketed key-shuffle
                # anti-join (bucket in the key keeps the shuffle
                # aligned with the store layout; exact because the
                # marker pins n_buckets)
                edges = edges.join(
                    history, ["bucket", "src", "dst"], "left_anti"
                )
        store.write(edges, epoch_id, n_parts=b)
        if store.with_data(spark, [epoch_id]):
            n_new = spark.read.parquet(store.path(epoch_id)).count()
        else:
            n_new = 0
    finally:
        release_these([batch_p])
    return {"n_batch_edges": n_batch, "n_new_edges": n_new}


def stored_edges(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed deduped edge relation (every ``epoch=K`` dir with
    data; ``(src, dst)`` columns — the bucket partition column is an
    internal layout detail and is dropped here). Raises if the store
    was never initialized."""
    if not fs_exists(spark, f"{store_path}/format"):
        raise ValueError(
            f"no link-graph store at {store_path} (missing format marker)"
        )
    # full read-only handshake, not just existence: a v1 store's epoch
    # dirs carry no bucket= partitions, so without this it would read
    # as an EMPTY edge relation instead of refusing (round-12 review)
    _store_n_buckets(spark, store_path)
    store = _edges(store_path)
    epochs = store.with_data(spark, _committed_epochs(spark, store.root))
    if not epochs:
        return spark.createDataFrame([], "src string, dst string")
    return store.read(spark, epochs).select("src", "dst")


def _committed_epochs(spark: SparkSession, root: str) -> list[int]:
    """Epoch ids whose write COMMITTED (the dir carries Spark's
    ``_SUCCESS`` marker — both direct epoch writes and fold-generation
    rewrites produce one; a crash mid-write leaves a dir without it).
    Only the MAX epoch can ever be torn (writes are sequential and a
    torn epoch is replayed under its own id), so this differs from a
    raw listing by at most that one dir — but a rank refresh taken
    between the crash and the replay must not read, or advertise as
    ``as_of``, a half-written epoch (round-11 advice)."""
    return sorted(
        e
        for e in fs_epoch_ids(spark, root)
        if fs_exists(spark, f"{root}/epoch={e}/_SUCCESS")
    )


def refresh_ranks(
    spark: SparkSession,
    store_path: str,
    damping: int = 85,
    max_iter: int = 20,
    tol_millionths: int = 1,
    seeds: DataFrame | None = None,
) -> dict:
    """Recompute PageRank over the committed store into a fresh
    generation ``<store>/ranks/gen=<G>`` and COMMIT it by rewriting
    ``ranks/_meta`` (written last) to name generation ``G``. A crash
    anywhere before the marker flip leaves the previous generation's
    data and marker fully intact — never torn (round-11 advice: the
    old in-place ``ranks/data`` overwrite destroyed the previous
    generation's files while the stale marker still pointed at them).
    Superseded generation dirs are deleted only AFTER the new marker
    lands. Returns the meta dict. Cost is a function of the CURRENT
    graph only — independent of epoch count. ``seeds`` (one column of
    node ids) switches to the personalized / TrustRank walk — see
    ``operators.graph.pagerank``. ``as_of_epoch`` is the max COMMITTED
    epoch (same ``_SUCCESS`` discipline as the edge read itself), so
    the meta never advertises a torn, not-yet-replayed ingest."""
    from ..caching import release_caches
    from ..operators.graph import pagerank

    edges = stored_edges(spark, store_path)
    root = f"{store_path}/edges"
    committed = _committed_epochs(spark, root)
    as_of = max(committed) if committed else -1
    prev_gen = -1
    meta_path = f"{store_path}/ranks/_meta"
    if fs_exists(spark, meta_path):
        prev = fs_read_json_row(spark, meta_path, _META_SCHEMA)
        if prev is not None and prev["gen"] is not None:
            prev_gen = int(prev["gen"])
    gen = prev_gen + 1
    ranks = pagerank(
        edges,
        damping=damping,
        max_iter=max_iter,
        tol_millionths=tol_millionths,
        seeds=seeds,
    )
    gen_dir = f"{store_path}/ranks/gen={gen}"
    ranks.write.mode("overwrite").parquet(gen_dir)
    release_caches()
    written = spark.read.parquet(gen_dir)
    meta = {
        "gen": int(gen),
        "as_of_epoch": int(as_of),
        "n_edges": int(edges.count()),
        "n_nodes": int(written.count()),
        "damping": int(damping),
        "max_iter": int(max_iter),
    }
    fs_write_json_row(
        spark, meta_path, _META_SCHEMA,
        tuple(meta[k] for k in (
            "gen", "as_of_epoch", "n_edges", "n_nodes", "damping", "max_iter"
        )),
    )
    # the new marker is down: superseded generations are garbage now
    for name in fs_list_names(spark, f"{store_path}/ranks"):
        if name.startswith("gen=") and name != f"gen={gen}":
            fs_delete(spark, f"{store_path}/ranks/{name}")
    return meta


def current_ranks(spark: SparkSession, store_path: str) -> tuple[DataFrame, dict]:
    """(ranks DataFrame, meta dict) of the last COMMITTED refresh —
    the generation ``ranks/_meta`` names. Raises if no refresh has
    committed (no ``ranks/_meta``)."""
    # full read-only handshake UNCONDITIONALLY, same as the other read
    # paths: an absent store, a store dir missing its marker, and a
    # v1/unversioned store all refuse here, not deep in the gen read
    # (a pre-generation _meta has gen=NULL and would otherwise fail
    # with a baffling 'ranks/gen=None' path error — round-12 review,
    # twice: the marker-missing-but-dir-present case initially kept
    # serving ranks every other path declared corrupt)
    _store_n_buckets(spark, store_path)
    meta_path = f"{store_path}/ranks/_meta"
    if not fs_exists(spark, meta_path):
        raise ValueError(
            f"no committed rank refresh under {store_path}/ranks — run "
            "refresh_ranks first"
        )
    row = fs_read_json_row(spark, meta_path, _META_SCHEMA)
    if row is None:
        raise ValueError(
            f"rank meta at {meta_path} exists but holds no parseable "
            "row — the marker is torn. Re-run refresh_ranks."
        )
    meta = {f: row[f] for f in (
        "gen", "as_of_epoch", "n_edges", "n_nodes", "damping", "max_iter"
    )}
    if meta["gen"] is None:
        raise ValueError(
            f"rank meta at {meta_path} names no generation — it predates "
            "the generation-committed layout. Re-run refresh_ranks."
        )
    return (
        spark.read.parquet(f"{store_path}/ranks/gen={meta['gen']}"),
        meta,
    )


def stream_link_graph(
    stream_pages: DataFrame,
    store_path: str,
    checkpoint: str,
    url_col: str = "url",
    links_col: str = "links",
    by_domain: bool = True,
    fold_store_after: int | None = 16,
    available_now: bool = True,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Start the incremental link-graph ingest over a streaming page
    relation (``url_col``, ``links_col array<string>`` — e.g. a
    ``warc_stream_source`` of WAT shards piped through the metadata
    projection). Each epoch's edges strike against history (pruned to
    the batch's buckets, broadcast-probed — see
    :func:`link_graph_epoch`) and land in ``edges/epoch=N``. Rank
    refresh stays a separate batch call (:func:`refresh_ranks`) on
    whatever cadence the pipeline wants. ``n_buckets`` seeds a NEW
    store only; an existing store's marker wins."""
    check_fold_threshold("fold_store_after", fold_store_after)
    spark = stream_pages.sparkSession
    _store_n_buckets(spark, store_path, n_buckets)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        link_graph_epoch(
            spark,
            page_link_edges(batch_df, url_col, links_col, by_domain),
            epoch_id,
            store_path,
            fold_store_after=fold_store_after,
        )

    return run_epochs(stream_pages, process, checkpoint, available_now)
