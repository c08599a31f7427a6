"""[EXT] Incremental benchmark-contamination screen: a persisted
benchmark shingle index probed by every epoch.

The batch screen (operators/dedup.py contamination_pairs) re-shingles
the benchmark on every call — fine at rest, wrong inside a stream
where the benchmark is STATIC and every ``foreachBatch`` epoch would
pay the shingle pass again. Here the benchmark's inverted shingle
index is built ONCE under the store pattern and each epoch joins its
own (small) shingle index against it:

- the store holds ``index/`` — the benchmark side of
  :func:`~..operators.dedup.shingle_index` (bench_id, bench_n,
  shingle hash) — plus a ``format`` marker pinning (format version,
  ``k``, item count, content checksum). A benchmark edited in place,
  a different ``k``, or an unversioned store all raise loudly instead
  of silently screening against the wrong index (the same
  store-integrity discipline as the MinHash signature store);
- per epoch, :func:`contamination_epoch` shingles ONLY the epoch's
  documents and reuses the exact batch scoring expressions
  (``contamination_scores``) — an epoch's (jaccard, containment) for
  a document is byte-identical to what the batch screen would emit
  for it, by construction;
- the screen is stateless across epochs (the benchmark never grows),
  so replay idempotence is trivial: same input rows → same flags.

Marker commit order: ``index/`` is written first, the marker last —
the marker IS the commit. A crash between the two leaves a
marker-less store that the next ``ensure_benchmark_index`` rebuilds
with an overwrite; a marker without a readable index raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import fs_exists, fs_read_json_row, fs_write_json_row
from ..operators.dedup import contamination_scores, shingle_index

#: Bump when the shingle hashing or index layout changes incompatibly.
BENCH_STORE_FORMAT_VERSION = 1

_MARKER_SCHEMA = (
    "format_version INT, k INT, n_items BIGINT, content_checksum BIGINT"
)


def _benchmark_stats(
    benchmark: DataFrame, bench_id_col: str, bench_text_col: str
) -> tuple[int, int]:
    """(item count, order/partition-invariant content checksum).
    The checksum sums per-row ``xxhash64(id, text) mod 2^31`` —
    commutative (any partitioning of the same rows agrees) and
    overflow-safe under ANSI arithmetic up to ~2^32 items."""
    row = benchmark.agg(
        F.count("*").alias("n"),
        F.sum(
            F.pmod(
                F.xxhash64(F.col(bench_id_col).cast("string"), F.col(bench_text_col)),
                F.lit(2_147_483_648),
            )
        ).alias("ck"),
    ).head()
    return int(row["n"]), int(row["ck"] or 0)


def ensure_benchmark_index(
    spark: SparkSession,
    benchmark: DataFrame,
    store_path: str,
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    k: int = 3,
) -> None:
    """Build the benchmark shingle index at ``store_path`` iff absent;
    validate it against ``benchmark`` (k, item count, content
    checksum) if present. Raises ``ValueError`` on any mismatch —
    screening epochs against a stale or differently-shingled index
    would silently pass contaminated documents."""
    marker = f"{store_path}/format"
    n_items, checksum = _benchmark_stats(benchmark, bench_id_col, bench_text_col)
    if fs_exists(spark, marker):
        row = fs_read_json_row(spark, marker, _MARKER_SCHEMA)
        if row is None or row["format_version"] is None:
            raise ValueError(
                f"benchmark index marker at {marker} exists but is "
                "unreadable — wipe the index dir and rebuild."
            )
        found = (row["format_version"], row["k"], row["n_items"], row["content_checksum"])
        want = (BENCH_STORE_FORMAT_VERSION, k, n_items, checksum)
        if found != want:
            raise ValueError(
                f"benchmark index at {store_path} has (version, k, "
                f"n_items, checksum)={found}, but the supplied benchmark "
                f"needs {want}. The benchmark or shingle width changed — "
                "wipe the index dir to rebuild against the new benchmark."
            )
        if not fs_exists(spark, f"{store_path}/index"):
            raise ValueError(
                f"benchmark index at {store_path} has a marker but no "
                "index data — wipe the index dir and rebuild."
            )
        return
    if fs_exists(spark, f"{store_path}/index"):
        # crash between index write and marker write: rebuild (overwrite)
        pass
    shingle_index(benchmark, bench_id_col, bench_text_col, "_bid", k).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/index")
    fs_write_json_row(
        spark, marker, _MARKER_SCHEMA,
        (BENCH_STORE_FORMAT_VERSION, k, n_items, checksum),
    )


def contamination_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    containment_threshold: float | None = None,
) -> DataFrame:
    """Screen one epoch's documents against the persisted benchmark
    index: returns the flagged ``(id_col, bench_id_col='bench_id',
    jaccard, containment)`` pairs, scored with the SAME expressions as
    the batch screen. The marker's ``k`` must match (loud refusal —
    cheap one-row read per epoch; the content checksum is validated at
    :func:`ensure_benchmark_index` time, when the benchmark relation
    is at hand)."""
    marker = f"{store_path}/format"
    if not fs_exists(spark, marker):
        raise ValueError(
            f"no benchmark index marker at {marker} — call "
            "ensure_benchmark_index() before screening epochs."
        )
    row = fs_read_json_row(spark, marker, _MARKER_SCHEMA)
    if row is None or row["format_version"] != BENCH_STORE_FORMAT_VERSION:
        raise ValueError(
            f"benchmark index at {store_path} has format version "
            f"{None if row is None else row['format_version']}, need "
            f"{BENCH_STORE_FORMAT_VERSION} — wipe and rebuild."
        )
    if row["k"] != k:
        raise ValueError(
            f"benchmark index at {store_path} was built with k={row['k']}, "
            f"but this screen uses k={k} — shingle widths must match."
        )
    bench_idx = spark.read.parquet(f"{store_path}/index")
    corpus_idx = shingle_index(batch_df, id_col, text_col, "_id", k)
    return contamination_scores(
        corpus_idx, bench_idx, id_col, "bench_id", threshold, containment_threshold
    )
