"""[EXT] Similarity search and near-dup dedup over embedding columns
(array<float>).

Strategies:

- ``cosine_topk_bruteforce`` / ``cosine_topk_bruteforce_np``: exact
  top-k by cosine — bounded probe set against the full corpus (one
  corpus scan, no corpus shuffle). The ``_np`` form scores each Arrow
  batch with numpy and emits per-batch partial top-k; it is the fast
  path and the one the registry query uses.
- ``cosine_topk_lsh``: random-hyperplane LSH (SimHash for vectors) —
  corpus hashed once into sign-bit band buckets; probes only score
  vectors sharing a band. Candidate cost is bucket-collision bound.
- ``ivf_topk``: KMeans coarse quantizer; probes score only their
  ``nprobe`` nearest lists.
- ``ivf_build`` / ``ivf_search`` / ``ivf_append`` / ``ivf_stats``: the
  same IVF as a persisted index — build once, probe many. How the
  index stores its vectors (``compression``: none / sq8 / pq / opq) is
  one ``_Codec`` subclass each, holding its fit, its ``quant/`` tables
  and its encode/decode kernels; the entry points never branch on it.
- ``embedding_cosine_dedup``: all near-dup pairs above a cosine
  threshold via the same banded LSH, exact-verified.

Both the hashing leg (``banded_buckets_np``: one matmul per Arrow batch
against a broadcast, seeded Gaussian hyperplane matrix — deterministic
across runs/partitions) and the scoring leg (``_qcosine_pandas``) are
numpy-vectorized. Interpreted HOF folds survive in the plain
``cosine_topk_bruteforce`` reference form and in ``_sq_dist``, the IVF
distances to the centers (per probe × ``n_lists`` centers, and once
per stored vector in ``ivf_stats``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .windows import topk_per_group


def cosine_topk_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    corpus_id: str = "vec_id",
    probe_vec: str = "probe_vec",
    corpus_vec: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per probe: (probe_id, vec_id, cosine_sim).

    Excludes self-matches when ids collide. Cosine is rounded to 6
    decimals for cross-engine reproducibility; ties break on vec_id.

    Norms are attached per SIDE before the join: the Join node blocks
    projection collapse, so each vector's norm evaluates once (array
    HOFs are interpreted — recomputing a norm per PAIR costs 2×|corpus|
    extra interpreted folds per probe)."""
    from ..functions.vectors import dot, l2_norm

    p = probes.withColumn("_np", l2_norm(F.col(probe_vec)))
    c = corpus.withColumn("_nc", l2_norm(F.col(corpus_vec)))
    if broadcast_probes:
        p = F.broadcast(p)
    denom = F.col("_np") * F.col("_nc")
    scored = (
        p.crossJoin(c)
        .filter(F.col(probe_id) != F.col(corpus_id))
        .withColumn(
            "cosine_sim",
            F.round(
                F.when(denom == 0, F.lit(0.0)).otherwise(
                    dot(F.col(probe_vec), F.col(corpus_vec)) / denom
                ),
                6,
            ),
        )
        .select(probe_id, corpus_id, "cosine_sim")
    )
    return topk_per_group(
        scored, [probe_id], [F.col("cosine_sim").desc(), F.col(corpus_id).asc()], k
    )


def cosine_topk_bruteforce_np(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    corpus_id: str = "vec_id",
    probe_vec: str = "probe_vec",
    corpus_vec: str = "embedding",
    scale: float = 1e12,
) -> DataFrame:
    """Exact quantized top-k by cosine, Arrow-vectorized.

    Same contract as ``cosine_topk_bruteforce`` over ``qcosine``
    semantics (per-component products HALF_UP-quantized to bigints at
    ``scale``, summed exactly, cosine rounded to 6), but the scoring leg
    is a numpy kernel inside ``mapInPandas`` instead of interpreted
    array HOFs — the per-pair fold was the round-1 bench's one perf-weak
    spot (~9× the DuckDB oracle).

    Equivalence to the HOF form is exact up to HALF_UP representation
    boundaries: the kernel rounds via ``floor(v + 0.5)`` on binary
    doubles while Spark's ``F.round`` applies BigDecimal HALF_UP to the
    double's shortest decimal representation, and those diverge on
    adversarial inputs sitting exactly on a .5 boundary after the float
    product (the ``0.49999999999999994`` pathology). For unit-ish
    embeddings and scale=1e12 no such boundary is reachable from the
    test corpora (fuzz-pinned in tests), but the guarantee is
    "equivalent up to 1-ulp quantization boundaries", not bit-identity
    on arbitrary doubles.

    Null hygiene: rows with a null id, null vector, or a vector of the
    wrong dimensionality are excluded from scoring. (The HOF form
    yields null cosine for such rows and the descending sort puts nulls
    last, so they are never selected there either unless a probe has
    fewer than k valid candidates.)

    Shape at scale: the probe set is collected to the driver and sent as
    a broadcast variable — the SAME bounded-build-side contract a
    broadcast hash join makes — then the corpus streams through ONE scan
    with no shuffle; each Arrow batch emits only its per-probe partial
    top-k (≤ batches × |probes| × k rows), and a final tiny window picks
    the global top-k. Quantized magnitudes stay < 2**52 for unit-ish
    embeddings, where numpy HALF_UP (floor(v+0.5) / ceil(v-0.5)) is
    exact."""

    spark = corpus.sparkSession
    pdf = probes.select(probe_id, probe_vec).toPandas()
    pdf = pdf[pdf[probe_id].notna() & pdf[probe_vec].notna()]
    if len(pdf):
        dim = len(pdf[probe_vec].iloc[0])
        pdf = pdf[pdf[probe_vec].map(len) == dim]
    if len(pdf) == 0:
        return spark.createDataFrame(
            [], f"{probe_id} long, {corpus_id} long, cosine_sim double"
        )
    p_ids = np.asarray(pdf[probe_id].to_numpy(), dtype=np.int64)
    p_mat = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf[probe_vec]]
    )  # (p, d)
    bc = spark.sparkContext.broadcast((p_ids, p_mat))

    def _halfup(v: "np.ndarray") -> "np.ndarray":
        return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))

    def score(batches):
        ids, mat = bc.value
        d = mat.shape[1]
        qp = _halfup(mat * mat * scale).sum(axis=1)  # (p,) probe self-dots
        sqp = np.sqrt(qp)
        for pb in batches:
            if len(pb) == 0:
                continue
            # drop null ids and null/ragged vectors BEFORE np.stack —
            # an all-null batch would raise, a ragged one would produce
            # an object array (see docstring's null-hygiene contract)
            raw_ids = pb[corpus_id].to_numpy()
            raw_vecs = pb[corpus_vec].to_numpy()
            good = np.array(
                [
                    i is not None and i == i and v is not None and len(v) == d
                    for i, v in zip(raw_ids, raw_vecs)
                ],
                dtype=bool,
            )
            if not good.any():
                continue
            c_ids = np.asarray(raw_ids[good], dtype=np.int64)
            c = np.stack([np.asarray(v, dtype=np.float64) for v in raw_vecs[good]])
            qc = _halfup(c * c * scale).sum(axis=1)  # (b,)
            sqc = np.sqrt(qc)
            out_p, out_c, out_s = [], [], []
            for j in range(len(ids)):
                qd = _halfup(c * mat[j] * scale).sum(axis=1)  # (b,)
                denom = sqp[j] * sqc
                cos = np.where(denom == 0, 0.0, qd / np.where(denom == 0, 1.0, denom))
                cos = _halfup(cos * 1e6) / 1e6
                keep = c_ids != ids[j]
                # partial top-k inside the batch: ties break (cos desc,
                # corpus_id asc), same order as the global window
                order = np.lexsort((c_ids[keep], -cos[keep]))[:k]
                kept_ids = c_ids[keep][order]
                out_p.append(np.full(len(kept_ids), ids[j], dtype=np.int64))
                out_c.append(kept_ids)
                out_s.append(cos[keep][order])
            yield pd.DataFrame(
                {
                    probe_id: np.concatenate(out_p),
                    corpus_id: np.concatenate(out_c),
                    "cosine_sim": np.concatenate(out_s),
                }
            )

    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score, schema=f"{probe_id} long, {corpus_id} long, cosine_sim double"
    )
    return topk_per_group(
        partial, [probe_id], [F.col("cosine_sim").desc(), F.col(corpus_id).asc()], k
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> "np.ndarray":
    """Deterministic Gaussian hyperplanes (planes × dim), generated once
    on the driver and broadcast — reproducible across runs/partitions."""
    return np.random.default_rng(seed).standard_normal((planes, dim))


def banded_buckets_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bands: int,
    bits_per_band: int,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bucket) rows: sign-bit LSH, numpy-vectorized.

    One matmul per Arrow batch against the broadcast hyperplane matrix
    replaces per-row interpreted HOF folds — measured ~75× faster
    hashing at 20k×64 (the interpreted form cost ~15 ms/vector). This
    is the hashing leg shared by ``cosine_topk_lsh`` and
    ``embedding_cosine_dedup``; output stays narrow (never carries the
    vector through the bucket join)."""
    planes = bands * bits_per_band
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(_hyperplanes(dim, planes, seed))
    weights = (1 << np.arange(bits_per_band - 1, -1, -1)).astype(np.int64)

    def hash_batches(batches):
        H = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = np.asarray(pdf[id_col].to_numpy(), dtype=np.int64)
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (m @ H.T) > 0  # (b, planes)
            buckets = (
                bits.reshape(len(ids), bands, bits_per_band).astype(np.int64)
                @ weights
            )  # (b, bands)
            band_idx = np.tile(np.arange(bands, dtype=np.int32), len(ids))
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, bands),
                    "_band": band_idx,
                    "_bucket": buckets.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        hash_batches, schema="_id long, _band int, _bucket long"
    )


def cosine_topk_lsh(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    bands: int = 8,
    bits_per_band: int = 4,
    probe_id: str = "probe_id",
    corpus_id: str = "vec_id",
    probe_vec: str = "probe_vec",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-band random-hyperplane LSH.

    Each side gets ``bands`` bucket ids (one per band of
    ``bits_per_band`` sign bits, numpy-vectorized via
    ``banded_buckets_np``); candidates = pairs sharing any band's
    bucket; exact quantized cosine reranks (Arrow-vectorized). Recall
    rises with bands, cost with bits_per_band⁻¹. The bucket join stays
    NARROW — ids only; vectors join back by id for the rerank."""
    p_b = banded_buckets_np(probes, probe_id, probe_vec, dim, bands, bits_per_band)
    c_b = banded_buckets_np(corpus, corpus_id, corpus_vec, dim, bands, bits_per_band)
    cand = (
        p_b.select(F.col("_id").alias(probe_id), "_band", "_bucket")
        .join(
            # corpus side: corpus-sized — never compile-time broadcast
            # (probe side stays broadcast-eligible: bounded by contract)
            c_b.select(
                F.col("_id").alias(corpus_id), "_band", "_bucket"
            ).hint("merge"),
            ["_band", "_bucket"],
        )
        .filter(F.col(probe_id) != F.col(corpus_id))
        .select(probe_id, corpus_id)
        .dropDuplicates([probe_id, corpus_id])
    )
    pv = probes.select(probe_id, probe_vec)
    cv = corpus.select(corpus_id, corpus_vec)
    return _rerank(
        cand.join(pv, probe_id).join(cv.hint("merge"), corpus_id),
        probe_id, corpus_id, F.col(probe_vec), F.col(corpus_vec), k,
    )


def _qcosine_pandas(vec_a: Column, vec_b: Column, scale: float = 1e12) -> Column:
    """Quantized-exact cosine as an Arrow-vectorized pandas_udf —
    numerically identical to ``functions.vectors.qcosine`` (per-component
    HALF_UP quantization at ``scale``, exact integer sums) but scored
    with numpy per batch instead of interpreted HOF folds."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _score(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        bm = np.stack([np.asarray(v, dtype=np.float64) for v in b])

        def halfup(v):
            return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))

        qd = halfup(am * bm * scale).sum(axis=1)
        qa = halfup(am * am * scale).sum(axis=1)
        qb = halfup(bm * bm * scale).sum(axis=1)
        denom = np.sqrt(qa) * np.sqrt(qb)
        return pd.Series(np.where(denom == 0, 0.0, qd / np.where(denom == 0, 1.0, denom)))

    return _score(vec_a, vec_b)


def _rerank(
    cand: DataFrame,
    probe_id: str,
    corpus_id: str,
    probe_vec: Column,
    cand_vec: Column,
    k: int,
) -> DataFrame:
    """The rerank half of every candidate-generating search (LSH, IVF):
    exact quantized cosine over the candidate pairs (Arrow-vectorized —
    the interpreted HOF fold costs ~10× per pair), then top-``k`` per
    probe, ties broken on the corpus id."""
    reranked = cand.select(
        probe_id,
        corpus_id,
        F.round(_qcosine_pandas(probe_vec, cand_vec), 6).alias("cosine_sim"),
    )
    return topk_per_group(
        reranked, [probe_id], [F.col("cosine_sim").desc(), F.col(corpus_id).asc()], k
    )


def embedding_cosine_dedup(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    bands: int = 16,
    bits_per_band: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[EXT] Embedding-cosine near-duplicate pairs: every (id_a, id_b,
    cosine_sim) with ``cosine ≥ threshold``, id_a < id_b.

    Band width sizes the candidate set: ``bits_per_band`` buckets the
    corpus into 2^bits cells per band, so non-dup collision cost scales
    with |corpus|²/2^bits per band — 16 bits keeps a 20k self-join at
    ~10⁵ candidates where 4 bits explodes to ~10⁸. Wide bands cost
    recall only BELOW the dedup regime: at cosine ≥ 0.95 a 16-bit band
    matches with p ≈ 0.986^16 and 16 bands push recall ≥ 0.97 (exact
    duplicates always collide).

    Same banded-LSH shape as ``minhash_lsh_pairs`` (operators/dedup.py),
    hyperplane sign bits instead of minhash rows: the corpus is hashed
    ONCE into narrow (id, band, bucket) rows (numpy matmul per Arrow
    batch, ``banded_buckets_np``), candidates are pairs sharing any band
    bucket (never an all-pairs cross join), and only candidates pay the
    exact quantized-cosine verify — also an Arrow-vectorized numpy
    kernel, not interpreted HOFs. Recall rises with ``bands``;
    near-identical vectors (the dedup regime, threshold ≥ ~0.9) collide
    in virtually every band."""
    from ..caching import tracked_persist

    keyed = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # tracked — release via caching.release_caches() after the action
    banded = tracked_persist(
        banded_buckets_np(keyed, "_id", "_v", dim, bands, bits_per_band)
    )
    right = banded.select(F.col("_id").alias("_id2"), "_band", "_bucket")
    # every join side here is corpus-sized — explicit merge (sort-
    # merge) hints, or Catalyst's width-scaled static estimate compile-time
    # BROADCASTS a corpus side (the round-8 sf1-smoke OOM class found
    # in minhash_lsh_pairs; same shape here)
    cand = (
        banded.join(right.hint("merge"), ["_band", "_bucket"])
        .filter(F.col("_id") < F.col("_id2"))
        .select("_id", "_id2")
        .dropDuplicates(["_id", "_id2"])
    )
    # vectors join back by id — fetched once per side, not per band hit
    v1 = keyed
    v2 = keyed.select(F.col("_id").alias("_id2"), F.col("_v").alias("_v2"))
    scored = (
        cand.join(v1.hint("merge"), "_id")
        .join(v2.hint("merge"), "_id2")
        .select(
            F.col("_id").alias("id_a"),
            F.col("_id2").alias("id_b"),
            F.round(_qcosine_pandas(F.col("_v"), F.col("_v2")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    return scored.filter(F.col("cosine_sim") >= F.lit(threshold))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two equal-length arrays (double
    accumulator) — an interpreted HOF fold, affordable here because
    one side is always a center: the per-probe × n_lists center
    scoring and ``ivf_stats``' one distance per stored vector."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _probe_lists(
    probes: DataFrame, centers: DataFrame, probe_id: str, probe_vec: str, nprobe: int
) -> DataFrame:
    """The probe half of every IVF search: each probe's ``nprobe``
    nearest ``(_list, _center)`` rows (ties to the lower list id) —
    the center table is tiny, so it is broadcast and cross-joined.
    Returns the probe columns plus ``_list``."""
    scored = probes.crossJoin(F.broadcast(centers)).withColumn(
        "_d2", _sq_dist(F.col(probe_vec), F.col("_center"))
    )
    return topk_per_group(
        scored.select(probe_id, probe_vec, "_list", "_d2"),
        [probe_id],
        [F.col("_d2").asc(), F.col("_list").asc()],
        nprobe,
    ).drop("_d2")


def ivf_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    n_lists: int = 16,
    nprobe: int = 4,
    probe_id: str = "probe_id",
    corpus_id: str = "vec_id",
    probe_vec: str = "probe_vec",
    corpus_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer.

    Index build: fit the sample-based deterministic quantizer
    (``clustering.kmeans_fit``) on the corpus, assign every vector to
    its nearest centroid ("list"). Search: each probe scores only the
    vectors in its ``nprobe`` nearest lists, exact-cosine reranked.
    Candidate cost ≈ |corpus| × nprobe / n_lists per probe, vs |corpus|
    for brute force. The assigned corpus persists — build once, probe
    many times (at 100 TB the index is written as a parquet table
    partitioned by list id, so a probe prunes partitions).
    """
    from ..caching import tracked_persist
    from .clustering import _assign_to_centers, kmeans_fit

    fitted = kmeans_fit(corpus, vec_col=corpus_vec, n_clusters=n_lists, seed=seed)
    # tracked — release via caching.release_caches() after the action
    assigned = tracked_persist(
        _assign_to_centers(corpus, corpus_vec, fitted).withColumnRenamed(
            "cluster", "_list"
        )
    )

    spark = corpus.sparkSession
    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(fitted)], ["_list", "_center"]
    )
    cand = _probe_lists(probes, centers, probe_id, probe_vec, nprobe).join(
        assigned, "_list"
    ).filter(F.col(probe_id) != F.col(corpus_id))
    return _rerank(cand, probe_id, corpus_id, F.col(probe_vec), F.col(corpus_vec), k)


#: Bump when the IVF index layout or assignment kernel changes
#: incompatibly; searches refuse to read a mismatched index.
IVF_FORMAT_VERSION = 1

#: ``compression`` was added round 8 WITHOUT a version bump: the field
#: reads as NULL from a pre-round-8 marker and NULL means "none", so
#: every existing index stays valid (the schema-read-with-missing-field
#: convention, not a layout change).
_IVF_MARKER_SCHEMA = (
    "format_version INT, n_lists INT, dim INT, seed INT, "
    "corpus_id STRING, corpus_vec STRING, compression STRING"
)


def _write_table(spark, path: str, rows: list, schema: str) -> None:
    """One small driver-built index table (``centers/``, a codec's
    tables) as one parquet file."""
    spark.createDataFrame(rows, schema).repartition(1).write.mode(
        "overwrite"
    ).parquet(path)


def _rowwise(return_type, fn):
    """Column → Column pandas UDF applying ``fn`` to each non-null
    value of a batch (nulls stay null) — the one row loop behind every
    codec's encode and decode."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(return_type)
    def _codec_rows(values: pd.Series) -> pd.Series:
        return pd.Series([None if v is None else fn(v) for v in values])

    return _codec_rows


class _Codec:
    """How a persisted IVF index stores its vectors — the
    ``compression`` of :func:`ivf_build`. Each codec keeps its fit, its
    table layout (writer :meth:`save` and reader ``_read``) and its row
    kernels (:meth:`encode`, :meth:`decode`) together, so the index
    entry points never branch on the compression.

    This base class is ``none``, the identity: ``lists/`` holds the raw
    vectors under the corpus column. The compressed codecs store one
    BINARY ``_code`` column and decode it to array<double> on the fly
    — asymmetric distance: probes stay full-precision, only the stored
    side is approximated. A fit is frozen at build like the centers:
    appends encode with the stored tables, and values the fit never
    saw cost recall, never correctness (visible in
    :func:`ivf_stats` / :func:`ivf_recall_check`).

    Construct with :meth:`fit` (build time) or :meth:`load` (from an
    index whose marker :func:`_ivf_marker_row` validated)."""

    def __init__(self, col: str):
        #: the ``lists/`` column that holds the stored vectors
        self.col = col

    @staticmethod
    def fit(
        compression: str,
        corpus: DataFrame,
        vec_col: str,
        dim: int,
        pq_m: int,
        seed: int,
        opq_iters: int,
    ) -> "_Codec":
        return _CODECS[compression]._fit(corpus, vec_col, dim, pq_m, seed, opq_iters)

    @staticmethod
    def load(spark, index_path: str, row) -> "_Codec":
        # NULL is a pre-compression marker: uncompressed
        codec = _CODECS[row["compression"] or "none"]
        return codec._read(spark, index_path, row["corpus_vec"], row["dim"])

    @classmethod
    def _fit(cls, corpus, vec_col, dim, pq_m, seed, opq_iters) -> "_Codec":
        return cls(vec_col)

    @classmethod
    def _read(cls, spark, index_path, vec_col, dim) -> "_Codec":
        return cls(vec_col)

    def save(self, spark, index_path: str) -> None:
        """Write the codec's tables under ``index_path`` (none: none)."""

    def encode(self, vec: Column) -> Column:
        """array<float> → the value stored under :attr:`col`."""
        return vec

    def decode(self, stored: Column) -> Column:
        """The value stored under :attr:`col` → array<double>."""
        return stored


class _Sq8Codec(_Codec):
    """int8 scalar quantization. ``quant/`` holds one
    ``(_d, _lo, _hi)`` row per dimension: the corpus's per-dimension
    (min, max). ``code[d] = clip(round((x[d] − lo[d]) / (hi[d] − lo[d])
    · 255))`` (constant dimensions encode 0; appended values outside
    the frozen bounds clamp), decoded as ``lo[d] + code[d] · (hi[d] −
    lo[d]) / 255``."""

    def __init__(self, lo: list, hi: list):
        super().__init__("_code")
        self.lo, self.hi = lo, hi

    @classmethod
    def _from_rows(cls, rows, dim: int) -> "_Sq8Codec":
        lo = [0.0] * dim
        hi = [0.0] * dim
        for r in rows:
            lo[r["_d"]] = float(r["_lo"])
            hi[r["_d"]] = float(r["_hi"])
        return cls(lo, hi)

    @classmethod
    def _fit(cls, corpus, vec_col, dim, pq_m, seed, opq_iters):
        # one posexplode to (dim index, value) rows that combine
        # map-side down to ``dim`` rows per partition before the single
        # narrow shuffle; the collect is ``dim`` rows
        rows = (
            corpus.select(F.posexplode_outer(F.col(vec_col)).alias("_d", "_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy("_d")
            .agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
            .collect()
        )
        return cls._from_rows(rows, dim)

    @classmethod
    def _read(cls, spark, index_path, vec_col, dim):
        return cls._from_rows(spark.read.parquet(f"{index_path}/quant").collect(), dim)

    def save(self, spark, index_path):
        _write_table(
            spark,
            f"{index_path}/quant",
            [(d, self.lo[d], self.hi[d]) for d in range(len(self.lo))],
            "_d INT, _lo DOUBLE, _hi DOUBLE",
        )

    def encode(self, vec):
        from pyspark.sql.types import BinaryType

        lo = np.asarray(self.lo, dtype=np.float64)
        span = np.asarray(self.hi, dtype=np.float64) - lo
        span[span == 0] = 1.0

        def code(v):
            x = (np.asarray(v, dtype=np.float64) - lo) / span
            return np.clip(np.round(x * 255.0), 0, 255).astype(np.uint8).tobytes()

        return _rowwise(BinaryType(), code)(vec)

    def decode(self, stored):
        from pyspark.sql.types import ArrayType, DoubleType

        lo = np.asarray(self.lo, dtype=np.float64)
        step = (np.asarray(self.hi, dtype=np.float64) - lo) / 255.0
        return _rowwise(
            ArrayType(DoubleType()),
            lambda c: (lo + np.frombuffer(c, dtype=np.uint8) * step).tolist(),
        )(stored)


class _PqCodec(_Codec):
    """Product quantization (Jégou et al. 2011): ``pq_m`` contiguous
    subspaces, each with a 256-entry codebook fitted by Lloyd's on one
    deterministic content-hash sample of the corpus (the kmeans_fit
    sampling). ``quant/`` holds one ``(_sub, _code, _center)`` row per
    codebook entry. A code is, per subspace, the argmin-distance entry
    (ties to the lowest code) — one byte each; decode concatenates the
    entries. ``rot`` (set by :class:`_OpqCodec`) rotates a vector into
    the codebooks' coordinates before encoding and a reconstruction
    back after decoding, so search kernels never see it."""

    def __init__(self, books: np.ndarray, rot: np.ndarray | None = None):
        super().__init__("_code")
        self.books = np.ascontiguousarray(books, dtype=np.float64)  # (m, 256, sub)
        self.rot = rot

    @staticmethod
    def _sample(corpus, vec_col: str, dim: int, pq_m: int) -> np.ndarray:
        from .clustering import _fit_sample_matrix

        if pq_m < 1 or dim % pq_m != 0:
            raise ValueError(
                f"pq_m must divide the vector dimension ({dim}), got {pq_m}"
            )
        # empty corpora are refused upstream (ivf_build's head check)
        # and by _fit_sample_matrix itself
        return _fit_sample_matrix(corpus, vec_col, 16384)

    @staticmethod
    def _fit_books(sample: np.ndarray, pq_m: int, seed: int, iters: int) -> np.ndarray:
        """``pq_m`` independent 256-center Lloyd's runs over contiguous
        slices of the sample (pq and opq both fit through here).
        Returns (pq_m, 256, dim/pq_m)."""
        from .clustering import _lloyd

        sub = sample.shape[1] // pq_m
        return np.stack(
            [
                _lloyd(
                    np.ascontiguousarray(sample[:, j * sub : (j + 1) * sub]),
                    256,
                    seed + j,
                    max_iter=iters,
                    tol=1e-6,
                )
                for j in range(pq_m)
            ]
        )

    @classmethod
    def _fit(cls, corpus, vec_col, dim, pq_m, seed, opq_iters):
        return cls(cls._fit_books(cls._sample(corpus, vec_col, dim, pq_m), pq_m, seed, 20))

    @classmethod
    def _read(cls, spark, index_path, vec_col, dim):
        rows = spark.read.parquet(f"{index_path}/quant").collect()
        m = max(r["_sub"] for r in rows) + 1
        books = np.zeros((m, 256, len(rows[0]["_center"])), dtype=np.float64)
        for r in rows:
            books[r["_sub"], r["_code"]] = r["_center"]
        return cls(books)

    def save(self, spark, index_path):
        _write_table(
            spark,
            f"{index_path}/quant",
            [
                (j, c, [float(x) for x in self.books[j, c]])
                for j in range(self.books.shape[0])
                for c in range(256)
            ],
            "_sub INT, _code INT, _center ARRAY<DOUBLE>",
        )

    def encode(self, vec):
        from pyspark.sql.types import BinaryType

        cb = self.books
        m, _, sub = cb.shape
        cb2 = (cb * cb).sum(axis=2)  # (m, 256)
        rm = None if self.rot is None else np.ascontiguousarray(self.rot, dtype=np.float64)

        def code(v):
            x = np.asarray(v, dtype=np.float64)
            if rm is not None:
                x = x @ rm
            # (m, 256) distances via the |c|² − 2x·c expansion
            d = cb2 - 2.0 * np.einsum("mks,ms->mk", cb, x.reshape(m, sub))
            return d.argmin(axis=1).astype(np.uint8).tobytes()

        return _rowwise(BinaryType(), code)(vec)

    def decode(self, stored):
        from pyspark.sql.types import ArrayType, DoubleType

        cb = self.books
        m = cb.shape[0]
        rt = None if self.rot is None else np.ascontiguousarray(self.rot.T, dtype=np.float64)

        def vec(c):
            y = cb[np.arange(m), np.frombuffer(c, dtype=np.uint8)].reshape(-1)
            return (y if rt is None else y @ rt).tolist()

        return _rowwise(ArrayType(DoubleType()), vec)(stored)


class _OpqCodec(_PqCodec):
    """Optimized Product Quantization (Ge et al. 2013, the
    non-parametric OPQ-NP alternation): PQ behind a learned ORTHOGONAL
    rotation R, so the contiguous-subspace split lands on decorrelated
    coordinates — plain PQ's quantization error concentrates wherever
    the data's covariance straddles subspace boundaries, and real
    embedding manifolds (unlike isotropic Gaussians) always straddle.
    ``quant_rot/`` holds one ``(_row, _vals)`` row per row of R.

    The fit alternates over the PQ sample: (a) fix R, fit per-subspace
    codebooks on X·R with a few Lloyd's iterations; (b) fix the codes'
    reconstructions Ŷ, update R by orthogonal Procrustes (SVD of XᵀŶ:
    R = U·Vᵀ — unique up to degenerate singular values, and
    column/row sign flips cancel in the product, so the result is
    deterministic). A final full-strength codebook fit runs on the
    converged rotation."""

    @classmethod
    def _fit(cls, corpus, vec_col, dim, pq_m, seed, opq_iters):
        if opq_iters < 1:
            raise ValueError(f"opq_iters must be >= 1, got {opq_iters}")
        X = cls._sample(corpus, vec_col, dim, pq_m)
        sub = dim // pq_m

        def _reconstruct(Y: np.ndarray, books: np.ndarray) -> np.ndarray:
            out = np.empty_like(Y)
            for j in range(pq_m):
                S = Y[:, j * sub : (j + 1) * sub]
                C = books[j]
                d = (C * C).sum(axis=1)[None, :] - 2.0 * (S @ C.T)
                out[:, j * sub : (j + 1) * sub] = C[d.argmin(axis=1)]
            return out

        R = np.eye(dim)
        for _ in range(opq_iters):
            Y = X @ R
            books = cls._fit_books(Y, pq_m, seed, 4)  # cheap inner fits
            u, _, vt = np.linalg.svd(X.T @ _reconstruct(Y, books))
            R = u @ vt
        return cls(cls._fit_books(X @ R, pq_m, seed, 20), R)

    @classmethod
    def _read(cls, spark, index_path, vec_col, dim):
        codec = super()._read(spark, index_path, vec_col, dim)
        rows = spark.read.parquet(f"{index_path}/quant_rot").collect()
        codec.rot = np.zeros((len(rows), len(rows)), dtype=np.float64)
        for r in rows:
            codec.rot[r["_row"]] = r["_vals"]
        return codec

    def save(self, spark, index_path):
        super().save(spark, index_path)
        _write_table(
            spark,
            f"{index_path}/quant_rot",
            [(i, [float(x) for x in self.rot[i]]) for i in range(self.rot.shape[0])],
            "_row INT, _vals ARRAY<DOUBLE>",
        )


#: ``compression`` name → codec; the only place a codec is registered.
_CODECS = {"none": _Codec, "sq8": _Sq8Codec, "pq": _PqCodec, "opq": _OpqCodec}
_IVF_COMPRESSIONS = tuple(_CODECS)


def _coded_lists(
    vectors: DataFrame, corpus_id: str, corpus_vec: str, centers: list, codec: _Codec
) -> DataFrame:
    """``lists/`` rows for ``vectors``: (corpus_id, the codec's stored
    vector, ``_list``) — nearest-center assignment against the fixed
    centers (:func:`.clustering._assign_to_centers`), then encode."""
    from .clustering import _assign_to_centers

    assigned = _assign_to_centers(
        vectors.select(corpus_id, corpus_vec), corpus_vec, centers
    )
    return assigned.select(
        corpus_id,
        codec.encode(F.col(corpus_vec)).alias(codec.col),
        F.col("cluster").alias("_list"),
    )


def ivf_build(
    corpus: DataFrame,
    index_path: str,
    n_lists: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
    centers: list | None = None,
    compression: str = "none",
    pq_m: int = 8,
    opq_iters: int = 8,
) -> None:
    """Build a PERSISTED IVF index at ``index_path`` — the build-once/
    probe-many form of :func:`ivf_topk` (which refits per call).
    Layout:

    - ``lists/`` — the corpus (id, vector) written ``partitionBy`` its
      nearest-center list id, so a search reads only the probed lists'
      partitions (static partition pruning, plan-assertable);
    - ``centers/`` — the k fitted centroids (tiny);
    - ``format`` — marker pinning (version, n_lists, dim, seed,
      column names), written LAST (the marker is the commit; a crash
      mid-build leaves a marker-less dir the next build overwrites).
      On a REBUILD over an existing index the old marker is deleted
      BEFORE the first write to ``lists/`` (but AFTER validation and
      the fit, so a refused call or a crash mid-fit leaves the old
      index fully valid) — otherwise a crash between overwriting
      ``lists/`` and rewriting the marker would leave the old
      still-valid marker over new lists and/or stale centers, and
      ``ivf_search`` would accept the torn index and probe the wrong
      lists silently (round-6 review; window narrowed round 7).
      Delete-marker → write → re-mark makes every destructive crash
      window land in the refused marker-less state.

    Assignment uses the persisted-centers kernel
    (``clustering._assign_to_centers``) and the fit is the content-
    hash-sampled deterministic ``clustering.kmeans_fit``, so a build
    is a pure deterministic function of (corpus, seed) — partition-
    and rerun-invariant. Pass ``centers`` (e.g. from
    ``clustering.load_centers``) to skip the fit entirely, e.g. to
    rebuild an appended-to index under its ORIGINAL centers.

    ``compression="sq8"`` stores int8 scalar-quantized codes instead
    of raw float vectors: per-dimension (min, max) over the corpus
    (one narrow aggregate, persisted under ``quant/`` and frozen like
    the centers), ``code = round((x−min)/(max−min)·255)`` packed into
    ONE binary column — 4× smaller at rest, the fix for the index
    itself becoming the storage problem at corpus-scale embedding
    counts. Search decodes candidates on the fly (asymmetric
    distance: probes stay full-precision); recall cost is bounded by
    the quantization step — validate with :func:`ivf_recall_check`.

    ``compression="opq"`` is PQ behind a learned ORTHOGONAL rotation
    (Ge et al. 2013 OPQ-NP, ``opq_iters`` alternations on the bounded
    fit sample): the rotation decorrelates coordinates before the
    contiguous-subspace split, recovering most of the recall plain PQ
    loses on structured (real-embedding-like) manifolds at the SAME
    stored size — codes are identical bytes/row, plus one d×d rotation
    table read at probe time. On already-isotropic data it matches
    plain PQ (the rotation converges near a permutation). Decode
    rotates reconstructions BACK into the original space, so search
    kernels and recall checks are compression-agnostic.

    ``compression="pq"`` is product quantization (Jégou et
    al. 2011) — ``pq_m`` per-subspace 256-entry codebooks fitted from
    one deterministic corpus sample and frozen under ``quant/``; each
    vector stores ``pq_m`` BYTES (4·dim/pq_m× smaller than float32 —
    32× at dim=64/pq_m=8). Coarser than sq8; check recall with
    :func:`ivf_recall_check` and raise ``pq_m`` (finer subspaces)
    when it matters."""
    from ..fsutil import fs_delete, fs_exists, fs_write_json_row
    from ..sources.sinks import partitioned_overwrite
    from .clustering import kmeans_fit

    if compression not in _IVF_COMPRESSIONS:
        raise ValueError(
            f"unknown compression {compression!r} (valid: {_IVF_COMPRESSIONS})"
        )
    spark = corpus.sparkSession
    head = corpus.select(corpus_vec).head()
    if head is None:
        raise ValueError("cannot build an IVF index over an empty corpus")
    dim = len(head[0])
    if centers is not None and len(centers) != n_lists:
        raise ValueError(
            f"supplied centers have {len(centers)} lists, n_lists={n_lists}"
        )
    if centers is None:
        centers = kmeans_fit(
            corpus, vec_col=corpus_vec, n_clusters=n_lists, seed=seed
        )
    # the codec fit also runs BEFORE the un-commit below
    codec = _Codec.fit(compression, corpus, corpus_vec, dim, pq_m, seed, opq_iters)
    # un-commit as LATE as possible — after input validation AND the
    # (potentially long) fits, immediately before the first write to
    # lists/. A failure anywhere up to here leaves the old index
    # fully valid; a crash after this point leaves the loudly-refused
    # marker-less state (round-7 review narrowed the destruction
    # window from "includes the whole fit" to "the writes only").
    marker_path = f"{index_path}/format"
    if fs_exists(spark, marker_path):
        fs_delete(spark, marker_path)
    # one file per list (a measured 4x faster single-node write than
    # every task writing into every list); parallelism is bounded by
    # n_lists, which is sized to the cluster anyway. A rebuild with
    # fewer lists truncates the stale list dirs.
    partitioned_overwrite(
        _coded_lists(corpus, corpus_id, corpus_vec, centers, codec), "_list"
    ).parquet(f"{index_path}/lists")
    codec.save(spark, index_path)
    _write_table(
        spark,
        f"{index_path}/centers",
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "_list INT, _center ARRAY<DOUBLE>",
    )
    fs_write_json_row(
        spark, f"{index_path}/format", _IVF_MARKER_SCHEMA,
        (
            IVF_FORMAT_VERSION,
            n_lists,
            dim,
            seed,
            corpus_id,
            corpus_vec,
            compression,
        ),
    )


def ivf_search(
    probes: DataFrame,
    index_path: str,
    k: int,
    nprobe: int = 4,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
) -> DataFrame:
    """Search a persisted :func:`ivf_build` index: top-``k`` corpus
    neighbors per probe by exact-rescored cosine, scanning only each
    probe's ``nprobe`` nearest lists.

    The union of probed list ids is collected (bounded by ``n_lists``
    — an index CONFIG scalar, never corpus-sized) and pushed into the
    lists read as a partition filter, so the scan touches only the
    needed ``_list=`` directories. Returns (probe_id, corpus_id,
    cosine_sim). Refuses a marker-less or mismatched-format index."""
    from ..caching import tracked_persist

    spark = probes.sparkSession
    row = _ivf_marker_row(spark, index_path)
    corpus_id = row["corpus_id"]
    probe_lists = tracked_persist(
        _probe_lists(
            probes, spark.read.parquet(f"{index_path}/centers"),
            probe_id, probe_vec, nprobe,
        )
    )
    # bounded driver collect: ≤ n_lists ints (an index parameter)
    needed = [r["_list"] for r in probe_lists.select("_list").distinct().collect()]
    lists = spark.read.parquet(f"{index_path}/lists").filter(
        F.col("_list").isin(needed)
    )
    cand = probe_lists.join(lists, "_list").filter(
        F.col(probe_id) != F.col(corpus_id)
    )
    codec = _Codec.load(spark, index_path, row)
    return _rerank(
        cand, probe_id, corpus_id, F.col(probe_vec), codec.decode(F.col(codec.col)), k
    )


def ivf_append(
    new_vectors: DataFrame,
    index_path: str,
) -> None:
    """Append vectors to a persisted :func:`ivf_build` index: assign
    with the STORED centers (the same deterministic kernel every
    existing row went through, so the index stays internally
    consistent) and append part files into the matching ``_list=``
    partitions — no rewrite of existing data, no refit.

    The center set is frozen at build time, which is standard IVF
    practice: appended mass can drift from the centroids, degrading
    the candidate-list balance (never correctness — the search's
    exact rerank is unchanged and recall follows the same nprobe
    math); rebuild when the drift matters. Column names and format
    come from the index marker; a marker-less or mismatched index
    refuses. Appending the same batch twice duplicates rows (appends
    are appends) — compose with an id anti-join against the lists
    table for idempotent ingestion."""
    spark = new_vectors.sparkSession
    row = _ivf_marker_row(spark, index_path)
    centers_df = spark.read.parquet(f"{index_path}/centers").orderBy("_list")
    centers = [list(r["_center"]) for r in centers_df.collect()]
    # encode with the STORED codec tables, frozen at build like the centers
    codec = _Codec.load(spark, index_path, row)
    assigned = _coded_lists(
        new_vectors, row["corpus_id"], row["corpus_vec"], centers, codec
    )
    # same repartition-before-partitionBy shape as ivf_build: one new
    # file per touched list per append, not per task per list
    assigned.repartition("_list").write.partitionBy("_list").mode(
        "append"
    ).parquet(f"{index_path}/lists")


def _ivf_marker_row(spark, index_path: str):
    """Read + validate the index marker (shared by search/append/stats)."""
    from ..fsutil import fs_exists, fs_read_json_row

    marker = f"{index_path}/format"
    if not fs_exists(spark, marker):
        raise ValueError(
            f"no IVF index marker at {marker} — run ivf_build() first "
            "(a marker-less dir is an aborted build; rebuild it)."
        )
    row = fs_read_json_row(spark, marker, _IVF_MARKER_SCHEMA)
    if row is None or row["format_version"] != IVF_FORMAT_VERSION:
        raise ValueError(
            f"IVF index at {index_path} has format version "
            f"{None if row is None else row['format_version']}, need "
            f"{IVF_FORMAT_VERSION} — rebuild the index."
        )
    comp = row["compression"] or "none"
    if comp not in _IVF_COMPRESSIONS:
        # an UNRECOGNIZED compression must refuse, not fall through to
        # the uncompressed branch: a newer build's codec read by an
        # older reader would die on a missing column in search — and
        # ivf_append would write raw float rows into a coded lists/
        # dir, silently corrupting the index (round-8 review)
        raise ValueError(
            f"IVF index at {index_path} uses compression {comp!r}, "
            f"which this build does not support "
            f"(supported: {_IVF_COMPRESSIONS}) — upgrade the reader or "
            "rebuild the index uncompressed."
        )
    return row


def ivf_stats(spark, index_path: str) -> DataFrame:
    """Per-list health report for a persisted :func:`ivf_build` index —
    the drift signal :func:`ivf_append` points at ("rebuild when the
    drift matters"): one scan of ``lists/`` joined to the broadcast
    centers, aggregated to ``n_lists`` rows of

    - ``_list`` — the list id (every center appears, even empty lists);
    - ``n_vectors`` — rows assigned to the list (0 for empty);
    - ``mean_center_dist`` — mean Euclidean distance of the list's
      vectors to its own centroid (NULL for empty lists).

    A fresh build is roughly balanced with tight distances; append-only
    mass that drifted from the build-time distribution piles into few
    lists (``n_vectors`` skews) and sits far from the frozen centroids
    (``mean_center_dist`` inflates). Feed the result to
    :func:`ivf_rebuild_advised` for a thresholded yes/no."""
    row = _ivf_marker_row(spark, index_path)
    vec = row["corpus_vec"]
    codec = _Codec.load(spark, index_path, row)
    # distances over the DECODED vectors — what the search actually
    # ranks with, so drift readings match search behavior (the centers
    # live in the original space; opq decodes back into it)
    lists = spark.read.parquet(f"{index_path}/lists").withColumn(
        vec, codec.decode(F.col(codec.col))
    )
    centers = spark.read.parquet(f"{index_path}/centers")
    d2 = _sq_dist(F.col(vec), F.col("_center"))
    per_list = (
        lists.join(F.broadcast(centers), "_list")
        .groupBy("_list")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg(F.sqrt(d2)).alias("mean_center_dist"),
        )
    )
    # left join FROM centers so empty lists report n_vectors=0 instead
    # of vanishing — an all-empty tail is itself a drift signal
    return (
        centers.select("_list")
        .join(per_list, "_list", "left")
        .select(
            "_list",
            F.coalesce(F.col("n_vectors"), F.lit(0)).alias("n_vectors"),
            "mean_center_dist",
        )
        .orderBy("_list")
    )


def ivf_rebuild_advised(
    spark,
    index_path: str,
    max_imbalance: float = 4.0,
    max_empty_frac: float = 0.25,
) -> tuple[bool, str]:
    """Thresholded rebuild guidance over :func:`ivf_stats`: advise a
    rebuild when the biggest list holds more than ``max_imbalance``×
    the mean list size, or more than ``max_empty_frac`` of the lists
    are empty. Both are the signatures of append-drifted mass — the
    frozen build-time centroids no longer partition the data, so
    per-probe candidate sets bloat (cost, never correctness: the
    exact rerank stands). Driver-side collect is the ``n_lists``-row
    stats table — an index CONFIG scalar, never corpus-sized."""
    rows = ivf_stats(spark, index_path).collect()
    n_lists = len(rows)
    counts = [r["n_vectors"] for r in rows]
    total = sum(counts)
    if total == 0:
        return True, "index has no vectors"
    empty = sum(1 for c in counts if c == 0)
    imbalance = max(counts) / (total / n_lists)
    if imbalance > max_imbalance:
        return True, (
            f"largest list holds {imbalance:.1f}x the mean list size "
            f"(threshold {max_imbalance}) — appended mass has drifted "
            "from the build-time centroids; rebuild"
        )
    if empty / n_lists > max_empty_frac:
        return True, (
            f"{empty}/{n_lists} lists are empty "
            f"(threshold {max_empty_frac:.0%}) — rebuild"
        )
    return False, (
        f"balanced: max/mean={imbalance:.2f}, {empty}/{n_lists} empty"
    )


def ivf_recall_check(
    probes: DataFrame,
    corpus: DataFrame,
    index_path: str,
    k: int = 10,
    nprobe: int = 4,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> dict:
    """Recall@k of the persisted index against EXACT brute-force cosine
    over the original ``corpus`` — the validation knob for both probe
    breadth (``nprobe``) and SQ8 quantization loss. Returns
    ``{"n_probes", "k", "recall_at_k"}`` where recall is the mean
    per-probe overlap fraction between the index's top-k and the exact
    top-k.

    The probe set must be a bounded SAMPLE (the same broadcast-side
    contract as ``cosine_topk_bruteforce_np`` — this is an audit, not
    a production query); the corpus streams through one exact scan.
    Driver traffic is 2·|probes|·k id pairs."""
    exact = cosine_topk_bruteforce_np(
        probes,
        corpus,
        k,
        probe_id=probe_id,
        corpus_id=corpus_id,
        probe_vec=probe_vec,
        corpus_vec=corpus_vec,
    )
    approx = ivf_search(
        probes, index_path, k=k, nprobe=nprobe,
        probe_id=probe_id, probe_vec=probe_vec,
    )
    want: dict = {}
    for r in exact.collect():
        want.setdefault(r[probe_id], set()).add(r[corpus_id])
    got: dict = {}
    for r in approx.collect():
        got.setdefault(r[probe_id], set()).add(r[corpus_id])
    if not want:
        return {"n_probes": 0, "k": k, "recall_at_k": None}
    recalls = [
        len(want[p] & got.get(p, set())) / len(want[p]) for p in want
    ]
    return {
        "n_probes": len(want),
        "k": k,
        "recall_at_k": sum(recalls) / len(recalls),
    }
