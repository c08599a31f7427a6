"""ANN operators: LSH top-k recall against exact brute force."""

import os

import pytest
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    out = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    yield out
    out.unpersist(blocking=True)


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def test_bruteforce_topk_shape(emb, probes):
    out = cosine_topk_bruteforce(probes, emb, k=5)
    rows = out.collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, group in by_probe.items():
        assert len(group) == 5
        sims = [g["cosine_sim"] for g in group]
        assert sims == sorted(sims, reverse=True)
        assert all(g["vec_id"] != pid for g in group)


def test_bruteforce_np_matches_quantized_hof(emb, probes):
    """The numpy mapInPandas kernel matches the interpreted
    qdot/qcosine HOF form it replaced (same HALF_UP quantization at
    1e12, same round-6, same tie-break) on the test corpus. The formal
    guarantee is equivalence up to HALF_UP representation boundaries
    (floor(v+0.5) on binary doubles vs BigDecimal HALF_UP on decimal
    representations) — see the kernel docstring."""
    from dbd_datawarehouse_scraper_spark.functions.vectors import qdot
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        cosine_topk_bruteforce_np,
    )
    from dbd_datawarehouse_scraper_spark.operators.windows import topk_per_group

    e = emb.select(
        "vec_id", "embedding", qdot(F.col("embedding"), F.col("embedding")).alias("_qc")
    )
    p = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        qdot(F.col("embedding"), F.col("embedding")).alias("_qp"),
    )
    qd = qdot(F.col("pe"), F.col("embedding"))
    hof = topk_per_group(
        F.broadcast(p)
        .crossJoin(e)
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(
                F.when(
                    (F.col("_qp") == 0) | (F.col("_qc") == 0), F.lit(0.0)
                ).otherwise(
                    qd.cast("double")
                    / (
                        F.sqrt(F.col("_qp").cast("double"))
                        * F.sqrt(F.col("_qc").cast("double"))
                    )
                ),
                6,
            ).alias("cosine_sim"),
        ),
        ["probe_id"],
        [F.col("cosine_sim").desc(), F.col("vec_id").asc()],
        5,
    )
    np_out = cosine_topk_bruteforce_np(probes, emb, k=5)
    assert sorted(map(tuple, np_out.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, hof.collect()), key=lambda t: t[:2]
    )


def test_bruteforce_np_null_hygiene(spark, emb, probes):
    """Null ids, null vectors, ragged vectors and empty partitions must
    not kill the kernel (ADVICE r2: np.stack raises on an empty batch
    and produces an object array on ragged input). Bad rows are
    excluded; results on the clean subset are unchanged."""
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        cosine_topk_bruteforce_np,
    )

    clean = cosine_topk_bruteforce_np(probes, emb, k=3).collect()

    dim = len(emb.select("embedding").first()[0])
    base = emb.select("vec_id", "embedding")
    dirty = base.unionByName(
        spark.createDataFrame(
            [
                (None, [0.5] * dim),          # null id
                (900001, None),               # null vector
                (900002, [0.5] * (dim - 3)),  # ragged vector
            ],
            "vec_id long, embedding array<float>",
        )
    ).repartition(64)  # force some empty partitions (rows << partitions)
    dirty_out = cosine_topk_bruteforce_np(probes, dirty, k=3).collect()
    key = lambda t: (t[0], t[1])
    assert sorted(map(tuple, dirty_out), key=key) == sorted(map(tuple, clean), key=key)

    # null/ragged probes are likewise dropped, not fatal
    bad_probes = spark.createDataFrame(
        [(1, None), (2, [0.1] * (dim - 1)), (None, [0.1] * dim)],
        "probe_id long, probe_vec array<float>",
    )
    assert cosine_topk_bruteforce_np(bad_probes, emb, k=3).count() == 0


def test_lsh_recall_vs_bruteforce(emb, probes):
    exact = cosine_topk_bruteforce(probes, emb, k=10).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])

    approx = cosine_topk_lsh(
        probes, emb, k=10, dim=64, bands=16, bits_per_band=2
    ).collect()
    got = {}
    for r in approx:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])

    recalls = [
        len(truth[p] & got.get(p, set())) / len(truth[p]) for p in truth
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 bands × 2 bits: near-neighbors share ≥1 band with high prob
    assert mean_recall >= 0.6, f"mean recall {mean_recall:.2f}"


def test_embedding_cosine_dedup_exact_and_perturbed(spark, emb):
    """Cosine near-dup dedup: exact duplicates MUST all be found
    (identical vectors share every band bucket); perturbed near-dups
    (one component scaled 5%) are recalled with high probability; the
    exact verify guarantees precision — every returned pair really is
    above threshold (checked against numpy brute force)."""
    import numpy as np
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        embedding_cosine_dedup,
    )

    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 200)
    exact_dups = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    perturbed = base.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x * F.lit(1.05)).otherwise(x),
        ).cast("array<float>").alias("embedding"),
    )
    corpus = base.unionByName(exact_dups).unionByName(perturbed)

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_dedup(corpus, threshold=0.9, dim=64).collect()
    }

    # numpy brute-force truth over the same corpus
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j, s in zip(iu[0], iu[1], sims[iu])
        if s >= 0.9005  # margin clear of the quantized-round boundary
    }
    loose = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j, s in zip(iu[0], iu[1], sims[iu])
        if s >= 0.8995
    }

    # precision: nothing below threshold survives the exact verify
    assert got <= loose
    # exact duplicates: guaranteed recall
    exact_pairs = {(int(i), int(i) + 100000) for i in ids if i < 200}
    assert exact_pairs <= got
    # perturbed near-dups: high recall
    assert truth, "fixture must create near-dup pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"recall {recall:.2f}"


def test_ivf_recall_vs_bruteforce(emb, probes):
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import ivf_topk

    exact = cosine_topk_bruteforce(probes, emb, k=10).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])

    approx = ivf_topk(probes, emb, k=10, n_lists=8, nprobe=4).collect()
    got = {}
    for r in approx:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])

    recalls = [len(truth[p] & got.get(p, set())) / len(truth[p]) for p in truth]
    mean_recall = sum(recalls) / len(recalls)
    # nprobe=half the lists → most near-neighbors inside probed cells
    assert mean_recall >= 0.6, f"mean recall {mean_recall:.2f}"


def test_qcosine_pandas_matches_hof(spark):
    """The Arrow-vectorized quantized-cosine kernel must be bit-identical
    to functions.vectors.qcosine (the interpreted HOF form) on random
    vectors including zero vectors."""
    import random

    from dbd_datawarehouse_scraper_spark.functions.vectors import qcosine
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        _qcosine_pandas,
    )

    rng = random.Random(3)
    rows = []
    for i in range(300):
        a = [rng.uniform(-1, 1) for _ in range(16)]
        b = [rng.uniform(-1, 1) for _ in range(16)]
        if i % 50 == 0:
            a = [0.0] * 16  # zero-norm edge
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>")
    hof = {r["i"]: r["c"] for r in df.select("i", qcosine(F.col("a"), F.col("b")).alias("c")).collect()}
    np_ = {r["i"]: r["c"] for r in df.select("i", _qcosine_pandas(F.col("a"), F.col("b")).alias("c")).collect()}
    assert hof == np_


def test_ivf_persisted_index_build_search(spark, emb, probes, tmp_path):
    """ivf_build/ivf_search: build once, probe many — recall on par
    with the refit-per-call ivf_topk; two searches against the same
    index are bit-identical (persisted centers kill the refit
    nondeterminism); the lists scan carries a PartitionFilters prune
    to the probed lists only; loud refusals on missing/mismatched
    markers."""
    import re

    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_build,
        ivf_search,
    )

    idx = str(tmp_path / "ivf")
    ivf_build(emb, idx, n_lists=8)

    exact = cosine_topk_bruteforce(probes, emb, k=10).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["probe_id"], set()).add(r["vec_id"])

    out = ivf_search(probes, idx, k=10, nprobe=4)
    rows = out.collect()
    got = {}
    for r in rows:
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])
    recalls = [len(truth[p] & got.get(p, set())) / len(truth[p]) for p in truth]
    assert sum(recalls) / len(recalls) >= 0.6

    # probe-many determinism: the SAME index, twice -> identical result
    again = sorted(map(tuple, ivf_search(probes, idx, k=10, nprobe=4).collect()))
    assert sorted(map(tuple, rows)) == again

    # partition pruning reaches the lists scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("_list" in f for f in filters), (filters, plan[:800])

    from dbd_datawarehouse_scraper_spark.caching import release_caches

    release_caches()

    with pytest.raises(ValueError, match="marker"):
        ivf_search(probes, str(tmp_path / "nowhere"), k=5)
    # version mismatch: corrupt the marker
    spark.createDataFrame(
        [(99, 8, 64, 42, "vec_id", "embedding")],
        "format_version INT, n_lists INT, dim INT, seed INT, "
        "corpus_id STRING, corpus_vec STRING",
    ).coalesce(1).write.mode("overwrite").json(f"{idx}/format")
    with pytest.raises(ValueError, match="format version"):
        ivf_search(probes, idx, k=5)


def test_ivf_build_empty_corpus_refused(spark, emb, tmp_path):
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_build,
    )

    with pytest.raises(ValueError, match="empty corpus"):
        ivf_build(emb.filter(F.col("vec_id") < 0), str(tmp_path / "e"))


def test_ivf_append_equals_direct_build_same_centers(spark, emb, probes, tmp_path):
    """ivf_append: build on half the corpus, append the other half —
    searches must equal an index built directly over the full corpus
    with the SAME centers (assignment is a pure function of
    (row, centers), and appends only add part files)."""
    from dbd_datawarehouse_scraper_spark.operators.clustering import kmeans_fit
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_search,
    )

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    centers = kmeans_fit(emb, n_clusters=8)

    full_idx = str(tmp_path / "full")
    grown_idx = str(tmp_path / "grown")
    ivf_build(emb, full_idx, n_lists=8, centers=centers)
    ivf_build(half_a, grown_idx, n_lists=8, centers=centers)
    ivf_append(half_b, grown_idx)

    # every corpus row present exactly once after the append
    lists = spark.read.parquet(f"{grown_idx}/lists")
    assert lists.count() == emb.count()
    assert lists.select("vec_id").distinct().count() == emb.count()

    a = sorted(map(tuple, ivf_search(probes, full_idx, k=10, nprobe=4).collect()))
    from dbd_datawarehouse_scraper_spark.caching import release_caches

    release_caches()
    b = sorted(map(tuple, ivf_search(probes, grown_idx, k=10, nprobe=4).collect()))
    release_caches()
    assert a == b

    # marker-less target refuses
    with pytest.raises(ValueError, match="marker"):
        ivf_append(half_b, str(tmp_path / "nowhere"))

    # mismatched n_lists vs supplied centers refuses at build
    with pytest.raises(ValueError, match="n_lists"):
        ivf_build(emb, str(tmp_path / "bad"), n_lists=4, centers=centers)


def test_ivf_rebuild_crash_leaves_refused_markerless_dir(
    spark, emb, probes, tmp_path, monkeypatch
):
    """Round-6 review: a crash MID-REBUILD must never leave the OLD
    still-valid marker over new lists / stale centers (ivf_search
    would accept the torn index and probe the wrong lists silently).
    ivf_build deletes the marker before touching lists/centers, so
    every crash window lands in the loudly-refused marker-less state;
    a refused call (bad args / empty corpus) keeps the old index
    intact."""
    from dbd_datawarehouse_scraper_spark.operators import clustering
    from dbd_datawarehouse_scraper_spark.operators.clustering import kmeans_fit
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_build,
        ivf_search,
    )

    idx = str(tmp_path / "idx")
    ivf_build(emb, idx, n_lists=8)
    ok = ivf_search(probes, idx, k=5, nprobe=2)
    assert ok.count() > 0

    # a REFUSED rebuild (validation error) leaves the old index valid
    centers8 = kmeans_fit(emb, n_clusters=8)
    with pytest.raises(ValueError, match="empty corpus"):
        ivf_build(emb.filter(F.col("vec_id") < 0), idx, n_lists=8)
    with pytest.raises(ValueError, match="n_lists"):
        ivf_build(emb, idx, n_lists=4, centers=centers8)
    assert ivf_search(probes, idx, k=5, nprobe=2).count() > 0

    # a crash during the FIT (potentially hours at scale) leaves the
    # old index fully valid — the marker is only deleted after the fit
    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-rebuild")

    monkeypatch.setattr(clustering, "kmeans_fit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ivf_build(emb, idx, n_lists=8)
    monkeypatch.undo()
    assert ivf_search(probes, idx, k=5, nprobe=2).count() > 0

    # a crash during the WRITES leaves a marker-less dir that search
    # refuses — never a torn-but-accepted index
    monkeypatch.setattr(clustering, "_assign_to_centers", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ivf_build(emb, idx, n_lists=8)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="marker"):
        ivf_search(probes, idx, k=5, nprobe=2)

    # a fresh build over the aborted dir recovers
    ivf_build(emb, idx, n_lists=8)
    assert ivf_search(probes, idx, k=5, nprobe=2).count() > 0


def test_ivf_stats_and_rebuild_guidance(spark, emb, tmp_path):
    """ivf_stats: one row per list (empty lists included at 0),
    counts sum to the corpus, distances are finite and non-negative.
    ivf_rebuild_advised: a fresh balanced build says no; an
    append-heavy drift (a shifted mass piling into whichever lists sit
    nearest the new mode) trips the imbalance threshold — the exact
    scenario ivf_append's docstring defers to 'rebuild when the drift
    matters'."""
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_rebuild_advised,
        ivf_stats,
    )

    idx = str(tmp_path / "idx")
    ivf_build(emb, idx, n_lists=8)
    n = emb.count()

    stats = ivf_stats(spark, idx).collect()
    assert [r["_list"] for r in stats] == list(range(8))
    assert sum(r["n_vectors"] for r in stats) == n
    for r in stats:
        if r["n_vectors"] > 0:
            assert r["mean_center_dist"] is not None
            assert r["mean_center_dist"] >= 0.0
        else:
            assert r["mean_center_dist"] is None

    advised, why = ivf_rebuild_advised(spark, idx)
    assert not advised, why

    # append 3x the corpus as a single far-away mode: every appended
    # row lands in the one list whose center is nearest the new mode,
    # so max/mean list size blows past the threshold
    shifted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.0) + F.lit(50.0)).cast("float")
        ).alias("embedding"),
    )
    for i in range(3):
        ivf_append(
            shifted.select(
                (F.col("vec_id") + i * n).alias("vec_id"), "embedding"
            ),
            idx,
        )

    stats2 = {r["_list"]: r for r in ivf_stats(spark, idx).collect()}
    assert sum(r["n_vectors"] for r in stats2.values()) == 4 * n
    # the drifted mass concentrates: some list now holds >= 3n rows
    assert max(r["n_vectors"] for r in stats2.values()) >= 3 * n
    # and sits far from its (frozen) centroid
    fat = max(stats2.values(), key=lambda r: r["n_vectors"])
    assert fat["mean_center_dist"] > 10.0

    advised, why = ivf_rebuild_advised(spark, idx)
    assert advised
    assert "drifted" in why

    # stats refuses a marker-less dir like every other index entry point
    with pytest.raises(ValueError, match="marker"):
        ivf_stats(spark, str(tmp_path / "nowhere"))


# ------------------------------------------------------------------- sq8


def _dir_bytes(path):
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(".") and not f.endswith(".crc")
        )
    return total


def test_ivf_sq8_smaller_index_and_recall(spark, emb, probes, tmp_path):
    """The round-8 acceptance gates: the sq8 lists are >=3x smaller at
    rest than the float index, and recall@10 vs EXACT brute force
    stays >= 0.95 in the existing recall harness (nprobe = n_lists
    isolates pure quantization loss; the production nprobe=4 is also
    checked against the float index's own recall)."""
    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_build,
        ivf_recall_check,
        ivf_search,
    )

    fidx, qidx = str(tmp_path / "f"), str(tmp_path / "q")
    ivf_build(emb, fidx, n_lists=8)
    ivf_build(emb, qidx, n_lists=8, compression="sq8")

    assert _dir_bytes(f"{fidx}/lists") >= 3 * _dir_bytes(f"{qidx}/lists")

    rep = ivf_recall_check(probes, emb, qidx, k=10, nprobe=8)
    release_caches()
    assert rep["n_probes"] > 0
    assert rep["recall_at_k"] >= 0.95, rep

    # at the production nprobe the sq8 index keeps pace with float
    rep_f = ivf_recall_check(probes, emb, fidx, k=10, nprobe=4)
    rep_q = ivf_recall_check(probes, emb, qidx, k=10, nprobe=4)
    release_caches()
    assert rep_q["recall_at_k"] >= rep_f["recall_at_k"] - 0.05, (rep_f, rep_q)

    # probe-many determinism holds for the compressed form too
    a = sorted(map(tuple, ivf_search(probes, qidx, k=10, nprobe=4).collect()))
    b = sorted(map(tuple, ivf_search(probes, qidx, k=10, nprobe=4).collect()))
    release_caches()
    assert a == b

    with pytest.raises(ValueError, match="unknown compression"):
        ivf_build(emb, str(tmp_path / "x"), n_lists=8, compression="pq4")


def test_ivf_sq8_append_and_stats(spark, emb, probes, tmp_path):
    """Appends into an sq8 index encode with the STORED bounds (frozen
    like the centers): appended ids are searchable, rebuild-from-same-
    centers determinism holds, and ivf_stats decodes codes (non-null
    center distances)."""
    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_search,
        ivf_stats,
    )

    n = emb.count()
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "grow")
    ivf_build(half_a, idx, n_lists=8, compression="sq8")
    ivf_append(half_b, idx)

    stats = ivf_stats(spark, idx).collect()
    assert sum(r["n_vectors"] for r in stats) == n
    assert all(
        r["mean_center_dist"] is not None for r in stats if r["n_vectors"] > 0
    )

    got = ivf_search(probes, idx, k=10, nprobe=8).collect()
    release_caches()
    appended_ids = {r["vec_id"] for r in half_b.select("vec_id").collect()}
    assert {r["vec_id"] for r in got} & appended_ids, "appended rows unsearchable"


def test_ivf_pre_round8_marker_reads_as_uncompressed(spark, emb, probes, tmp_path):
    """A marker written before the compression field existed (the field
    is absent from the JSON) must read as compression=none — no version
    bump, every existing index stays valid."""
    import glob
    import os

    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_search,
    )
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_build,
    )

    idx = str(tmp_path / "old")
    ivf_build(emb, idx, n_lists=8)
    # rewrite the marker WITHOUT the compression field (the r7 schema)
    spark.createDataFrame(
        [(1, 8, 64, 42, "vec_id", "embedding")],
        "format_version INT, n_lists INT, dim INT, seed INT, "
        "corpus_id STRING, corpus_vec STRING",
    ).repartition(1).write.mode("overwrite").json(f"{idx}/format")
    for crc in glob.glob(f"{idx}/format/.*.crc"):
        os.remove(crc)
    out = ivf_search(probes, idx, k=5, nprobe=4).collect()
    release_caches()
    assert len(out) > 0


def test_ivf_pq_size_recall_append_and_stats(spark, emb, probes, tmp_path):
    """Product quantization: pq_m bytes per vector. The synthetic
    Gaussian embeddings are PQ's worst case (no manifold structure for
    the codebooks to exploit), so the pinned trade curve is the honest
    one: pq_m=8 (32x smaller) >= 0.6 recall@10, pq_m=32 (8x smaller —
    still 2x beyond sq8) >= 0.95, both at nprobe=n_lists (isolating
    quantization loss). Appends encode with the FROZEN codebooks,
    stats decode, invalid pq_m refuses."""
    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_recall_check,
        ivf_search,
        ivf_stats,
    )

    fidx, q8, q32 = str(tmp_path / "f"), str(tmp_path / "q8"), str(tmp_path / "q32")
    ivf_build(emb, fidx, n_lists=8)
    ivf_build(emb, q8, n_lists=8, compression="pq", pq_m=8)
    ivf_build(emb, q32, n_lists=8, compression="pq", pq_m=32)
    assert _dir_bytes(f"{fidx}/lists") >= 10 * _dir_bytes(f"{q8}/lists")
    assert _dir_bytes(f"{fidx}/lists") >= 4 * _dir_bytes(f"{q32}/lists")

    rep8 = ivf_recall_check(probes, emb, q8, k=10, nprobe=8)
    rep32 = ivf_recall_check(probes, emb, q32, k=10, nprobe=8)
    release_caches()
    assert rep8["recall_at_k"] >= 0.6, rep8
    assert rep32["recall_at_k"] >= 0.95, rep32
    qidx = q32

    # determinism: same index searched twice
    a = sorted(map(tuple, ivf_search(probes, qidx, k=5, nprobe=4).collect()))
    b = sorted(map(tuple, ivf_search(probes, qidx, k=5, nprobe=4).collect()))
    release_caches()
    assert a == b

    # append under frozen codebooks; stats decode
    n = emb.count()
    grow = str(tmp_path / "grow")
    ivf_build(emb.filter("vec_id % 2 = 0"), grow, n_lists=8,
              compression="pq", pq_m=8)
    ivf_append(emb.filter("vec_id % 2 = 1"), grow)
    stats = ivf_stats(spark, grow).collect()
    assert sum(r["n_vectors"] for r in stats) == n
    assert all(
        r["mean_center_dist"] is not None for r in stats if r["n_vectors"] > 0
    )
    got = ivf_search(probes, grow, k=5, nprobe=8).collect()
    release_caches()
    odd = {r["vec_id"] for r in got if r["vec_id"] % 2 == 1}
    assert odd, "appended (odd) rows unsearchable"

    with pytest.raises(ValueError, match="pq_m"):
        ivf_build(emb, str(tmp_path / "bad"), n_lists=8,
                  compression="pq", pq_m=7)  # 7 does not divide 64


@pytest.mark.slow
def test_ivf_opq_beats_pq_on_correlated_data(spark, tmp_path):
    """OPQ (Ge et al. 2013): a learned orthogonal rotation before the
    subspace split. On CORRELATED embeddings (decaying spectrum mixed
    by a dense rotation — the real-embedding shape; the module's PQ
    trade curve already pins the isotropic worst case) OPQ recovers a
    large slice of plain PQ's lost recall at IDENTICAL stored size
    (measured 0.63 → 0.74 recall@10 at dim=64/pq_m=8/nprobe=n_lists).
    Also: the opq index round-trips append+search with the FROZEN
    rotation, and repeated searches are deterministic."""
    import numpy as np

    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_recall_check,
        ivf_search,
    )

    rng = np.random.RandomState(7)
    d, n = 64, 3000
    decay = 0.93 ** np.arange(d)
    q, _ = np.linalg.qr(rng.randn(d, d))
    x = (rng.randn(n, d) * decay) @ q
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    emb.count()
    probes = emb.filter(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    pq_idx, opq_idx = str(tmp_path / "pq"), str(tmp_path / "opq")
    ivf_build(emb, pq_idx, n_lists=8, compression="pq", pq_m=8)
    ivf_build(emb, opq_idx, n_lists=8, compression="opq", pq_m=8)
    # identical bytes at rest: same pq_m codes per row
    assert abs(_dir_bytes(f"{pq_idx}/lists") - _dir_bytes(f"{opq_idx}/lists")) \
        < 0.1 * _dir_bytes(f"{pq_idx}/lists")
    rep_pq = ivf_recall_check(probes, emb, pq_idx, k=10, nprobe=8)
    rep_opq = ivf_recall_check(probes, emb, opq_idx, k=10, nprobe=8)
    release_caches()
    assert rep_opq["recall_at_k"] >= rep_pq["recall_at_k"] + 0.06, (
        rep_pq, rep_opq,
    )
    assert rep_opq["recall_at_k"] >= 0.70, rep_opq

    # determinism + append under the frozen rotation
    a = sorted(map(tuple, ivf_search(probes, opq_idx, k=5, nprobe=4).collect()))
    b = sorted(map(tuple, ivf_search(probes, opq_idx, k=5, nprobe=4).collect()))
    release_caches()
    assert a == b
    grow = str(tmp_path / "grow")
    ivf_build(emb.filter("vec_id % 2 = 0"), grow, n_lists=8,
              compression="opq", pq_m=8)
    ivf_append(emb.filter("vec_id % 2 = 1"), grow)
    got = ivf_search(probes, grow, k=5, nprobe=8).collect()
    release_caches()
    assert {r["vec_id"] for r in got if r["vec_id"] % 2 == 1}, (
        "appended (odd) rows unsearchable under opq"
    )
    # drift instrumentation decodes opq codes too (reviewed: the comp
    # dispatch originally skipped opq and ivf_stats crashed on it)
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_stats,
    )

    stats = ivf_stats(spark, grow).collect()
    release_caches()
    assert sum(r["n_vectors"] for r in stats) == n
    assert all(
        r["mean_center_dist"] is not None for r in stats if r["n_vectors"] > 0
    )
    with pytest.raises(ValueError, match="opq_iters"):
        ivf_build(emb, str(tmp_path / "bad"), n_lists=8,
                  compression="opq", pq_m=8, opq_iters=0)
    emb.unpersist(blocking=True)


def test_ivf_index_memo_probe_only_and_rebuild(spark, sf_dir):
    """The session-memoized index behind the probe-only headline legs
    (queries._ivf_index): same path on repeat calls (probe-only), a
    REBUILD when the temp dir vanishes mid-session (tmp cleaners), and
    identical search results either way (the build is deterministic,
    so memoizing changes WHEN it's built, never WHAT is probed)."""
    import shutil

    from dbd_datawarehouse_scraper_spark.queries import _IVF_INDEX_MEMO, _ivf_index
    from dbd_datawarehouse_scraper_spark.queries import QUERIES

    first = _ivf_index(spark, sf_dir)
    assert _ivf_index(spark, sf_dir) == first  # memo hit
    res_a = sorted(
        map(tuple, QUERIES["ivf_persisted_search"].builder(spark, sf_dir).collect())
    )
    shutil.rmtree(os.path.dirname(first), ignore_errors=True)
    second = _ivf_index(spark, sf_dir)
    assert second != first  # vanished dir → fresh build, no stale path
    res_b = sorted(
        map(tuple, QUERIES["ivf_persisted_search"].builder(spark, sf_dir).collect())
    )
    assert res_a == res_b
    _IVF_INDEX_MEMO.clear()


@pytest.mark.parametrize("compression", ["none", "sq8", "pq", "opq"])
def test_ivf_codec_matrix_build_search_append_stats(spark, emb, tmp_path, compression):
    """Every codec through the whole index lifecycle on a small slice:
    build on the even ids, search, append the held-out odd ids, stats.
    Searches see only built rows before the append and the appended
    rows after it; stats count every row and report a distance for
    every non-empty list (each codec's decode runs there)."""
    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.operators.similarity_search import (
        ivf_append,
        ivf_build,
        ivf_search,
        ivf_stats,
    )

    part = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    probes = part.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    idx = str(tmp_path / compression)
    ivf_build(part.filter("vec_id % 2 = 0"), idx, n_lists=4,
              compression=compression, pq_m=8)
    before = ivf_search(probes, idx, k=5, nprobe=4).collect()
    release_caches()
    assert before and all(r["vec_id"] % 2 == 0 for r in before)

    ivf_append(part.filter("vec_id % 2 = 1"), idx)
    after = ivf_search(probes, idx, k=5, nprobe=4).collect()
    release_caches()
    assert any(r["vec_id"] % 2 == 1 for r in after), "appended rows unsearchable"

    stats = ivf_stats(spark, idx).collect()
    assert sum(r["n_vectors"] for r in stats) == part.count()
    assert all(
        r["mean_center_dist"] is not None for r in stats if r["n_vectors"] > 0
    )


def _compression_tests_outside_codec_construction(source: str) -> list:
    """(line, enclosing function) of every comparison against a
    compressed codec's name that is not inside a ``*Codec`` class's
    ``fit``/``load`` (or their ``_fit``/``_read`` hooks)."""
    import ast

    names = {"sq8", "pq", "opq"}

    def names_a_codec(node):
        if isinstance(node, ast.Constant):
            return node.value in names
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            return any(names_a_codec(e) for e in node.elts)
        return False

    found = []

    def visit(node, cls, fn):
        if isinstance(node, ast.ClassDef):
            cls = node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        elif isinstance(node, ast.Compare) and any(
            names_a_codec(e) for e in [node.left, *node.comparators]
        ):
            allowed = (
                cls is not None
                and cls.endswith("Codec")
                and fn in ("fit", "load", "_fit", "_read")
            )
            if not allowed:
                found.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, cls, fn)

    visit(ast.parse(source), None, None)
    return found


def test_ivf_compression_dispatch_lives_in_the_codec():
    """A codec is added in exactly one place: no ``== "sq8"``-style
    test or ``in ("pq", "opq")`` membership test appears in
    similarity_search.py outside the codec's construction."""
    import inspect

    from dbd_datawarehouse_scraper_spark.operators import similarity_search

    # the guard itself catches both shapes of dispatch
    planted = (
        "def ivf_x(comp):\n"
        "    if comp == 'opq':\n        pass\n"
        "    elif comp in ('pq', 'opq'):\n        pass\n"
    )
    assert len(_compression_tests_outside_codec_construction(planted)) == 2
    assert similarity_search._IVF_COMPRESSIONS == ("none", "sq8", "pq", "opq")
    assert _compression_tests_outside_codec_construction(
        inspect.getsource(similarity_search)
    ) == []
