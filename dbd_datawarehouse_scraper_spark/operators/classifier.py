"""[EXT] Learned quality classifier — logistic regression over hashed
n-gram buckets, the trained-gate family the published pipelines pair
with the heuristic gates this package already ships (Gopher rules, C4,
repetition, token rarity, LM perplexity, DSIR):

- GPT-3 (Brown et al. 2020, appendix A) trains a logistic-regression
  quality classifier on hashed features of WebText-positive vs
  crawl-negative pages;
- LLaMA (Touvron et al. 2023) filters CommonCrawl with a classifier
  trained on Wikipedia-referenced pages;
- fastText-supervised (Joulin et al. 2016) is the standard hashed
  bag-of-n-grams linear architecture all of them use.

This module is that recipe on the package's existing machinery:

1. **featurize** with THE shared hashed unigram+bigram bucketizer
   (:func:`.dsir._hashed_grams` — sha256-prefix buckets, the
   oracle-visible hashing convention), so fit-time and score-time
   features come from the SAME Catalyst expression and cannot drift;
2. **fit** driver-side on a bounded, content-hash-deterministic
   per-class sample (the :func:`.clustering.kmeans_fit` pattern —
   hash-threshold pre-filter + orderBy/limit, rerun- and
   repartition-invariant), full-batch gradient descent in numpy
   (fixed iterations — bit-deterministic for a fixed sample);
3. **quantize** the learned per-bucket weights to 1e-6 bigints IN THE
   MODEL (the DSIR convention), so every document's logit numerator is
   an exact integer sum — partition- and rerun-invariant scoring;
4. **score** with one explode + ONE BroadcastHashJoin against the
   n_buckets-row model + one per-doc sum. Nothing is corpus × corpus.

Scale shape (100 TB honest): the fit touches ``2 × sample_per_class``
documents' bucket counts (collected sparse, bounded by
``sample_per_class × distinct-buckets-per-doc`` rows); scoring is the
DSIR score plan exactly — model broadcast, shuffle = per-doc partial
sums. The model is ``n_buckets`` rows however big the corpus is.

Persistence follows the save_lm / save_dsir contract: ``buckets/``
parquet + a 1-row ``_meta`` marker written LAST, marker deleted FIRST
on re-save, loud refusal on missing/drifted/torn stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dsir import _hashed_grams

#: Weight quantization: per-gram weight sums are exact integers.
_QUANT = 1_000_000

_MARKER_VERSION = 1

_DEFAULT_BUCKETS = 10_000

#: Default per-class fit-sample bound. 10k docs/class × a few hundred
#: distinct buckets each collects a few-million-row sparse relation —
#: tens of MB on the driver, the same envelope as kmeans_fit's sample.
_SAMPLE_PER_CLASS = 10_000

_HASH_SPAN = 1 << 61  # pmod(xxhash64, 2^61): label bit + hash fit a long


def _fit_arrays(pdf, n_buckets: int):
    """Sorted sparse (row, col, val) triples + labels from the collected
    (_cid, _bucket, _c) frame — the deterministic driver-side half of
    :func:`classifier_fit`, split out so the pure-numpy fit is testable
    without a SparkSession."""
    import numpy as np

    pdf = pdf.sort_values(["_cid", "_bucket"], kind="stable")
    cid = pdf["_cid"].to_numpy(dtype=np.int64)
    col = pdf["_bucket"].to_numpy(dtype=np.int64)
    c = pdf["_c"].to_numpy(dtype=np.float64)
    uniq, row = np.unique(cid, return_inverse=True)
    y = (uniq >= _HASH_SPAN).astype(np.float64)
    n_grams = np.bincount(row, weights=c, minlength=len(uniq))
    val = c / n_grams[row]  # length-normalized counts: x_b = c_b / n
    return row, col, val, y


def _logistic_gd(
    row, col, val, y, n_buckets: int, iters: int, lr: float, l2: float
):
    """Full-batch Nesterov-momentum gradient descent on L2-regularized
    logistic loss over the sparse feature triples. Fixed iteration
    count, no randomness — bit-deterministic for a fixed input order
    (the caller sorts). bincount is the sparse matvec: O(nnz) per
    direction per iter. Momentum matters here: the length-normalized
    features are tiny (each nonzero ≈ 1/n_grams), so plain GD crawls;
    0.9-momentum reaches sharp decision boundaries in a few hundred
    iterations where vanilla needs tens of thousands."""
    import numpy as np

    n = len(y)
    w = np.zeros(n_buckets, dtype=np.float64)
    vw = np.zeros(n_buckets, dtype=np.float64)
    b = 0.0
    vb = 0.0
    mom = 0.9
    for _ in range(iters):
        # Nesterov lookahead
        wl = w + mom * vw
        bl = b + mom * vb
        z = bl + np.bincount(row, weights=val * wl[col], minlength=n)
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        grad_w = (
            np.bincount(col, weights=val * g[row], minlength=n_buckets) / n
            + l2 * wl
        )
        vw = mom * vw - lr * grad_w
        vb = mom * vb - lr * float(g.mean())
        w += vw
        b += vb
    return w, b


def classifier_fit(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = _DEFAULT_BUCKETS,
    sample_per_class: int = _SAMPLE_PER_CLASS,
    iters: int = 300,
    lr: float = 10.0,
    l2: float = 1e-6,
) -> dict:
    """Fit the hashed-n-gram logistic quality classifier on a labeled
    corpus (``label_col`` ∈ {0, 1}; 1 = high-quality / target-like —
    e.g. Wikipedia-referenced pages — 0 = raw crawl). Returns
    ``{"buckets": DF(_bucket, _wq), "bias_q", "n_buckets", "n_pos",
    "n_neg"}`` with weights quantized to 1e-6 bigints.

    Deterministic end to end: the per-class sample is the
    ``sample_per_class`` lowest ``pmod(xxhash64(text), 2^61)`` rows
    (content-keyed — rerun/repartition-invariant; duplicate texts
    collapse to one fit row, a principled pre-fit dedup), features are
    sorted before the fixed-iteration numpy fit, and nothing draws
    randomness. NULL-text and gram-less documents contribute nothing
    (they cannot be scored either).

    The returned ``buckets`` relation is a small LOCAL dataframe
    (n_buckets rows); persist with :func:`save_classifier` for the
    score-many path, same contract as save_dsir/save_lm.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if sample_per_class < 1:
        raise ValueError(
            f"sample_per_class must be >= 1, got {sample_per_class}"
        )
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if lr <= 0 or l2 < 0:
        raise ValueError(f"need lr > 0 and l2 >= 0, got lr={lr} l2={l2}")
    import numpy as np

    from pyspark.sql import Window

    spark = labeled.sparkSession

    # Fit in TWO jobs total (opt r13, guide §1.2 — the r12 form ran
    # five: validation count, class-sizing collect, two orderBy/limit
    # sample jobs, and the featurize toPandas, plus two cache fills):
    #
    # Job 1 — ONE aggregate over the unpersisted 2-column projection
    # fuses the label refusal (same `bad` expression and message as
    # _validated_labels — shared via _bad_label_cond, so refusal
    # semantics cannot drift) with both classes' scoreable-row counts.
    d = _label_frame(labeled, text_col, label_col)
    bad = _bad_label_cond()
    ok_text = ~bad & F.col("_tx").isNotNull()
    stats = d.agg(
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_bad"),
        F.sum(F.when(ok_text & (F.col("_y") == 1), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(ok_text & (F.col("_y") == 0), 1).otherwise(0)).alias("n0"),
    ).collect()[0]
    if stats["n_bad"]:
        _refuse_bad_labels(int(stats["n_bad"]), "classifier_fit")
    # Job 2 — per-class hash-threshold prefilter (kmeans_fit's
    # _fit_sample_rows discipline in operators/clustering.py,
    # thresholds from the SAME formula), a per-class row_number window
    # replacing the two orderBy/limit jobs (same selected rows: both
    # take the sample_per_class smallest content hashes of each class).
    # Ties assume xxhash64 does not collide: an equal-hash tie is then
    # equal text — same _cid — which the length-normalized fit features
    # cancel; a true 64-bit collision could swap which tied row is kept.
    # then featurize + the bounded toPandas, all ONE linear job: no
    # intermediate persists, nothing computed twice.
    hashed = (
        d.select("_y", "_tx")
        .filter(F.col("_tx").isNotNull())
        .withColumn("_h", F.pmod(F.xxhash64("_tx"), F.lit(_HASH_SPAN)))
    )
    conds = []
    for y, n in ((1, int(stats["n1"] or 0)), (0, int(stats["n0"] or 0))):
        c = F.col("_y") == y
        if n > 1.25 * sample_per_class:
            thresh = max(1, int(1.25 * sample_per_class / n * _HASH_SPAN))
            c = c & (F.col("_h") < thresh)
        conds.append(c)
    w = Window.partitionBy("_y").orderBy("_h")
    # label bit above the hash: _cid = y·2^61 + h keys the per-doc
    # aggregate AND carries the label through it in one long
    sampled = (
        hashed.filter(conds[0] | conds[1])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_per_class)
        .select((F.col("_y") * _HASH_SPAN + F.col("_h")).alias("_cid"), "_tx")
    )
    counts = (
        _hashed_grams(sampled, "_cid", "_tx", n_buckets)
        .groupBy("_cid", "_bucket")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    pdf = counts.toPandas()
    if len(pdf) == 0:
        raise ValueError("no scoreable documents in either class")
    r, col, val, y = _fit_arrays(pdf, n_buckets)
    n_pos = int(y.sum())
    n_neg = int(len(y) - n_pos)
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"classifier_fit needs scoreable documents in BOTH classes "
            f"(got {n_pos} positive, {n_neg} negative)"
        )
    w, b = _logistic_gd(r, col, val, y, n_buckets, iters, lr, l2)
    wq = np.round(w * _QUANT).astype(np.int64)
    buckets = spark.createDataFrame(
        [(int(i), int(q)) for i, q in enumerate(wq)],
        "_bucket LONG, _wq LONG",
    )
    return {
        "buckets": buckets,
        "bias_q": int(round(b * _QUANT)),
        "n_buckets": int(n_buckets),
        "n_pos": n_pos,
        "n_neg": n_neg,
        # dense bucket-ordered weights for the literal-array score path
        # (same integers the buckets relation holds)
        "weights_q": [int(q) for q in wq],
    }


def save_classifier(spark: SparkSession, model: dict, path: str) -> None:
    """Persist: ``buckets/`` parquet + ``_meta`` marker written LAST (a
    crash mid-save leaves a markerless dir :func:`load_classifier`
    refuses loudly); on RE-save the old marker is deleted FIRST (the
    ivf_build torn-rebuild class). ``repartition(1)`` on the tiny local
    relations — never coalesce(1) (the local-relation slice-serialize
    trap, tests/test_plans.py tripwire)."""
    from ..fsutil import fs_delete

    fs_delete(spark, f"{path}/_meta")
    model["buckets"].repartition(1).write.mode("overwrite").parquet(
        f"{path}/buckets"
    )
    spark.createDataFrame(
        [(
            _MARKER_VERSION,
            int(model["n_buckets"]),
            int(model["bias_q"]),
            int(model["n_pos"]),
            int(model["n_neg"]),
        )],
        "version INT, n_buckets INT, bias_q LONG, n_pos LONG, n_neg LONG",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/_meta")


def load_classifier(spark: SparkSession, path: str) -> dict:
    """Load a :func:`save_classifier` directory; refuses a missing or
    version-drifted marker and cross-checks the cheap structural
    invariant (bucket row count == marker n_buckets — a torn re-save
    cannot masquerade as a valid model)."""
    try:
        meta = spark.read.parquet(f"{path}/_meta").collect()
    except Exception as exc:  # noqa: BLE001 — any unreadable marker refuses
        raise ValueError(
            f"no classifier marker at {path}/_meta — not a "
            f"save_classifier directory (or a crashed save; refit)"
        ) from exc
    if len(meta) != 1 or meta[0]["version"] != _MARKER_VERSION:
        raise ValueError(
            f"classifier marker at {path} has version "
            f"{meta[0]['version'] if meta else '?'}, expected "
            f"{_MARKER_VERSION}"
        )
    buckets = spark.read.parquet(f"{path}/buckets")
    n_rows = buckets.count()  # the model is n_buckets rows — cheap
    if n_rows != int(meta[0]["n_buckets"]):
        raise ValueError(
            f"classifier store at {path} is torn: marker says "
            f"{meta[0]['n_buckets']} buckets but the table has {n_rows} "
            f"rows — a crashed re-save; refit and re-save."
        )
    return {
        "buckets": buckets,
        "bias_q": int(meta[0]["bias_q"]),
        "n_buckets": int(meta[0]["n_buckets"]),
        "n_pos": int(meta[0]["n_pos"]),
        "n_neg": int(meta[0]["n_neg"]),
    }


def _model_weight_list(model: dict) -> list:
    """The model's per-bucket quantized weights as a dense
    bucket-ordered Python list (index b = bucket b), memoized in the
    model dict. classifier_fit pre-fills it from the driver-side fit;
    loaded/hand-built models collect their (n_buckets-row, validated)
    buckets relation once. The values are exactly the relation's
    ``_wq`` column — the literal-array score path cannot drift from
    the join path."""
    ws = model.get("weights_q")
    if ws is None:
        ws = [
            r["_wq"] for r in model["buckets"].orderBy("_bucket").collect()
        ]
        if len(ws) != int(model["n_buckets"]):
            raise ValueError(
                f"classifier model buckets relation has {len(ws)} rows, "
                f"expected n_buckets={model['n_buckets']} — torn or "
                "hand-built model"
            )
        model["weights_q"] = ws
    return ws


def classifier_score(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document quality: ``(id_col, n_grams LONG, logit DOUBLE,
    prob DOUBLE)`` where ``logit = bias + (Σ_grams w[bucket]) /
    n_grams`` (the length-normalized linear model the fit learned) and
    ``prob = σ(logit)``. The weight sum is an exact quantized-bigint
    integer — partition/rerun-invariant. Gram-less documents
    (empty/whitespace/NULL text) produce no rows and are ABSENT
    (:func:`classifier_filter` decides their fate explicitly). One
    explode, one per-doc sum, and a LITERAL-ARRAY weight lookup — the
    model is a dense n_buckets-row relation, so ``element_at`` over an
    array literal replaces the broadcast hash join (opt r12: the
    broadcast exchange job + per-row hash probe cost ~3x the whole
    aggregate at bench scale; values are identical — the array is
    collected from the same relation the join consumed, pinned in
    tests/test_classifier.py)."""
    grams = _hashed_grams(docs, id_col, text_col, model["n_buckets"])
    scored = grams.withColumn(
        "_wq",
        F.element_at(
            F.lit(_model_weight_list(model)),
            (F.col("_bucket") + 1).cast("int"),
        ),
    )
    logit = (
        F.lit(model["bias_q"] / _QUANT)
        + F.col("_s").cast("double") / F.col("n_grams") / _QUANT
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("_wq").alias("_s"),
        )
        .select(
            id_col,
            "n_grams",
            F.round(logit, 6).alias("logit"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
                "prob"
            ),
        )
    )


def classifier_filter(
    docs: DataFrame,
    model: dict,
    min_prob: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_empty: bool = False,
) -> DataFrame:
    """The gate form: keep documents the classifier scores at least
    ``min_prob`` likely high-quality (0.5 = "the model's call").
    Unscoreable (empty/NULL-text) documents are decided by
    ``keep_empty`` explicitly — never a NULL-comparison vanish.
    Returns the input columns unchanged."""
    if not (0.0 <= float(min_prob) <= 1.0):
        raise ValueError(f"min_prob must be in [0, 1], got {min_prob}")
    from .gating import score_threshold_gate

    scores = classifier_score(docs, model, id_col=id_col, text_col=text_col)
    return score_threshold_gate(
        docs, scores, "prob", id_col, text_col,
        min_value=float(min_prob), keep_empty=keep_empty,
    )


#: Probability-histogram resolution for evaluation: scores bucket to
#: 1e-4 before the driver-side sweep, so the collect is <= 10,001 rows
#: however large the eval corpus is.
_EVAL_BUCKETS = 10_000


def _label_frame(
    labeled: DataFrame, text_col: str, label_col: str
) -> DataFrame:
    """The shared ``(_y LONG, _yraw DOUBLE, _tx)`` label projection —
    fit and eval validate over the SAME casts."""
    return labeled.select(
        F.col(label_col).cast("long").alias("_y"),
        F.col(label_col).cast("double").alias("_yraw"),
        F.col(text_col).alias("_tx"),
    )


def _bad_label_cond():
    """THE bad-label predicate over a :func:`_label_frame` — NULLs,
    values outside {0, 1}, and fractional (soft) labels. classifier_fit
    folds it into its fused stats aggregate; :func:`_validated_labels`
    counts it standalone — one expression, so refusal semantics cannot
    drift between the two paths."""
    return (
        F.col("_y").isNull()
        | ~F.col("_y").isin(0, 1)
        | (F.col("_yraw") != F.col("_y").cast("double"))
    )


def _refuse_bad_labels(n_bad: int, who: str) -> None:
    raise ValueError(
        f"{who} labels must be exactly 0 or 1 (non-null, not "
        f"fractional): {n_bad} rows violate that"
    )


def _validated_labels(
    labeled: DataFrame, text_col: str, label_col: str, who: str
) -> DataFrame:
    """THE label cast+refusal (the eval entry points use it;
    classifier_fit fuses the same predicate into its stats aggregate):
    ``(_y LONG, _tx)`` with labels validated to be EXACTLY 0 or 1 —
    NULLs, other values, and fractional (soft) labels all refuse
    loudly (a 0.9 soft label silently truncating to 0 would corrupt
    the fit/eval with no warning)."""
    d = _label_frame(labeled, text_col, label_col)
    n_bad = d.filter(_bad_label_cond()).count()
    if n_bad:
        _refuse_bad_labels(int(n_bad), who)
    return d.select("_y", "_tx")


def _eval_histogram(
    labeled: DataFrame, model: dict, text_col: str, label_col: str
):
    """(bucket → (n_pos, n_neg)) histogram of classifier probabilities
    over a labeled corpus — the bounded-collect core of
    :func:`classifier_eval` and :func:`classifier_threshold_for_precision`.
    Scoreable rows only (gram-less documents have no probability).
    Keyed on the TEXT itself (per-(text, label) counts joined to
    one score per distinct text) — never a generated row id:
    ``monotonically_increasing_id`` evaluated on both sides of a
    self-join can diverge under retries/non-deterministic lineage and
    silently mis-pair labels with probabilities (the skew.py/lm.py
    documented hazard). Eval corpora are labeled samples — bounded —
    so the text-keyed shuffle is cheap."""
    d = _validated_labels(labeled, text_col, label_col, "classifier eval")
    counts = d.groupBy("_tx", "_y").agg(F.count("*").alias("_c"))
    texts = d.select("_tx").distinct()
    scores = classifier_score(texts, model, id_col="_tx", text_col="_tx")
    hist = (
        counts.join(scores, "_tx")
        .groupBy(
            F.round(F.col("prob") * _EVAL_BUCKETS)
            .cast("long")
            .alias("_b")
        )
        .agg(
            F.sum(F.col("_y") * F.col("_c")).alias("_pos"),
            F.sum((F.lit(1) - F.col("_y")) * F.col("_c")).alias("_neg"),
        )
        .collect()
    )
    return sorted((int(r["_b"]), int(r["_pos"]), int(r["_neg"])) for r in hist)


def _require_both_classes(hist, who: str) -> tuple:
    n_pos = sum(p for _, p, _ in hist)
    n_neg = sum(n for _, _, n in hist)
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"{who} needs scoreable documents in BOTH classes "
            f"(got {n_pos} positive, {n_neg} negative)"
        )
    return n_pos, n_neg


def _threshold_from_hist(hist, target_precision: float) -> float:
    """The smallest gate whose histogram-suffix precision reaches the
    target. Returns ``(b - 0.5) / _EVAL_BUCKETS`` for the qualifying
    bucket b: bucket b holds probs in [b/1e4 − 5e-5, b/1e4 + 5e-5)
    (Spark's HALF_UP), so gating at the bucket's LOWER edge keeps
    exactly the rows the sweep counted — returning b/1e4 itself would
    drop the half-bucket that rounded up and miss the promised
    precision/recall (review r9)."""
    best = None
    tp = fp = 0
    for b, p, n in reversed(hist):
        tp += p
        fp += n
        if tp and tp / (tp + fp) >= target_precision:
            best = b
    if best is None:
        raise ValueError(
            f"no threshold reaches precision {target_precision} on this "
            f"corpus (best is below the target everywhere) — refit with "
            f"better labels/features or lower the target"
        )
    return max(0.0, (best - 0.5) / _EVAL_BUCKETS)


def classifier_eval(
    labeled: DataFrame,
    model: dict,
    text_col: str = "text",
    label_col: str = "label",
    thresholds: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    target_precision: float | None = None,
) -> dict:
    """Evaluate a fitted classifier on a LABELED (held-out) corpus:
    ``{"auc", "n_pos", "n_neg", "thresholds": [{threshold, tp, fp,
    fn, tn, precision, recall, f1}, ...]}``; with ``target_precision``
    also ``"threshold_for_target"`` (the
    :func:`classifier_threshold_for_precision` answer from the SAME
    histogram — one scoring job answers both questions).

    Scale shape: one score pass + one groupBy on the 1e-4-bucketed
    probability (<= 10,001 rows collected — the histogram-prefix-sum
    discipline, like quality sampling); AUC is the Mann-Whitney
    rank-sum over that histogram with the standard half-credit tie
    correction (ties = scores in the same bucket), so the answer is
    deterministic and partition-invariant, exact up to the bucket
    resolution. Gram-less documents carry no probability and are
    EXCLUDED — evaluate the gate's empty-doc policy separately
    (``keep_empty``)."""
    if target_precision is not None and not (0.0 < target_precision <= 1.0):
        raise ValueError(
            f"target_precision must be in (0, 1], got {target_precision}"
        )
    hist = _eval_histogram(labeled, model, text_col, label_col)
    n_pos, n_neg = _require_both_classes(hist, "classifier_eval")
    # AUC: P(score_pos > score_neg) + 0.5 P(tie), summed over buckets
    # in ascending score order
    neg_below = 0
    u = 0.0
    for _, p, n in hist:
        u += p * (neg_below + 0.5 * n)
        neg_below += n
    auc = u / (n_pos * n_neg)
    rows = []
    for t in thresholds:
        cut = round(float(t) * _EVAL_BUCKETS)
        tp = sum(p for b, p, _ in hist if b >= cut)
        fp = sum(n for b, _, n in hist if b >= cut)
        fn, tn = n_pos - tp, n_neg - fp
        prec = tp / (tp + fp) if tp + fp else None
        rec = tp / n_pos
        f1 = (
            2 * prec * rec / (prec + rec)
            if prec is not None and prec + rec > 0
            else None
        )
        rows.append(
            {
                "threshold": float(t), "tp": tp, "fp": fp, "fn": fn,
                "tn": tn,
                "precision": None if prec is None else round(prec, 6),
                "recall": round(rec, 6),
                "f1": None if f1 is None else round(f1, 6),
            }
        )
    out = {
        "auc": round(auc, 6),
        "n_pos": n_pos,
        "n_neg": n_neg,
        "thresholds": rows,
    }
    if target_precision is not None:
        out["threshold_for_target"] = _threshold_from_hist(
            hist, float(target_precision)
        )
    return out


def classifier_threshold_for_precision(
    labeled: DataFrame,
    model: dict,
    target_precision: float,
    text_col: str = "text",
    label_col: str = "label",
) -> float:
    """The practical gate knob: the SMALLEST ``min_prob`` whose
    precision on the labeled corpus reaches ``target_precision``
    (smallest ⇒ maximum recall at that precision), swept over the
    bounded probability histogram (gate placed at the qualifying
    bucket's lower edge, so :func:`classifier_filter` at the returned
    value keeps exactly the rows the sweep counted). Raises if no
    threshold reaches the target (the model is not good enough for
    that bar — refit or lower it) and on single-class corpora (an
    all-positive eval set would bless ANY threshold as precision 1.0
    — vacuous, not a recommendation). Prefer
    ``classifier_eval(..., target_precision=...)`` when you also want
    metrics — it answers both from one scoring job."""
    if not (0.0 < target_precision <= 1.0):
        raise ValueError(
            f"target_precision must be in (0, 1], got {target_precision}"
        )
    hist = _eval_histogram(labeled, model, text_col, label_col)
    _require_both_classes(hist, "classifier_threshold_for_precision")
    return _threshold_from_hist(hist, float(target_precision))


def resolve_classifier_opts(spark: SparkSession, opts: dict) -> dict:
    """THE one validation + resolution of a ``classifier_opts`` dict —
    the batch funnel, the stream exporter, and the CLI all call it, so
    refusal semantics cannot drift (the resolve_dsir_opts precedent).
    Requires ``min_prob`` and exactly one NON-NULL of ``model`` (a
    :func:`classifier_fit` result) / ``model_path`` (a
    :func:`save_classifier` dir). Returns ``{"model": <dict>,
    "min_prob": <float>}``."""
    d = dict(opts)
    if "min_prob" not in d:
        raise ValueError("classifier_opts requires 'min_prob'")
    has_model = d.get("model") is not None
    has_path = d.get("model_path") is not None
    if has_model == has_path:
        raise ValueError(
            "classifier_opts requires exactly one of 'model' (a "
            "classifier_fit result) or 'model_path' (a save_classifier "
            "dir)"
        )
    min_prob = float(d["min_prob"])
    if not (0.0 <= min_prob <= 1.0):
        raise ValueError(f"min_prob must be in [0, 1], got {min_prob}")
    return {
        "model": d["model"]
        if has_model
        else load_classifier(spark, d["model_path"]),
        "min_prob": min_prob,
    }
