"""Deduplication operators: exact and near-dup (SURVEY §2.4 + [EXT]).

- ``dedup_prefer_reg``: the reference's name-dedup that keeps a reg
  number if ANY duplicate has one (scraper_v2.py:479, 519-520). The
  reference's dict-overwrite tie-break is insertion-order-dependent;
  here it is the deterministic ``max(reg)`` (documented deviation,
  SURVEY §7c).
- ``exact_dedup``: content-hash dedup with a deterministic survivor.
- ``ngram_jaccard_pairs``: exact near-dup pairs via an inverted
  shingle index (the classic "documents sharing a shingle" join).
- ``minhash_signature`` / ``minhash_lsh_pairs``: MinHash + banded LSH,
  built from scratch on ``xxhash64`` so signatures are deterministic
  and the whole pipeline stays in built-in expressions. This is the
  100 TB path: candidate generation cost is bounded by band-bucket
  collisions instead of the shingle cross-product.
- ``simhash64`` / ``simhash_pairs``: 64-bit SimHash with
  block-permutation blocking (pairs within Hamming distance d share at
  least one of d+1 blocks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_analysis import shingles, shingles_vec


def dedup_prefer_reg(
    df: DataFrame,
    name_col: str = "company_name",
    reg_col: str = "registration_number",
) -> DataFrame:
    """One row per name; keep max(reg) so any non-null reg survives."""
    return df.groupBy(name_col).agg(F.max(reg_col).alias(reg_col))


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], order_col: str
) -> DataFrame:
    """Keep the lowest-``order_col`` row per key — deterministic,
    unlike bare ``dropDuplicates`` whose survivor is partition-order
    dependent (a silent bug across retries at scale)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    probe_filter: Column | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard near-dup pairs via inverted shingle
    index: only pairs sharing ≥1 shingle are scored (never a cross
    join). ``probe_filter`` optionally restricts the left side (e.g.
    incremental dedup of new docs against the corpus). Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    With a probe_filter the candidate match is ``_id != _id2`` and the
    pair is normalized with least/greatest afterwards — matching only
    ``probe < other`` would silently drop every (new, old) pair when new
    docs carry the highest ids (round-1 advisor finding).

    Scoring never touches the shingle arrays again: each doc's DISTINCT
    shingle count ``n`` rides along the inverted index, so after the
    shingle join ``|A∩B|`` is a plain ``groupBy(pair).count()`` and
    ``J = c / (n_a + n_b - c)`` exactly. That keeps every shuffle narrow
    — (id, n, shingle) rows in, (pair, count) rows out — instead of
    re-joining full shingle arrays per candidate (the round-2 form's
    verify leg, which shuffled array<string> payloads and recomputed the
    interpreted shingle expression per consumer). The ``groupBy`` also
    subsumes the old ``distinct()`` dedup of candidate rows.

    The inverted index is a tracked persist (it is both sides of the
    self-join) — call ``caching.release_caches()`` after the consuming
    action, like every other persisting operator in this package."""
    from ..caching import tracked_persist
    from .skew import widen_partitions

    # One Arrow-vectorized shingle pass (shingles_vec: the HOF form is
    # interpreted, ~6× slower — the query's measured hot spot), persisted
    # because the inverted index is both sides of the self-join.
    sh = tracked_persist(
        widen_partitions(docs).select(
            F.col(id_col).alias("_id"), shingles_vec(F.col(text_col), k).alias("_sh")
        )
    )
    ex = sh.select("_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_s"))
    # merge hints on the corpus-sized sides: the inverted index comes
    # from cache -> explode -> project with NO exchange in between, so
    # AQE never sees its true size and the compile-time width-scaled
    # estimate can put a corpus side under the broadcast threshold
    # (the round-8 minhash OOM class; sides behind an aggregate's
    # exchange are AQE-replanned and need no hint)
    if probe_filter is None:
        joined = ex.join(
            ex.select(
                F.col("_id").alias("_id2"), F.col("_n").alias("_n2"), "_s"
            ).hint("merge"),
            "_s",
        ).filter(F.col("_id") < F.col("_id2"))
    else:
        # a (probe, probe) pair joins in BOTH directions; keep exactly
        # one or the groupBy count below doubles |A∩B| for those pairs
        # (the round-2 form's distinct() absorbed this silently). The
        # flag is null-coalesced: a predicate over a nullable column
        # yields NULL rows, and `~NULL | (a < b)` is NULL when a > b —
        # those (probe, non-probe) pairs would be silently dropped.
        right = ex.withColumn(
            "_isp2", F.coalesce(probe_filter, F.lit(False))
        ).select(
            F.col("_id").alias("_id2"), F.col("_n").alias("_n2"), "_s", "_isp2"
        )
        joined = (
            ex.filter(probe_filter)
            .join(right.hint("merge"), "_s")
            .filter(
                (F.col("_id") != F.col("_id2"))
                & (~F.col("_isp2") | (F.col("_id") < F.col("_id2")))
            )
        )
    # normalize pair order id_a < id_b, keeping each id's n attached:
    # struct comparison is lexicographic on (i, n), and i is unique.
    pa = F.struct(F.col("_id").alias("i"), F.col("_n").alias("n"))
    pb = F.struct(F.col("_id2").alias("i"), F.col("_n2").alias("n"))
    inter = (
        joined.select(F.least(pa, pb).alias("_a"), F.greatest(pa, pb).alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("_c"))
    )
    union = F.col("_a.n") + F.col("_b.n") - F.col("_c")
    scored = inter.select(
        F.col("_a.i").alias("id_a"),
        F.col("_b.i").alias("id_b"),
        F.round(
            F.when(union == 0, F.lit(0.0)).otherwise(
                F.col("_c").cast("double") / union.cast("double")
            ),
            6,
        ).alias("jaccard"),
    )
    return scored.filter(F.col("jaccard") >= threshold)


def contamination_pairs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    containment_threshold: float | None = None,
) -> DataFrame:
    """[EXT] Benchmark-contamination probe: every (document, benchmark
    item) pair whose word-``k``-gram Jaccard is ≥ ``threshold`` OR
    whose benchmark-side containment ≥ ``containment_threshold`` —
    training corpora must be screened against evaluation sets before
    use, and n-gram overlap is the standard first-line check (the same
    family of tests GPT-3/PaLM/Llama report for eval decontamination).

    Jaccard alone under-scores the canonical contamination shape — a
    LONG document that embeds a whole benchmark item (|A∩B|/|A∪B| is
    dragged down by the document's size). Standard decontamination
    therefore gates on containment = |A∩B|/|B| (share of the BENCHMARK
    item's k-grams present in the document), which is 1.0 for a
    verbatim inclusion regardless of document length. Both scores are
    emitted; ``containment_threshold=None`` keeps the Jaccard-only
    gate.

    Same inverted-shingle-index shape as :func:`ngram_jaccard_pairs`
    but across TWO relations, so candidate generation is bounded by
    shared shingles between corpus and benchmark — never a cross join
    — and the shuffle carries (id, n, shingle-hash) rows only. The
    benchmark side is typically tiny (eval sets); the corpus side
    streams through one shuffle. Returns (id_col, bench_id_col,
    jaccard, containment), exact up to 64-bit shingle-hash collisions.
    """
    from ..caching import tracked_persist
    from .skew import widen_partitions

    corpus = shingle_index(widen_partitions(docs), id_col, text_col, "_id", k)
    bench = tracked_persist(
        shingle_index(benchmark, bench_id_col, bench_text_col, "_bid", k)
    )
    return contamination_scores(
        corpus, bench, id_col, bench_id_col, threshold, containment_threshold
    )


def shingle_index(
    df: DataFrame, idc: str, txc: str, ida: str, k: int
) -> DataFrame:
    """Inverted word-``k``-gram shingle index: one row per (document,
    shingle) as ``(ida, {ida}_n, _hs)`` where ``{ida}_n`` is the
    document's shingle-set size and ``_hs`` the 64-bit shingle hash.
    Shared by the batch contamination screen and the incremental
    benchmark store (streaming/contamination.py) so both sides hash
    and count identically — consistency by construction."""
    sh = df.select(F.col(idc).alias(ida), shingles_vec(F.col(txc), k).alias("_sh"))
    # OUTER explode: the inner form lets InferFiltersFromGenerate
    # push `size(_sh) > 0` below this projection, duplicating the
    # Arrow shingle UDF into a second ArrowEvalPython stage — the
    # whole corpus shingled TWICE (verified in the round-5 plan
    # audit). shingles_vec never returns a null or empty array, so
    # outer == inner row-for-row and nothing is inferred.
    return sh.select(
        ida,
        F.size("_sh").alias(f"{ida}_n"),
        F.explode_outer("_sh").alias("_s"),
    ).select(ida, f"{ida}_n", F.xxhash64("_s").alias("_hs"))


def contamination_scores(
    corpus_idx: DataFrame,
    bench_idx: DataFrame,
    id_col: str,
    bench_id_col: str,
    threshold: float,
    containment_threshold: float | None,
) -> DataFrame:
    """Score + gate (jaccard, containment) from two
    :func:`shingle_index` relations (``_id`` / ``_bid`` sides). The
    grouped shared-shingle intersection carries both cardinalities, so
    both scores come from one aggregate."""
    inter = (
        corpus_idx.join(bench_idx, "_hs")
        .groupBy("_id", "_id_n", "_bid", "_bid_n")
        .agg(F.count("*").alias("_c"))
    )
    union = F.col("_id_n") + F.col("_bid_n") - F.col("_c")
    scored = inter.select(
        F.col("_id").alias(id_col),
        F.col("_bid").alias(bench_id_col),
        F.round(
            F.when(union == 0, F.lit(0.0)).otherwise(
                F.col("_c").cast("double") / union.cast("double")
            ),
            6,
        ).alias("jaccard"),
        # |A∩B| / |B|: 1.0 for a verbatim inclusion regardless of
        # document length
        F.round(
            F.when(F.col("_bid_n") == 0, F.lit(0.0)).otherwise(
                F.col("_c").cast("double") / F.col("_bid_n").cast("double")
            ),
            6,
        ).alias("containment"),
    )
    gate = F.col("jaccard") >= threshold
    if containment_threshold is not None:
        gate = gate | (F.col("containment") >= containment_threshold)
    return scored.filter(gate)


def minhash_signature(text: Column, num_hashes: int = 64, k: int = 3) -> Column:
    """MinHash signature (array<bigint>) over word-k-gram shingles, as a
    single column expression.

    Hash family i is ``xxhash64(xxhash64(shingle), i)``: the shingle
    string is hashed ONCE, then each of the ``num_hashes`` permutations
    remixes the resulting 16-byte (long, int) pair — ~10× cheaper than
    re-hashing the string bytes per permutation, with full 64-bit
    mixing (any injective remix under a fixed total order preserves
    the MinHash collision probability P[min_a == min_b] = Jaccard).
    The signature element is the min over shingles. Deterministic
    across runs/executors.

    NOTE: higher-order functions are interpreted (no whole-stage
    codegen), so this form costs ~num_hashes × n_shingles interpreted
    evals per row. Pipelines should prefer ``minhash_signatures`` (the
    explode + aggregate form below): same hash family, fully codegen'd,
    map-side partial mins."""
    hashes = F.transform(shingles(text, k), lambda s: F.xxhash64(s))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hashes, lambda h: F.xxhash64(h, i))),
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    k: int = 3,
) -> DataFrame:
    """(id, _sig array<bigint>) via explode + aggregate — the scale path.

    Each (doc, shingle) row is hashed ONCE as a string
    (``_h = xxhash64(shingle)``), then each of the ``num_hashes``
    permutations remixes the fixed-width ``(_h, i)`` pair — the string
    bytes are touched once instead of ``num_hashes`` times, which is
    the dominant cost at corpus scale (measured ~10× on the sf0.1
    bench). ``groupBy(id).agg(min...)`` combines partial mins
    map-side, so the shuffle carries one row per document, not one per
    shingle. Identical hash family (xxhash64(xxhash64(shingle), i)) to
    ``minhash_signature``."""
    from .skew import widen_partitions

    # explode_outer: inner explode would make InferFiltersFromGenerate
    # duplicate the shingle UDF into an inferred size()>0 filter (a
    # second full Arrow pass over the corpus); shingles_vec never
    # returns null/empty arrays, so outer is row-identical.
    ex = widen_partitions(docs).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(shingles_vec(F.col(text_col), k)).alias("_s"),
    ).select("_id", F.xxhash64("_s").alias("_hs"))
    return ex.groupBy("_id").agg(_minhash_sig_agg(num_hashes))


def _minhash_sig_agg(num_hashes: int) -> Column:
    """The ``_sig`` aggregate over hashed shingles ``_hs``: element i is
    ``min(xxhash64(_hs, i))``. Built as ONE SQL expression string — one
    JVM call for the whole list instead of ~4 per permutation: the
    128 mins plus the 32 band hashes took 0.58–0.71 s of driver time
    per plan built as Columns and 0.04–0.06 s as strings (pyspark
    4.1.2, 4-core Xeon VM). The array wraps the mins, so the physical
    aggregate is the same ``num_hashes`` map-side partial mins."""
    mins = ", ".join(f"min(xxhash64(_hs, {i}))" for i in range(num_hashes))
    return F.expr(f"array({mins}) AS _sig")


def lsh_band_buckets(num_hashes: int, bands: int) -> str:
    """SQL select item exploding a ``_sig`` array into ``(_band,
    _bucket)`` rows: bucket b is the Murmur3 ``hash`` of signature rows
    ``[b·r, (b+1)·r)``, r = ``num_hashes // bands``. The one band
    hashing shared by the batch LSH and the incremental band index
    (streaming/near_dedup.py), so cross-epoch candidates collide on
    identical buckets; a string for the same one-JVM-call reason as
    :func:`_minhash_sig_agg`."""
    r = num_hashes // bands
    buckets = ", ".join(
        f"hash(slice(_sig, {b * r + 1}, {r}))" for b in range(bands)
    )
    return f"posexplode(array({buckets})) AS (_band, _bucket)"


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    ``max_bucket_size`` is the production megacluster guard: a band
    bucket holding ``m`` documents contributes ``m·(m−1)/2`` candidate
    pairs, so ONE templated-boilerplate cluster of 10⁵ docs yields
    ~5·10⁹ pairs and the verification join drowns the stage (the
    round-8 sf1 smoke hit exactly this: 120-doc medium-similarity
    clusters × 5k bases → a 2·10⁹-row verify join OOM). With the cap,
    buckets larger than the cap are SKIPPED before the self-join (one
    map-side-combined (band, bucket) count) — the standard web-dedup
    practice: members of such buckets are near-identical boilerplate
    that exact/segment dedup already handles, and a pair loses
    candidacy only if EVERY band it agrees on is oversized. ``None``
    (default) keeps exhaustive candidacy; the curation funnel exposes
    it via ``near_dup_opts``. Recall trade is explicit and bounded:
    pairs inside capped buckets only.

    ``bands`` bands of ``num_hashes/bands`` rows: pairs agreeing on any
    band become candidates (P[candidate] ≈ 1-(1-j^r)^b), then exact
    shingle Jaccard filters false positives. Returns
    (id_a, id_b, jaccard), id_a < id_b.

    Everything that shuffles or persists is NARROW. The one persisted
    relation is the hashed-shingle inverted index (_id, _hs long) from a
    single Arrow-vectorized shingle pass: the signature leg aggregates
    it (map-side partial mins, one shuffled row per doc — the per-doc
    shingle count falls out of the same agg for free), the banded
    self-join carries only (id, band, bucket), and verification counts
    shared _hs values per candidate pair — |A∩B| via a
    groupBy(pair).count(), J = c/(nA+nB-c) — instead of re-joining full
    shingle arrays per pair (the round-2 form persisted and shuffled
    array<string> payloads). Jaccard is exact up to 64-bit xxhash64
    shingle collisions (~n²/2⁶⁴ per doc — negligible; the round-2 form
    had the identical exposure inside its MinHash signatures). Persists
    are tracked — callers release via caching.release_caches()."""
    return minhash_lsh_pairs_and_sigs(
        docs, id_col, text_col, num_hashes, bands, k, threshold,
        max_bucket_size,
    )[0]


def minhash_lsh_pairs_and_sigs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`minhash_lsh_pairs`, plus the signature relation its LSH
    pass persisted: ``(_id, _n, _sig)`` for EVERY input document, with
    ``_sig`` equal to :func:`minhash_signatures`' (same hash family, same
    aggregate). Callers that need signatures of (a subset of) the
    same documents reuse it instead of signing them a second time —
    the incremental near-dedup stores its survivors' signatures this
    way. The persist is tracked like the pairs' own."""
    from ..caching import tracked_persist
    from .skew import widen_partitions

    # explode_outer, not explode: the inferred size()>0 filter of the
    # inner form would run the shingle UDF twice while materializing
    # this cache (round-5 plan audit); shingles_vec never returns
    # null/empty arrays, so outer is row-identical.
    ex = tracked_persist(
        widen_partitions(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.explode_outer(shingles_vec(F.col(text_col), k)).alias("_s"),
        )
        .select("_id", F.xxhash64("_s").alias("_hs"))
    )
    sig = tracked_persist(
        ex.groupBy("_id").agg(
            F.count("*").alias("_n"), _minhash_sig_agg(num_hashes)
        )
    )
    # `_na` (the per-doc shingle count) rides the banded rows — 8
    # bytes/row through the band-join shuffle — so the Jaccard union
    # can be computed WITHOUT the two corpus-sized sort-merge joins
    # against `sig` the round-9 form ran at the tail of verification
    # (round-10 re-profile: those two exchanges were ~40% of the
    # query's wall at sf0.1, and at scale they are two full-corpus
    # shuffles for two long columns).
    banded = sig.selectExpr(
        "_id", "_n AS _na", lsh_band_buckets(num_hashes, bands)
    )
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"max_bucket_size must be >= 2, got {max_bucket_size}"
            )
        # one map-side-combined count per (band, bucket); the OVERSIZED
        # set anti-joins back — that side is genuinely tiny (only
        # megacluster buckets), so its broadcast is safe, where a
        # keep-list semi join would put a corpus-sized relation on the
        # broadcast side (the same hazard this round fixed twice)
        fat_buckets = (
            banded.groupBy("_band", "_bucket")
            .agg(F.count("*").alias("_m"))
            .filter(F.col("_m") > max_bucket_size)
            .select("_band", "_bucket")
        )
        banded = banded.join(fat_buckets, ["_band", "_bucket"], "left_anti")
    right = banded.select(
        F.col("_id").alias("_id2"), F.col("_na").alias("_nb"), "_band", "_bucket"
    )
    # the banded self-join's sides are both |corpus|·bands rows — same
    # compile-time-broadcast hazard as the verification leg below
    # (merge, not shuffle_hash: per-partition hash maps OOM at scale)
    #
    # Probed and DECLINED (opt r13, r12 verdict item 6): dropping
    # singleton band buckets before this self-join (groupBy count +
    # semi-join keep-list) returns the identical pair set — a
    # singleton bucket cannot produce an (_id < _id2) match — but
    # measured 2.75 s → 2.96 s min-of-3 noop-isolated at sf0.1: the
    # sorted-merge join already skips unmatched singleton runs nearly
    # free, so the extra aggregate + semi-join shuffle + barrier cost
    # more than the skipped rows saved. At cluster scale the same
    # trade re-balances only if most banded bytes are singletons AND
    # the shuffle is network-bound; revisit with a real-corpus profile
    # before adding a knob.
    cand = (
        banded.join(right.hint("merge"), ["_band", "_bucket"])
        .filter(F.col("_id") < F.col("_id2"))
        .select("_id", "_id2", "_na", "_nb")
        .dropDuplicates(["_id", "_id2"])
    )
    # verify: count shared hashed shingles per candidate pair, then
    # attach per-doc shingle counts from the (already aggregated)
    # signature relation — no extra pass over the corpus, no arrays.
    #
    # Every join side here is CORPUS-SIZED (the shingle index `ex` is
    # |corpus|·~shingles rows; `n_a`/`n_b` are |corpus| rows), so each
    # carries an explicit merge (sort-merge) hint: Catalyst's static
    # size-in-bytes estimate scales a Project by row-width ratio but
    # does NOT multiply through a Generate, so the narrow (id, hash)
    # projection of the exploded shingles is estimated at ~1% of the
    # source scan — under the broadcast threshold — and the planner
    # compile-time BROADCASTS the whole inverted index. Invisible at
    # test SF (4 MB), OOM at scale (the round-8 sf1 smoke: a 54M-row
    # build side → "Not enough memory to build and broadcast", a 2 GiB
    # page allocation). The hint pins a sort-merge join — the only
    # strategy here that degrades gracefully: a shuffled HASH join
    # builds a per-partition map that must fit a task's memory share,
    # and the smoke's second failure mode was exactly that ("not
    # enough memory to build hash map" under 32 concurrent tasks);
    # SMJ spills to disk instead.
    inter = (
        cand.join(ex.hint("merge"), "_id")
        .join(
            ex.select(F.col("_id").alias("_id2"), "_hs").hint("merge"),
            ["_id2", "_hs"],
        )
        .groupBy("_id", "_id2", "_na", "_nb")
        .agg(F.count("*").alias("_c"))
    )
    union = F.col("_na") + F.col("_nb") - F.col("_c")
    pairs = (
        inter.select(
            F.col("_id").alias("id_a"),
            F.col("_id2").alias("id_b"),
            F.round(F.col("_c").cast("double") / union.cast("double"), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs, sig


def _pow2_long(b: int) -> int:
    """2^b as a signed 64-bit literal (bit 63 is the sign bit)."""
    return (1 << b) if b < 63 else -(1 << 63)


def simhash_counters(text: Column) -> Column:
    """Per-bit ±1 vote totals (array<int>[64]) across token hashes —
    stage 1 of SimHash. Built-in expressions only (bit counts are
    Python ints — Spark's shift functions don't take Column bit counts)."""
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    return F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("int"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for b in range(64)
                ]
            ),
            lambda a, d: a + d,
        ),
    )


def simhash_pack(counters: Column) -> Column:
    """Stage 2: sign of each counter → bit, packed into a long. Pass a
    MATERIALIZED column (withColumn), not the raw counters expression —
    the 64 references here would otherwise clone the whole stage-1 tree."""
    out = F.lit(0).cast("long")
    for b in range(64):
        out = out.bitwiseOR(
            F.when(F.element_at(counters, b + 1) > 0, F.lit(_pow2_long(b)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash64(text: Column) -> Column:
    """Convenience single-expression SimHash; prefer the two-stage form
    (simhash_counters → simhash_pack) inside DataFrame pipelines."""
    return simhash_pack(simhash_counters(text))


#: Hash-count ceiling for hamming_pairs' driver-local self-join fast
#: path (opt r12, the graph.LOCAL_MAX_EDGES discipline): at/below,
#: the (id, hash) relation is collected (~16 B/row) and the pairs are
#: computed by exact chunked numpy XOR+popcount — the block-permutation
#: join is pigeonhole-EXACT, so brute force returns the identical pair
#: set without the explode + self-join + dedup exchanges (measured
#: ~1 s of fixed overhead for 420 hashes). Above the gate — every real
#: corpus — the blocked join runs unchanged. 0 disables.
LOCAL_MAX_HASHES = 4096


def _hamming_pairs_local(rows: list, max_hamming: int) -> list:
    """Exact (id_a, id_b, hamming) triples for collected (id, hash)
    rows: chunked 64-bit XOR + byte-LUT popcount, value-ordered ids,
    self/duplicate/NULL-id pairs dropped — the distributed join's
    semantics verbatim (duplicate-id inputs keep the min hamming per
    pair, a deterministic refinement of dropDuplicates' arbitrary
    pick)."""
    import numpy as np

    ids = [r[0] for r in rows]
    h = np.array([r[1] for r in rows], dtype=np.int64).view(np.uint64)
    n = len(ids)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    best: dict = {}
    for i0 in range(0, n, 1024):
        x = h[i0 : i0 + 1024][:, None] ^ h[None, :]
        pc = (
            lut[x.view(np.uint8)]
            .reshape(x.shape[0], n, 8)
            .sum(axis=2, dtype=np.int16)
        )
        for a, b in zip(*np.nonzero(pc <= max_hamming)):
            gi, gj = i0 + int(a), int(b)
            if gi >= gj:
                continue
            da, db = ids[gi], ids[gj]
            if da is None or db is None or da == db:
                continue
            key = (da, db) if da < db else (db, da)
            hm = int(pc[a, b])
            if key not in best or hm < best[key]:
                best[key] = hm
    return [(a, b, hm) for (a, b), hm in best.items()]


def hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    against: DataFrame | None = None,
    broadcast_probe: bool = False,
    local_max_rows: int = LOCAL_MAX_HASHES,
) -> DataFrame:
    """Block-permutation Hamming join over ANY 64-bit hash column —
    the shared machinery behind :func:`simhash_pairs` (text) and
    :func:`..multimodal.image_dedup.image_near_dup_pairs` (dHash).
    Blocks on (max_hamming+1) equal bit chunks: by pigeonhole, any
    pair within Hamming distance d agrees EXACTLY on at least one of
    the d+1 chunks, so the candidate set provably contains every
    qualifying pair (this is exhaustive, not probabilistic recall);
    verification is one bit_count(xor). NULL hashes (e.g. decode
    failures upstream) are excluded — they cannot be compared.

    Self-join form (``against=None``): every pair WITHIN ``hashed``,
    as ``(id_a, id_b, hamming)`` with id_a < id_b. Cross form
    (``against`` = a second relation with the SAME id/hash columns —
    the incremental-dedup probe-vs-history shape): every qualifying
    (hashed row, against row) pair, id_a from ``hashed``, id_b from
    ``against``, no ordering constraint.

    ``broadcast_probe`` (cross form only): broadcast the ``hashed``
    side's blocked relation so ``against`` STREAMS through its scan —
    never shuffled or sorted. The incremental micro-batch path: the
    probe is batch-sized ((d+1) rows per hash) while the history is
    corpus-sized; the caller asserts the probe is small enough. The
    default merge hint remains correct for both forms and for large
    probes."""
    if not (0 <= max_hamming <= 31):
        raise ValueError(
            f"max_hamming must be in [0, 31] (need >= 2-bit chunks of a "
            f"64-bit hash), got {max_hamming}"
        )
    n_blocks = max_hamming + 1
    bits_per = 64 // n_blocks
    # d=0 → ONE 64-bit chunk: the mask 2^64-1 overflows a JVM long, so
    # the chunk is the hash itself (exact-hash blocking)
    blk_mask = -1 if bits_per == 64 else (1 << bits_per) - 1

    def _blocked(df: DataFrame, ids: str, hs: str) -> DataFrame:
        sh = df.select(
            F.col(ids).alias("_id"), F.col(hs).alias("_h")
        ).filter(F.col("_h").isNotNull())
        return sh.select(
            "_id",
            "_h",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(
                            F.col("_h"), b * bits_per
                        ).bitwiseAND(F.lit(blk_mask))
                        for b in range(n_blocks)
                    ]
                )
            ).alias("_blk", "_val"),
        )

    base = hashed
    if against is None and local_max_rows:
        from ..caching import release_these, tracked_persist
        from .driver_local import LOCAL_ID_TYPES, bounded_collect, local_frame

        # persist the filtered (id, hash) projection: the self-join's
        # two sides otherwise each re-run the upstream hash pass (a
        # Python decode for dHash); the bounded collect gates the local
        # path and fills the cache for the partitions it reads
        hp = tracked_persist(
            hashed.select(
                F.col(id_col).alias(id_col), F.col(hash_col).alias(hash_col)
            ).filter(F.col(hash_col).isNotNull())
        )
        collected = None
        if dict(hp.dtypes)[id_col] in LOCAL_ID_TYPES:
            collected = bounded_collect(hp, local_max_rows)
        if collected is not None:
            rows = [(r[0], r[1]) for r in collected]
            dtype = hp.schema[id_col].dataType
            release_these([hp])
            from pyspark.sql.types import (
                IntegerType,
                StructField,
                StructType,
            )

            return local_frame(
                hashed.sparkSession,
                _hamming_pairs_local(rows, max_hamming),
                StructType(
                    [
                        StructField("id_a", dtype, True),
                        StructField("id_b", dtype, True),
                        StructField("hamming", IntegerType(), True),
                    ]
                ),
            )
        base = hp

    blocked = _blocked(base, id_col, hash_col)
    right = _blocked(
        base if against is None else against, id_col, hash_col
    ).select(
        F.col("_id").alias("_id2"), F.col("_h").alias("_h2"), "_blk", "_val"
    )
    # merge hint: same exchange-free-build-side broadcast hazard as
    # ngram_jaccard_pairs above (the blocked relation is corpus-sized).
    # The hazard is broadcasting the CORPUS side; broadcasting a small
    # PROBE side (cross form, caller-asserted) is the safe direction.
    if broadcast_probe and against is not None:
        joined = F.broadcast(blocked).join(right, ["_blk", "_val"])
    else:
        joined = blocked.join(right.hint("merge"), ["_blk", "_val"])
    if against is None:
        joined = joined.filter(F.col("_id") < F.col("_id2"))
    return (
        joined.select(
            F.col("_id").alias("id_a"),
            F.col("_id2").alias("id_b"),
            F.bit_count(F.col("_h").bitwiseXOR(F.col("_h2"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: hash the text (two-stage counters →
    pack, materialized between stages so the stage-1 tree is built
    once) and delegate the blocking + verification to
    :func:`hamming_pairs`. Returns (id_a, id_b, hamming)."""
    from .skew import widen_partitions

    sh = (
        widen_partitions(docs).select(
            F.col(id_col).alias("_sid"),
            simhash_counters(F.col(text_col)).alias("_cnt"),
        )
        .withColumn("_sh", simhash_pack(F.col("_cnt")))
        .drop("_cnt")
    )
    return hamming_pairs(sh, "_sid", "_sh", max_hamming)


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_cols: Sequence[str],
    seed: int = 42,
) -> DataFrame:
    """Stratified sampling with content-hash determinism ([EXT]).

    Unlike ``sampleBy`` (whose per-partition RNG makes the sample depend
    on physical partitioning — a silent reproducibility bug across
    clusters/retries), membership here is a pure function of row
    content: keep iff pmod(xxhash64(id_cols, seed), 1e6) < frac·1e6.
    Same rows in → same sample out, on any cluster, any partitioning."""
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in id_cols], F.lit(seed)), F.lit(1_000_000)
    )
    expr = None
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (bucket < int(frac * 1_000_000))
        expr = cond if expr is None else (expr | cond)
    return df.filter(expr if expr is not None else F.lit(False))
