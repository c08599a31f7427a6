"""Lexical retrieval and rank fusion: BM25 query→document search and
reciprocal-rank fusion (RRF).

The engine already has the dense half of retrieval —
``operators.similarity_search`` (brute-force / LSH / IVF cosine
top-k over embeddings). This module adds the sparse half and the
standard combiner, the pair every production retrieval stack (and
every contamination/attribution audit over a training corpus) runs:

- :func:`bm25_search` — Robertson BM25 (k1=1.2, b=0.75 Lucene
  defaults) of a query relation against a document corpus via an
  inverted term join: score(q, d) = Σ_{t ∈ q ∩ d} idf(t)·tf_norm(t, d)
  over DISTINCT query terms (the standard qtf=1 form).
- :func:`rrf_fuse` — Cormack/Clarke/Buettcher reciprocal-rank fusion:
  rrf(d) = Σ_systems 1/(k0 + rank_s(d)), the score-free way to merge
  BM25 and embedding rankings without calibrating their scales.

Determinism / oracle convention (queries.py module docstring): BM25
term contributions are quantized to bigints at 1e-6 BEFORE the
per-(query, doc) sum — integer sums are order- and cross-engine
invariant, so the search scores (and the ranks derived from them, tie
broken by doc id) are exactly reproducible in DuckDB. RRF quantizes
1e6/(k0+rank) per system the same way.

Plan shape at scale (the 100 TB story): the corpus side is the
``bm25_term_scores`` relation — narrow (id, token, score) rows, built
with one explode + map-side-combined groupBys, no text after the
explode. The query side explodes to DISTINCT (query, token) pairs and
joins on the token key; for the typical audit workload (thousands of
queries vs a corpus) AQE broadcasts the query side, so the corpus
relation never shuffles at all. The per-(query, doc) aggregate is
map-side combinable; top-k is a per-query window, never a global
sort. Nothing is quadratic: a query only meets documents sharing a
term (the inverted-index property). Stop-word-like terms that touch
the whole corpus are the classic skew hazard — ``max_df_frac`` drops
terms appearing in more than that fraction of documents (they carry
~zero idf anyway), the same guard real inverted indexes apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import bm25_term_scores
from .windows import topk_per_group


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = 0.5,
    persist: bool = True,
) -> DataFrame:
    """Top-k documents per query under BM25. Returns
    ``(query_id_col, doc_id_col, score_q, rn)``, rn ∈ [1, topk],
    ranked on the summed quantized term contributions with a doc-id
    tiebreak (deterministic, cross-engine exact).

    ``max_df_frac`` drops corpus-saturating terms (df > frac·N) from
    the CORPUS-side term relation, inside ``bm25_term_scores``'s own
    plan (no extra pass): they contribute ~zero idf but would join
    against nearly every document — the inverted-index stop-word
    guard. ``None`` disables it (exact textbook BM25 over all terms).

    Cache contract: the query-term relation (``q_terms``) is always a
    tracked persist, and ``persist=True`` pins the corpus-side term
    scores too. Neither can be released before the returned DataFrame
    is consumed, so the function does not release them: call
    ``caching.release_caches()`` (or ``release_since`` on a
    ``pool_mark()`` taken before the call) after the consuming action.
    A caller that issues many query batches without releasing
    accumulates one cached relation per batch.
    """
    if not 0 < topk:
        raise ValueError(f"topk must be >= 1, got {topk}")
    from ..caching import tracked_persist

    q_terms = queries.select(
        F.col(query_id_col),
        F.explode_outer(
            F.filter(
                F.split(F.trim(F.col(query_text_col)), r"\s+"), lambda w: w != ""
            )
        ).alias("token"),
    ).filter(F.col("token").isNotNull()).distinct()  # qtf=1: distinct terms
    # two consumers (the corpus-side token prefilter AND the hits
    # probe join) — persisted so the query tokenize+distinct subtree
    # runs once (opt r13, guide §2.4/§5). The relation is query-batch
    # sized (distinct terms of the probe set), bounded by construction;
    # callers release via caching.release_caches().
    q_terms = tracked_persist(q_terms)
    scored = bm25_term_scores(
        docs,
        id_col=doc_id_col,
        text_col=text_col,
        k1=k1,
        b=b,
        persist=persist,
        max_df_frac=max_df_frac,
        # score only postings whose token can match a query term —
        # df/dl/N/Σdl still aggregate over the full corpus, so the
        # surviving scores are bit-identical (round 10)
        token_filter=q_terms,
    )
    hits = (
        q_terms.join(scored.select(doc_id_col, "token", "score_q"), "token")
        .groupBy(query_id_col, doc_id_col)
        .agg(F.sum("score_q").alias("score_q"))
    )
    return topk_per_group(
        hits,
        [query_id_col],
        [F.col("score_q").desc(), F.col(doc_id_col).asc()],
        topk,
        keep_rank=True,
    ).select(query_id_col, doc_id_col, "score_q", "rn")


def rrf_fuse(
    rankings: dict[str, DataFrame],
    query_id_col: str = "query_id",
    doc_id_col: str = "doc_id",
    rank_col: str = "rn",
    topk: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of named rankings (each
    ``(query_id_col, doc_id_col, rank_col)``; extra columns ignored):
    rrf(q, d) = Σ_s round(1e6 / (k0 + rank_s(q, d))) summed as
    integers — k0=60 is the published default (Cormack et al. 2009).
    A document absent from one system simply contributes nothing for
    it (the standard convention). Returns
    ``(query_id_col, doc_id_col, rrf_q, n_systems, rn)``.

    One union + one map-side-combinable groupBy + a per-query window;
    system count is small and static, so the plan is a linear pass
    over the k·|queries|·|systems| candidate rows — trivially
    shuffle-bounded at any corpus size.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if not 0 < topk:
        raise ValueError(f"topk must be >= 1, got {topk}")
    if k0 < 1:
        # k0 + rank must never hit 0 (rank >= 1) — a nonpositive k0
        # would divide by zero into Infinity-cast-to-long garbage
        raise ValueError(f"k0 must be >= 1, got {k0}")
    parts = []
    for name, df in rankings.items():
        parts.append(
            df.select(
                F.col(query_id_col),
                F.col(doc_id_col),
                F.round(1e6 / (F.lit(float(k0)) + F.col(rank_col).cast("double")))
                .cast("long")
                .alias("_contrib"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy(query_id_col, doc_id_col).agg(
        F.sum("_contrib").alias("rrf_q"),
        F.count("*").cast("int").alias("n_systems"),
    )
    return topk_per_group(
        fused,
        [query_id_col],
        [F.col("rrf_q").desc(), F.col(doc_id_col).asc()],
        topk,
        keep_rank=True,
    ).select(query_id_col, doc_id_col, "rrf_q", "n_systems", "rn")
