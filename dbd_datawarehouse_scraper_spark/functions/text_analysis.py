"""[EXT] Text-analysis column expressions for LLM-data pipelines.

Language ID, quality scoring, token counting, fingerprinting, and
shingling — all built-in column expressions (JVM-side) so they run at
100 TB without Python in the loop. Driver's ``documents`` table
(doc_id, text, lang, source, n_chars) is the canonical input.
"""

from __future__ import annotations

import re as _re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Distinctive high-frequency marker words per language, used by the
# n-gram-free heuristic language identifier. Deliberately simple and
# regex-expressible so the DuckDB oracle can replicate it exactly.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|was|with|that|this|for|are)\b",
    "es": r"\b(el|la|los|las|es|y|de|que|en|una)\b",
    "de": r"\b(der|die|das|und|ist|mit|von|ein|eine|nicht)\b",
    "fr": r"\b(le|les|des|est|et|dans|une|que|pour|avec)\b",
}
CJK_RANGE = r"[一-鿿]"
THAI_RANGE = r"[฀-๿]"

# Small multilingual stopword set for the quality score's stopword ratio.
_STOPWORDS = r"\b(the|and|of|to|in|a|is|der|die|und|le|la|et|el|los|de|que)\b"


def token_count(col: Column) -> Column:
    """Whitespace token count (``len(s.split())`` parity): the number
    of ``\\S+`` runs. ``regexp_count`` (round 12) replaces the old
    split→filter→size chain — same value on every input (null→null,
    empty/blank→0), but codegen'd with NO intermediate array, and
    ``filter`` is an interpreted higher-order function that broke
    whole-stage codegen for every expression sharing its projection."""
    return F.regexp_count(col, F.lit(r"\S+"))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: word pieces, numbers, and punctuation
    counted separately (a cheap proxy for BPE token counts — a 100 TB
    corpus cost estimator doesn't need the exact tokenizer). The proxy
    runs ±15-30% off a real tokenizer on code/CJK; budgets that must
    hold in TRUE token units (context packing) should use the exact
    ``vocab:<merges path>`` counter (functions/bpe.py) via
    :func:`resolve_token_counter`."""
    return F.regexp_count(col, F.lit(r"\w+|[^\w\s]"))


def char_classes(col: Column):
    """Struct of character-class counts used by quality heuristics.
    ``regexp_count`` per class (round 12): the old form REWROTE the
    document once per class to measure it — four full string builds
    per doc; counts are identical, allocation is zero."""
    return F.struct(
        F.length(col).alias("n_chars"),
        F.regexp_count(col, F.lit(r"[A-Za-z]")).alias("n_alpha"),
        F.regexp_count(col, F.lit(r"[0-9]")).alias("n_digit"),
        F.regexp_count(col, F.lit(r"\p{Punct}")).alias("n_punct"),
        F.regexp_count(col, F.lit(r"\s")).alias("n_space"),
    )


def quality_score(col: Column, word_count: Column | None = None) -> Column:
    """[0,1] document quality heuristic: penalize extreme length,
    punctuation-heavy and stopword-free text. Deterministic and
    SQL-expressible (oracle-checkable) with the default whitespace
    word count; pass ``word_count`` (a Column) to meter length with a
    different counter — unsegmented scripts (Thai) read as ~1
    whitespace word, which floors len_score at 1/20 and silently
    fails the funnel's ``min_quality`` gate."""
    # Counter passes fused for the per-doc hot path (round-12 verdict
    # item: the quality gate was domain_curation's dominant cost):
    # regexp_count everywhere — the old regexp_replace punct counter
    # REWROTE the whole document to measure it, and the extract_all
    # stopword counter materialized a match array; both now count in
    # place, codegen'd, allocation-free. Values are identical (same
    # match sets), so the DuckDB oracle mirrors are untouched.
    n_tokens = (word_count if word_count is not None else token_count(col)).cast(
        "double"
    )
    n_chars = F.length(col).cast("double")
    # punct counter via translate (opt r12): deleting the 6-char class
    # and differencing lengths counts exactly the same matches as
    # regexp_count('[.,;:!?]') — single chars, no overlap — without a
    # regex-engine pass per document
    n_punct = (F.length(col) - F.length(F.translate(col, ".,;:!?", ""))).cast(
        "double"
    )
    n_stop = F.regexp_count(F.lower(col), F.lit(_STOPWORDS)).cast("double")
    len_score = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    punct_penalty = F.least(n_punct / F.greatest(n_chars, F.lit(1.0)) * 10, F.lit(1.0))
    stop_score = F.least(n_stop / F.greatest(n_tokens, F.lit(1.0)) * 5, F.lit(1.0))
    return F.round(
        0.5 * len_score + 0.3 * stop_score + 0.2 * (1.0 - punct_penalty), 6
    )


def lang_id(col: Column) -> Column:
    """Heuristic language identifier over {en, es, de, fr, zh}.

    Scores = count of language-marker stopwords (CJK: count of CJK
    chars / 2); argmax with a fixed priority order on ties
    (en > es > de > fr > zh), 'und' when all scores are 0. Exactly
    replicable in ANSI SQL for the oracle.

    CAVEAT (load-bearing at curation time): every language outside the
    five marker sets — INCLUDING Thai, the reference corpus's own
    language — scores ``und``. Funnel/gate-report callers whose
    ``keep_langs`` reaches beyond {en, es, de, fr, zh} must pass
    ``lang_id_impl="trigram"`` (functions/langid.py — 12 languages
    incl. th); this form stays the default only because it is the
    SQL-expressible oracle-pinned path."""
    lowered = F.lower(col)
    scores = {
        lang: F.regexp_count(lowered, F.lit(pat))
        for lang, pat in LANG_MARKERS.items()
    }
    scores["zh"] = (F.regexp_count(col, F.lit(CJK_RANGE)) / 2).cast(
        "int"
    )
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in ["en", "es", "de", "fr", "zh"]:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


#: Explicit alias for the heuristic path now that the byte-trigram
#: scorer (functions/langid.py) exists — call sites that deliberately
#: want the cheap 5-language form should name it ``lang_id_fast``.
lang_id_fast = lang_id


def doc_fingerprint(col: Column) -> Column:
    """Deterministic content fingerprint: SHA-256 of the
    whitespace-normalized, lowercased text. Stable across engines
    (oracle-checkable) and collision-safe at 100 TB (vs 64-bit hashes
    where ~4B docs makes birthday collisions likely)."""
    normalized = F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))
    return F.sha2(normalized, 256)


def word_bigrams(words: Column) -> Column:
    """Adjacent word pairs (``"w1 w2"`` strings) from a word array —
    THE one bigram builder (repetition_stats and operators/dsir.py both
    consume it; the 1-based sequence bounds and int casts live here
    only). Documents with fewer than 2 words yield NULL (the
    explode_outer-then-null-filter marker form); callers that need an
    empty array instead wrap in ``F.coalesce(..., F.array()...)``."""
    return F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1).cast("long"), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i.cast("int")),
                F.element_at(words, (i + 1).cast("int")),
            ),
        ),
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) for Jaccard/MinHash dedup.

    Pure-expression (HOF) form — the semantic reference. Spark's
    higher-order functions are INTERPRETED (no whole-stage codegen), and
    the per-position ``slice`` + ``array_join`` makes this ~1 ms/doc:
    the measured CPU hot spot of every shingle-based dedup at sf0.1.
    Hot paths should use :func:`shingles_vec` (Arrow-vectorized, same
    output bit-for-bit — equivalence fuzz-pinned in
    tests/test_dedup.py::test_shingles_vec_bit_identical_to_hof); this
    form remains the oracle-shaped definition and the fallback."""
    words = F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")
    n = F.size(words)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(words, " ")))
    )


# Java's \s is ASCII-only ([ \t\n\x0B\f\r]) unless UNICODE_CHARACTER_CLASS
# is set; Python's str.split()/\s match all Unicode whitespace. The kernel
# must tokenize exactly like Spark's split(trim(col), '\s+') or shingle
# sets diverge on text containing NBSP/thin-space (present in scraped HTML).
_ASCII_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


@lru_cache(maxsize=None)
def _shingles_pandas_udf(k: int):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # HOF form: array_join(NULL words) is NULL, wrapped in
                # array() -> [NULL]. Preserved for bit-equivalence.
                out.append([None])
                continue
            w = [x for x in _ASCII_WS.split(t) if x]
            if len(w) >= k:
                out.append(
                    list(dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1)))
                )
            else:
                out.append([" ".join(w)])
        return pd.Series(out)

    return _sh


def shingles_vec(col: Column, k: int = 3) -> Column:
    """Arrow-vectorized k-gram shingles — bit-identical output to
    :func:`shingles` (fuzz-pinned), ~100× faster per doc because the
    per-position slice/join runs as a tight Python loop over an Arrow
    batch instead of interpreted Catalyst HOFs. Linear, partition-local,
    no shuffle — safe at corpus scale."""
    return _shingles_pandas_udf(k)(col)


def ws_token_relation(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_alias: str = "token",
) -> DataFrame:
    """``(id_col, token_alias)`` — one row per whitespace token. THE
    one tokenization every corpus-statistics ranker shares (tfidf,
    bm25, rarity, the keyword suite): the cross-engine-exact DuckDB
    mirrors assume this exact split, so a tokenization change happens
    HERE or nowhere — a drift in one copy would silently desynchronize
    the rankers from each other and from the oracle.

    Outer explode + null filter on the OUTPUT attribute: the inner
    form lets InferFiltersFromGenerate push ``size(tokens) > 0`` —
    with the whole split/filter tree substituted — below the
    projection, tokenizing every document twice. The token array never
    contains nulls (the HOF filter keeps non-empty strings), so
    dropping the null rows outer emits for empty docs is exactly inner
    semantics."""
    return docs.select(
        F.col(id_col),
        F.explode_outer(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")
        ).alias(token_alias),
    ).filter(F.col(token_alias).isNotNull())


def token_rarity_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[EXT] Corpus-statistics document scoring: for every document,
    the mean corpus frequency of its tokens — a two-pass quality
    signal (boilerplate and template text score high, gibberish and
    OCR noise score low) that, unlike :func:`quality_score`, is
    grounded in the corpus itself rather than per-document surface
    features. The standard cheap stand-in for unigram-LM perplexity
    filtering; deliberately integer-based (sum of counts / token
    count) so the score is cross-engine exact — a log-prob variant
    would hang correctness on libm ULP agreement between engines.

    Plan shape at scale: explode to (doc, token), ONE map-side-combined
    groupBy for the vocabulary (shuffle = |vocab|), a key-shuffle join
    of tokens against it (AQE broadcasts the vocab side when small),
    and a final groupBy per document. Nothing quadratic; every shuffle
    is on a single key column.

    Returns (id_col, n_tokens, mean_token_freq DOUBLE).
    """
    toks = ws_token_relation(docs, id_col, text_col, token_alias="_tok")
    vocab = toks.groupBy("_tok").agg(F.count("*").alias("_freq"))
    return (
        toks.join(vocab, "_tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (F.sum("_freq").cast("double") / F.count("*")).alias("mean_token_freq"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[EXT] Gopher-style repetition signals per document: the share of
    repeated words (1 - distinct/total) and the share of word-bigram
    mass held by the single most frequent bigram — the standard cheap
    detectors for template/boilerplate text and degenerate repetition
    loops that survive per-document quality scoring. Both are integer
    ratios (counts over counts), so the DuckDB oracle value-matches
    exactly.

    Plan shape at scale: one explode to (doc, bigram) — NON-distinct,
    unlike the dedup shingles, because repetition is the signal here —
    one map-side-combined groupBy (doc, bigram), one per-doc
    aggregation. The bigram construction is the interpreted-HOF form;
    corpora where this is the measured hot spot should lift it into a
    shingles_vec-style Arrow kernel (same pattern, k=2, keep
    duplicates).

    Returns (id_col, n_words, dup_word_frac, top_bigram_frac,
    dup_line_frac, dup_line_char_frac, dup_para_frac,
    dup_para_char_frac); all fractions are 0.0 for docs too short to
    measure. The line/paragraph signals are Gopher's other repetition
    family: the share of non-blank lines (paragraphs: blank-line-
    separated blocks) that are repeats of an earlier occurrence, and
    the share of their CHARACTERS in those repeat occurrences —
    computed as (total - distinct)/total over per-row arrays, so they
    add no shuffle at all (the only shuffle stays the bigram leg).
    """
    # Tokenize ONCE per leg: `_w` is staged in its own projection and
    # every later expression references the attribute. CollapseProject
    # keeps the stage (multi-reference, non-cheap producer), so the
    # split/filter tree is not re-inlined per consumer expression —
    # the pre-round-5 form evaluated it up to 4× per row (n_words,
    # _n_uniq, the short-doc predicate pushed into the scan with the
    # tree substituted, and the bigram lambda).
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")
    # \r?\n so CRLF text splits the same as Unix text; "blank" means
    # whitespace-only (trim() strips only spaces — a ' \t' or '\r'
    # line must still not count), hence the \S containment check
    lines = F.filter(
        F.split(F.col(text_col), r"\r?\n"), lambda l: l.rlike(r"\S")
    )
    # a paragraph break is a newline followed by >=1 BLANK line —
    # including blank lines that carry spaces/tabs/CR (' \n \n' and
    # '\r\n\r\n' separate paragraphs just like '\n\n')
    paras = F.filter(
        F.split(F.col(text_col), r"\r?\n(?:[ \t]*\r?\n)+"),
        lambda p: p.rlike(r"\S"),
    )

    def _chars(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        )

    staged = docs.select(
        F.col(id_col), words.alias("_w"), lines.alias("_l"), paras.alias("_p")
    )
    base = staged.select(
        id_col,
        "_w",
        F.size("_w").cast("long").alias("n_words"),
        F.size(F.array_distinct("_w")).cast("long").alias("_n_uniq"),
        F.size("_l").cast("long").alias("_n_lines"),
        F.size(F.array_distinct("_l")).cast("long").alias("_n_uniq_lines"),
        _chars(F.col("_l")).alias("_line_chars"),
        _chars(F.array_distinct("_l")).alias("_uniq_line_chars"),
        F.size("_p").cast("long").alias("_n_paras"),
        F.size(F.array_distinct("_p")).cast("long").alias("_n_uniq_paras"),
        _chars(F.col("_p")).alias("_para_chars"),
        _chars(F.array_distinct("_p")).alias("_uniq_para_chars"),
    )
    # Short docs are excluded via a NULL bigram array + outer explode +
    # output-attribute null filter instead of a `n_words >= 2`
    # predicate: a predicate would be pushed below the staged
    # projection with the tokenize tree substituted, and an INNER
    # explode would let InferFiltersFromGenerate do the same with the
    # whole bigram tree (round-5 plan audit). concat_ws never yields
    # null, so the null filter drops exactly the short-doc marker rows.
    grams = base.select(
        id_col,
        F.explode_outer(word_bigrams(F.col("_w"))).alias("_g"),
    ).filter(F.col("_g").isNotNull())
    gstats = (
        grams.groupBy(id_col, "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("_ngrams"))
    )
    out = base.drop("_w").join(gstats, id_col, "left")
    return out.select(
        id_col,
        "n_words",
        _dup_frac("n_words", "_n_uniq").alias("dup_word_frac"),
        F.round(
            F.coalesce(
                F.col("_top").cast("double") / F.col("_ngrams"), F.lit(0.0)
            ),
            6,
        ).alias("top_bigram_frac"),
        _dup_frac("_n_lines", "_n_uniq_lines").alias("dup_line_frac"),
        _dup_frac("_line_chars", "_uniq_line_chars").alias(
            "dup_line_char_frac"
        ),
        _dup_frac("_n_paras", "_n_uniq_paras").alias("dup_para_frac"),
        _dup_frac("_para_chars", "_uniq_para_chars").alias(
            "dup_para_char_frac"
        ),
    )


def _dup_frac(total: str, uniq: str):
    """(total - distinct) / total, 0.0 on an empty total — the repeat
    share used by all four line/paragraph repetition signals."""
    return F.round(
        F.when(
            F.col(total) > 0,
            (F.col(total) - F.col(uniq)).cast("double") / F.col(total),
        ).otherwise(F.lit(0.0)),
        6,
    )


def _tfidf_score_q() -> Column:
    """The TF-IDF score ``tf · ln((N+1)/(df+1))`` quantized to a bigint
    at 1e-6, over the ``tf``, ``df`` and ``_nd`` (N) columns —
    :func:`tfidf_topk` and :func:`keyword_topk_suite` both rank on it."""
    return F.round(
        F.col("tf").cast("double")
        * F.log((F.col("_nd") + 1.0) / (F.col("df").cast("double") + 1.0))
        * 1e6
    ).cast("long")


def _bm25_score_q(k1: float, b: float) -> Column:
    """The BM25 score (see :func:`bm25_topk`) quantized to a bigint at
    1e-6, over the ``tf``, ``df``, ``dl``, ``_nd`` (N) and ``_tot``
    (Σdl) columns — :func:`bm25_term_scores` and
    :func:`keyword_topk_suite` both rank on it."""
    tf = F.col("tf").cast("double")
    df = F.col("df").cast("double")
    idf = F.log(1.0 + (F.col("_nd") - df + 0.5) / (df + 0.5))
    avgdl = F.col("_tot") / F.col("_nd")
    norm = tf / (tf + k1 * ((1.0 - b) + b * F.col("dl").cast("double") / avgdl))
    return F.round(idf * norm * 1e6).cast("long")


def tfidf_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 5,
    persist: bool = True,
) -> DataFrame:
    """[EXT] Per-document top-k TF-IDF keywords — the standard
    document-representation / keyword-extraction primitive (topic
    tagging, corpus browsing, duplicate-cluster labeling in a
    training-data pipeline).

    ``score = tf · ln((N+1)/(df+1))`` (the smoothed IDF), quantized to
    a bigint at 1e-6 BEFORE ranking: ranking on the quantized integer
    (ties broken by token ascending) makes the top-k selection
    deterministic and cross-engine reproducible — ranking on the raw
    double would let a last-ulp libm divergence flip near-equal ranks.

    Plan shape at scale: explode to (doc, token); tf = one map-side-
    combined groupBy (doc, token); df falls out of the TF relation with
    a second small groupBy (|vocab| rows — no distinct needed, tf rows
    are already unique per (doc, token)); N is a 1-row aggregate
    broadcast via cross join; the tf⋈df join shuffles narrow rows on
    the token key (AQE broadcasts the vocab side when it fits); top-k
    is a per-document window — partitioned, never global. Nothing in
    the plan is quadratic and no segment of text moves after the
    explode.

    Returns (id_col, token, tf, df, score_q, rn), rn ∈ [1, topk].
    """
    from pyspark.sql import Window

    from ..caching import tracked_persist

    toks = ws_token_relation(docs, id_col, text_col)
    # tf feeds BOTH the df aggregate and the scored join; ReusedExchange
    # does NOT kick in (the df leg's column pruning changes the
    # canonical plan), so without a persist the tokenize + (doc, token)
    # shuffle run twice. ``persist=True`` (tracked; callers release via
    # caching.release_caches()) is the at-scale default; small one-shot
    # inputs sit below the cache-barrier break-even and should pass
    # ``persist=False`` (measured ~0.75 s vs ~1.02 s at sf0.1 local).
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("tf"))
    if persist:
        tf = tracked_persist(tf)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("_nd"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_q",
            _tfidf_score_q(),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(id_col, "token", "tf", "df", "score_q", "rn")
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    persist: bool = True,
) -> DataFrame:
    """[EXT] Per-document top-k BM25 keywords (Robertson/Spärck Jones;
    the Lucene-default ``k1=1.2, b=0.75`` scoring every production
    retrieval stack ranks with):

        idf  = ln(1 + (N − df + 0.5) / (df + 0.5))
        norm = tf / (tf + k1·(1 − b + b·dl/avgdl))
        score = idf · norm

    where ``dl`` is the document's token count and ``avgdl`` the corpus
    mean over ALL documents (empty documents count in the denominator —
    ``avgdl = Σdl / N``, not the mean of the nonempty). Like
    :func:`tfidf_topk`, the score is quantized to a bigint at 1e-6
    BEFORE ranking (ties broken by token ascending), so the top-k set
    is deterministic and cross-engine exact.

    Plan shape at scale: identical skeleton to tfidf_topk — explode,
    one map-side-combined tf groupBy, ``dl`` and ``df`` both fall out
    of the tf relation (doc-keyed and token-keyed small aggregates),
    N/Σdl is a 1-row broadcast; the tf⋈dl join co-partitions on the
    id key and tf⋈df shuffles narrow rows on the token key (AQE
    broadcasts whichever side fits). Nothing quadratic; no text moves
    after the explode.

    Returns (id_col, token, tf, df, score_q, rn), rn ∈ [1, topk].
    """
    from pyspark.sql import Window

    scored = bm25_term_scores(
        docs, id_col=id_col, text_col=text_col, k1=k1, b=b, persist=persist
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(id_col, "token", "tf", "df", "score_q", "rn")
    )


def bm25_term_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    persist: bool = True,
    max_df_frac: float | None = None,
    token_filter: DataFrame | None = None,
) -> DataFrame:
    """The BM25 term-contribution relation ``(id_col, token, tf, df,
    score_q)`` — :func:`bm25_topk` windows it per document for
    keywords; ``operators.retrieval.bm25_search`` joins query terms
    against it and SUMS contributions per (query, doc), which is exact
    on the quantized integers (integer sums are order- and
    cross-engine-invariant; see the module quantization convention in
    queries.py).

    ``max_df_frac`` drops corpus-saturating terms (df > frac·N) from
    the relation using the SAME one-row totals this plan already
    broadcasts — no extra corpus pass. They carry ~zero idf but join
    against nearly every document: the inverted-index stop-word
    guard.

    ``token_filter`` (a DataFrame with a ``token`` column, e.g. the
    distinct terms of a query batch) SEMI-JOINS the tf relation before
    the three-way scoring join — df / dl / N / Σdl still aggregate
    over the FULL corpus (scores of surviving tokens are unchanged),
    but the expensive join then touches only rows whose token can
    match a query. For ``bm25_search`` over a large corpus this is the
    difference between scoring every posting and scoring the probed
    postings (round 10)."""
    if max_df_frac is not None and not 0 < max_df_frac <= 1:
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
    from ..caching import tracked_persist

    toks = ws_token_relation(docs, id_col, text_col)
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("tf"))
    if persist:
        tf = tracked_persist(tf)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    if token_filter is not None:
        tf = tf.join(
            F.broadcast(token_filter.select("token").distinct()),
            "token",
            "left_semi",
        )
    # N counts ALL docs (empty included); Σdl == Σ token_count(text)
    # (token_count counts exactly the tokens ws_token_relation explodes
    # — the keyword_topk_suite equivalence), so BOTH totals come from
    # ONE 1-row aggregate off the docs scan. The old form
    # (docs.agg(count) ⋈ dl.agg(sum)) re-evaluated the whole
    # tokenize+tf+dl subtree a second time under persist=False — the
    # r12 before-plan of bm25_search carried four independent copies
    # of that subtree (opt r13, guide §2.4).
    totals = docs.agg(
        F.count("*").cast("double").alias("_nd"),
        F.sum(token_count(F.col(text_col))).cast("double").alias("_tot"),
    )
    scored = (
        tf.join(dl, id_col)
        .join(df, "token")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "score_q",
            _bm25_score_q(k1, b),
        )
    )
    if max_df_frac is not None:
        scored = scored.filter(
            F.col("df").cast("double") <= F.lit(max_df_frac) * F.col("_nd")
        )
    return scored.select(id_col, "token", "tf", "df", "score_q")


def keyword_topk_suite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BOTH keyword rankers (TF-IDF and BM25) from ONE pass — the
    form the oracle row runs. Calling :func:`tfidf_topk` and
    :func:`bm25_topk` separately tokenizes and aggregates the corpus
    twice (two independent plan trees — ReusedExchange cannot merge
    them, the tfidf persist note explains why). This suite goes
    further than sharing relations: ``df`` and ``dl`` come from COUNT/
    SUM WINDOWS over the tf relation instead of groupBy+join legs, so
    the whole plan is THREE exchanges — tf groupBy, the token window,
    and one id exchange shared by the dl window AND both rank windows
    (same partitioning stacks onto one shuffle, three sorts). The
    corpus totals (N, Σtokens) are one map-side-combined 1-row
    aggregate straight off the docs scan (recomputing them from tf
    would evaluate the tf subtree twice), and the two legs fan out
    with a 2-wide inline explode. Per-token skew (stop words) is
    identical to the join formulation — the token key partitions the
    same rows either way.

    Returns (scorer ∈ {tfidf, bm25}, id_col, token, tf, df, score_q,
    rn), rn ∈ [1, topk] per (scorer, document).
    """
    from pyspark.sql import Window

    toks = ws_token_relation(docs, id_col, text_col)
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("tf"))
    w_tok = Window.partitionBy("token")
    w_doc = Window.partitionBy(id_col)
    # tf rows are unique per (id, token), so COUNT over the token
    # window IS the document frequency; SUM(tf) over the id window is
    # the document length — no groupBy+join round trips
    with_stats = tf.withColumn(
        "df", F.count("*").over(w_tok).cast("long")
    ).withColumn("dl", F.sum("tf").over(w_doc).cast("long"))
    # Σtokens == Σdl (token_count counts exactly the exploded tokens);
    # computed off the docs scan so the tf subtree has ONE consumer
    totals = docs.agg(
        F.count("*").cast("double").alias("_nd"),
        F.sum(token_count(F.col(text_col)))
        .cast("double")
        .alias("_tot"),
    )
    base = (
        with_stats.crossJoin(F.broadcast(totals))
        .withColumn(
            "_tfidf_q",
            _tfidf_score_q(),
        )
        .withColumn(
            "_bm25_q",
            _bm25_score_q(k1, b),
        )
    )
    w_tfidf = Window.partitionBy(id_col).orderBy(
        F.col("_tfidf_q").desc(), F.col("token").asc()
    )
    w_bm25 = Window.partitionBy(id_col).orderBy(
        F.col("_bm25_q").desc(), F.col("token").asc()
    )
    ranked = base.withColumn("_rn_tfidf", F.row_number().over(w_tfidf)).withColumn(
        "_rn_bm25", F.row_number().over(w_bm25)
    )
    legs = ranked.select(
        F.col(id_col),
        "token",
        "tf",
        "df",
        F.explode(
            F.array(
                F.struct(
                    F.lit("tfidf").alias("scorer"),
                    F.col("_tfidf_q").alias("score_q"),
                    F.col("_rn_tfidf").alias("rn"),
                ),
                F.struct(
                    F.lit("bm25").alias("scorer"),
                    F.col("_bm25_q").alias("score_q"),
                    F.col("_rn_bm25").alias("rn"),
                ),
            )
        ).alias("_leg"),
    )
    return legs.filter(F.col("_leg.rn") <= topk).select(
        F.col("_leg.scorer").alias("scorer"),
        id_col,
        "token",
        "tf",
        "df",
        F.col("_leg.score_q").alias("score_q"),
        F.col("_leg.rn").alias("rn"),
    )


#: Gopher (Rae et al. 2021, table A1) stop-word list: a document must
#: contain at least 2 of these to pass the stop-word rule. Shared with
#: the DuckDB mirror in tests/test_text_functions.py — change both by
#: changing THIS tuple.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: Gopher rule thresholds (the published defaults); every comparison in
#: :func:`gopher_quality_flags` reads from here so the Spark gate, the
#:  DuckDB mirror test, and any caller override share one source.
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
}


def gopher_metrics(col: Column) -> list:
    """The integer ingredients of the Gopher quality rules, as aliased
    columns — all pure built-ins, all exact integers (the rule
    booleans then divide/compare, so every engine computing these
    agrees bit-for-bit):

    ``g_words`` (whitespace tokens), ``g_word_chars`` (total non-
    whitespace characters — the mean-word-length numerator),
    ``g_hash_symbols`` (``#`` occurrences) and ``g_ellipsis_symbols``
    (non-overlapping ``...`` runs or ``…``) — SEPARATE, because
    Gopher's rule is "ratio > 0.1 for EITHER the hash symbol or the
    ellipsis", not a combined count — ``g_lines`` (newline-split line
    count), ``g_bullet_lines`` (lines whose first non-space char is a
    bullet: ``•``/``-``/``*``), ``g_ellipsis_lines`` (lines ending
    with ``...`` or ``…``), ``g_alpha_words`` (words containing at
    least one ASCII letter), ``g_stop_hits`` (DISTINCT Gopher stop
    words present).

    NULL text yields NULL metrics — gate callers coalesce to ``''``
    first (:func:`gopher_quality_flags` does).
    """
    words = F.filter(F.split(F.trim(col), r"\s+"), lambda w: w != "")
    lines = F.split(col, r"\r?\n")  # CRLF text splits like Unix text
    lower_words = F.transform(words, lambda w: F.lower(w))
    return [
        F.size(words).cast("long").alias("g_words"),
        # count-in-place forms (round 12): total minus whitespace count
        # == non-whitespace chars, and regexp_count == extract-all size
        # — no document rewrite, no match array
        (F.length(col) - F.regexp_count(col, F.lit(r"\s"))).cast("long").alias(
            "g_word_chars"
        ),
        F.regexp_count(col, F.lit(r"#")).cast("long").alias(
            "g_hash_symbols"
        ),
        F.regexp_count(
            col, F.lit(r"(\.\.\.|…)")
        ).cast("long").alias("g_ellipsis_symbols"),
        F.size(lines).cast("long").alias("g_lines"),
        # [ \t]* padding instead of ltrim/rtrim: trim() strips only
        # ASCII spaces, so a tab-indented bullet or a '... ' tail with
        # a stray tab would otherwise dodge the check
        F.size(
            F.filter(lines, lambda l: l.rlike(r"^[ \t]*[\u2022\-\*]"))
        ).cast("long").alias("g_bullet_lines"),
        F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|\u2026)[ \t]*$"))
        ).cast("long").alias("g_ellipsis_lines"),
        F.size(
            F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))
        ).cast("long").alias("g_alpha_words"),
        F.size(
            # array_intersect already returns distinct elements — no
            # extra dedup pass over the word array
            F.array_intersect(
                lower_words,
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).cast("long").alias("g_stop_hits"),
    ]


#: Threshold keys that are counts (coerced with int); the rest are
#: ratios/lengths coerced with float. One table so the validator and
#: the rule builder cannot disagree.
_GOPHER_INT_KEYS = frozenset({"min_words", "max_words", "min_stop_hits"})


def validate_gopher_overrides(overrides: dict | None) -> dict:
    """The ONE validation of Gopher threshold overrides (the gate and
    the stream exporter's at-start check both call it): unknown keys
    refuse, and every value is coerced numerically NOW — a stray
    string would otherwise NULL the Spark comparison and silently drop
    every row (the null-vanish class). Returns the merged thresholds.
    """
    t = dict(GOPHER_DEFAULTS)
    if overrides:
        unknown = set(overrides) - set(t)
        if unknown:
            raise ValueError(
                f"unknown Gopher threshold overrides: {sorted(unknown)} "
                f"(valid: {sorted(t)})"
            )
        for k, v in overrides.items():
            try:
                t[k] = int(v) if k in _GOPHER_INT_KEYS else float(v)
            except (TypeError, ValueError) as exc:
                raise ValueError(
                    f"Gopher threshold {k!r} must be numeric, got {v!r}"
                ) from exc
    return t


def gopher_quality_flags(col: Column, overrides: dict | None = None) -> Column:
    """The Gopher quality-rule verdicts as ONE struct column:
    ``(word_count, mean_word_len, symbol_ratio, bullet_lines,
    ellipsis_lines, alpha_words, stop_words, pass)`` — seven rule
    booleans plus their conjunction. NULL text is coalesced to ``''``
    first (fails the word-count rule — explicitly, never a NULL
    verdict). Ratio comparisons are single IEEE divisions of exact
    integers — engine-independent. ``overrides`` replaces any
    :data:`GOPHER_DEFAULTS` threshold via
    :func:`validate_gopher_overrides` (unknown keys and non-numeric
    values refuse). The symbol rule follows the paper exactly: the
    hash ratio AND the ellipsis ratio must EACH stay at or below
    ``max_symbol_ratio`` — they are not pooled."""
    t = validate_gopher_overrides(overrides)
    c = F.coalesce(col, F.lit(""))
    # bind the metric expressions once via a struct so each ingredient
    # is computed once per row even without CSE
    ms = F.struct(*gopher_metrics(c))
    w = ms["g_words"].cast("double")
    rules = {
        "word_count": (ms["g_words"] >= t["min_words"])
        & (ms["g_words"] <= t["max_words"]),
        "mean_word_len": (
            ms["g_word_chars"] >= F.lit(float(t["min_mean_word_len"])) * w
        )
        & (ms["g_word_chars"] <= F.lit(float(t["max_mean_word_len"])) * w),
        "symbol_ratio": (
            ms["g_hash_symbols"] <= F.lit(float(t["max_symbol_ratio"])) * w
        )
        & (
            ms["g_ellipsis_symbols"]
            <= F.lit(float(t["max_symbol_ratio"])) * w
        ),
        "bullet_lines": ms["g_bullet_lines"].cast("double")
        <= F.lit(float(t["max_bullet_line_frac"]))
        * ms["g_lines"].cast("double"),
        "ellipsis_lines": ms["g_ellipsis_lines"].cast("double")
        <= F.lit(float(t["max_ellipsis_line_frac"]))
        * ms["g_lines"].cast("double"),
        "alpha_words": ms["g_alpha_words"].cast("double")
        >= F.lit(float(t["min_alpha_word_frac"])) * w,
        "stop_words": ms["g_stop_hits"] >= t["min_stop_hits"],
    }
    overall = None
    for expr in rules.values():
        overall = expr if overall is None else (overall & expr)
    return F.struct(
        *[v.alias(k) for k, v in rules.items()],
        overall.alias("pass"),
    )


def gopher_filter(
    docs, text_col: str = "text", overrides: dict | None = None
):
    """The gate form: keep documents passing ALL Gopher rules (with
    optional threshold ``overrides``). Returns the input columns
    unchanged; NULL text fails the word-count rule and drops —
    explicit, never a NULL-comparison vanish. Pure per-row codegen'd
    expressions: no shuffle, no UDF, scale-free."""
    return docs.filter(
        gopher_quality_flags(F.col(text_col), overrides)["pass"]
    )


#: Named token counters for budget metering. ``whitespace`` is the
#: package-wide default (len(s.split()) parity everywhere);
#: ``bpe_ish`` approximates sub-word tokenizers (word pieces, numbers
#: and punctuation counted separately) for sizing shards in units
#: closer to what a trainer's tokenizer will produce.
def _thai_word_count(col: Column) -> Column:
    # lazy import: thai.py imports nothing from here, but keep the
    # module graph acyclic-by-construction
    from .thai import thai_word_count

    return thai_word_count(col)


TOKEN_COUNTERS = {
    "whitespace": token_count,
    "bpe_ish": bpe_ish_token_count,
    # dictionary maximal-matching words (functions/thai.py) — the
    # counter Thai corpora must route min-word gates through
    # (whitespace counting reads a Thai paragraph as ~1 word)
    "thai": _thai_word_count,
}


def resolve_token_counter(name: str):
    """THE one lookup of a named token counter (both exporters and the
    CLI call it): unknown names refuse with the valid list.

    ``vocab:<path>`` resolves to exact byte-level BPE counting under
    the GPT-2-style merges file at ``<path>`` (functions/bpe.py) — the
    TRUE-tokenizer budget metering the proxy counters approximate. The
    file is loaded (and so validated) here, driver-side, so a missing
    or malformed merges file refuses at plan time."""
    if name.startswith("vocab:"):
        from .bpe import bpe_token_count

        path = name[len("vocab:"):]
        if not path:
            raise ValueError("vocab: token counter needs a merges path")
        return bpe_token_count(path)
    try:
        return TOKEN_COUNTERS[name]
    except KeyError:
        raise ValueError(
            f"unknown token counter {name!r} "
            f"(valid: {sorted(TOKEN_COUNTERS)} or 'vocab:<merges path>')"
        ) from None
