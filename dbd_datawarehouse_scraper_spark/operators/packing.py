"""[EXT] Best-fit sequence packing for training batches.

``pack_shards`` balances TOKEN MASS across output files;
``chunk_documents`` bounds every piece at the context length. The step
between them and the trainer is SEQUENCE PACKING (Krell et al. 2021,
"Efficient Sequence Packing without Cross-contamination"): concatenate
multiple short pieces into one context-length training sequence so the
step isn't mostly padding — at typical web-corpus length distributions
naive one-doc-per-sequence wastes 30-60% of compute, and packing
recovers nearly all of it.

Exact global bin packing is NP-hard and inherently sequential; the
scalable recipe is two-level, like every global computation in this
package:

1. bucket rows into deterministic content-hash groups
   (``pmod(xxhash64(id), n_groups)``), sized so a group's rows fit one
   task comfortably (``docs_per_group``, derived from ONE count);
2. run best-fit-decreasing inside each group via ``applyInPandas`` —
   sort by (tokens DESC, id ASC), place each row into the open
   sequence with the SMALLEST sufficient remaining capacity, open a
   new one when none fits. BFD is the classic 11/9·OPT+1 heuristic;
   within-group it is exact integer arithmetic, fully deterministic.

Determinism: group membership is a content hash of the id, the
within-group order is a total order (token count, then id), so the
packing is a pure function of (rows, context, docs_per_group) —
partition- and rerun-invariant, like every selection in this package.
The group fan-out costs one key shuffle; the count that sizes the
groups is a ~free aggregate over one long column.

The cross-group efficiency loss is bounded and tiny: each group packs
independently, so at most one under-filled tail sequence per group —
waste ≤ n_groups·context tokens beyond BFD's own bound, a vanishing
fraction at ``docs_per_group`` in the thousands. (Cross-contamination
in Krell et al.'s sense — attention leaking across packed pieces — is
the trainer's mask to solve; the packer's contract is the layout plus
an honest fill report, :func:`packing_stats`.)
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH_SPAN = 1 << 62  # pmod(xxhash64, 2^62): uniform, non-negative

#: Default group size: 8k rows sort+pack in well under a second in the
#: pandas kernel, and one group's rows (ids + token counts) are a few
#: hundred KB of task input.
_DOCS_PER_GROUP = 8192


def _bfd_local(tokens, context: int):
    """Best-fit-decreasing over ONE group: returns a list of (local
    sequence index, position within sequence, sequence total) aligned
    with the (tokens desc, id asc)-sorted order the caller provides.
    Pure Python over a few thousand rows — the remaining-capacity scan
    is the only O(n_bins) step and runs on a plain list."""
    remaining: list[int] = []  # capacity left per open sequence
    fill: list[int] = []  # token total per open sequence
    npos: list[int] = []  # next position per open sequence
    out = []
    for tok in tokens:
        best = -1
        best_rem = context + 1
        for j, rem in enumerate(remaining):
            if tok <= rem < best_rem:
                best, best_rem = j, rem
                if rem == tok:  # perfect fit — can't do better
                    break
        if best < 0:
            best = len(remaining)
            remaining.append(context)
            fill.append(0)
            npos.append(0)
        remaining[best] -= tok
        fill[best] += tok
        out.append((best, npos[best]))
        npos[best] += 1
    return [(seq, pos, fill[seq]) for seq, pos in out]


def _validated_bfd(pdf: pd.DataFrame, token_col: str, id_col: str, context: int):
    """Shared kernel core: validate token counts loudly, apply THE
    total order that defines the packing (tokens desc, id asc), run
    BFD. Returns (sorted pdf, [(seq idx, pos, seq fill), ...] aligned
    with it). Both kernels (per-row assignment and pack-and-collapse)
    call this, so their packings cannot drift."""
    toks = pdf[token_col]
    if toks.isna().any():
        bad = pdf.loc[toks.isna(), id_col].iloc[0]
        raise ValueError(
            f"pack_sequences: NULL {token_col} (e.g. id {bad!r}) — "
            f"recount tokens upstream; refusing to drop rows silently"
        )
    if (toks > context).any():
        bad = pdf.loc[toks > context, id_col].iloc[0]
        raise ValueError(
            f"pack_sequences: row {bad!r} has {token_col} > context "
            f"({int(toks.max())} > {context}) — chunk_documents first"
        )
    pdf = pdf.sort_values(
        [token_col, id_col], ascending=[False, True], kind="mergesort"
    ).reset_index(drop=True)
    placed = _bfd_local(pdf[token_col].astype("int64").tolist(), context)
    return pdf, placed


def _n_groups_for(df: DataFrame, docs_per_group: int, n_hint: int | None) -> int:
    """Group count sizing: from ``n_hint`` (>= 1) when the caller
    already knows the row count (export funnels counted survivors —
    don't pay a corpus scan again), else ONE narrow count (whose 0
    means genuinely empty input). A positive n_hint that misses the
    true count only changes group SIZES (still deterministic for a
    given hint) — the kernel bound is the reason to keep hints within
    ~2× of the truth."""
    if n_hint is not None:
        # >= 1, not >= 0: a hint of 0 would be conflated with "counted
        # zero rows" and silently empty the output (round-8 review) —
        # a slightly-wrong positive hint only changes group sizes, and
        # a genuinely empty input packs to empty through the kernel
        # path under any positive hint anyway
        if n_hint < 1:
            raise ValueError(f"n_hint must be >= 1, got {n_hint}")
        n = n_hint
    else:
        n = df.count()
    return 0 if n == 0 else max(1, math.ceil(n / docs_per_group))


def pack_sequences(
    df: DataFrame,
    context: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    docs_per_group: int = _DOCS_PER_GROUP,
    n_hint: int | None = None,
) -> DataFrame:
    """Assign every row to a packed training sequence of at most
    ``context`` tokens. Returns the input columns plus ``seq_id``
    (string, ``<group>#<local idx>`` — globally unique, stable),
    ``seq_pos`` (0-based position within the sequence, in packing
    order) and ``seq_tokens`` (the sequence's total fill — the same
    value on every member row, so downstream grouping is free).

    ``id_col`` must be unique and non-null (it keys group membership
    and the deterministic tiebreak). Rows with NULL or
    over-``context`` token counts raise loudly in the kernel instead
    of silently vanishing or silently overflowing — run
    :func:`..operators.chunking.chunk_documents` first; its window is
    the context bound.

    ``n_hint`` skips the group-sizing ``count()`` when the caller
    already knows the row count (see :func:`_n_groups_for`).

    NOTE for wide inputs: every input column rides through the group
    shuffle and the kernel. For the export path that would ship text
    TWICE (once here, once in the sequence collapse) —
    :func:`apply_pack_stage` therefore packs and collapses in ONE
    kernel instead of calling this; use this form when you need the
    per-row assignment itself.
    """
    if context < 1:
        raise ValueError(f"context must be >= 1, got {context}")
    if docs_per_group < 1:
        raise ValueError(f"docs_per_group must be >= 1, got {docs_per_group}")
    n_groups = _n_groups_for(df, docs_per_group, n_hint)
    if n_groups == 0:
        return (
            df.withColumn("seq_id", F.lit(None).cast("string"))
            .withColumn("seq_pos", F.lit(None).cast("int"))
            .withColumn("seq_tokens", F.lit(None).cast("long"))
        )
    grouped = df.withColumn(
        "_grp",
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(_HASH_SPAN))
        % F.lit(n_groups),
    )
    out_schema = (
        grouped.drop("_grp").schema.add("seq_id", "string")
        .add("seq_pos", "integer")
        .add("seq_tokens", "long")
    )
    data_cols = grouped.drop("_grp").columns

    def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["_grp"].iloc[0])
        pdf, placed = _validated_bfd(pdf, token_col, id_col, context)
        pdf["seq_id"] = [f"{grp}#{seq:09d}" for seq, _, _ in placed]
        pdf["seq_pos"] = pd.array([pos for _, pos, _ in placed], dtype="int32")
        pdf["seq_tokens"] = pd.array(
            [tot for _, _, tot in placed], dtype="int64"
        )
        return pdf[data_cols + ["seq_id", "seq_pos", "seq_tokens"]]

    return grouped.groupBy("_grp").applyInPandas(_pack_group, schema=out_schema)


def apply_pack_stage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pack_opts: dict,
    id_prefix: str = "",
) -> DataFrame:
    """The export-pipeline packing stage, called only from the export
    tail both exporters share (``plans.training_export.export_rows``)
    so their outputs cannot drift: run
    :func:`pack_sequences` over rows that already fit the context
    (``apply_chunk_stage`` upstream is the bound), then collapse each
    packed sequence to ONE output row — the JSONL row a trainer
    actually loads:

    - ``id_col`` = ``<id_prefix><seq_id>`` (the streaming exporter
      passes ``"<epoch>#"`` so ids stay globally unique across epochs;
      the shared export tail packs per split, and the batch exporter's
      seq ids only need to be unique within a split's shard stream);
    - ``text_col`` = the member texts joined by ``pack_opts
      ["separator"]`` (default ``"\\n\\n"``) in ``seq_pos`` order —
      the document boundary the trainer's attention mask keys on;
    - ``n_tokens`` = the sequence's content-token sum (separators are
      NOT counted — the shard token budget meters content), but the
      BFD capacity accounting DOES charge each joint a whitespace-
      delimited separator's token cost, so the joined row never
      retokenizes over ``context`` (see ``sep_cost`` below);
    - ``doc_ids`` = the member ids in ``seq_pos`` order (provenance —
      chunk ids are ``<doc>#<chunk>``, so lineage survives packing).

    Any other input column is dropped: a packed sequence spans
    documents, so per-document metadata has no single value to carry.
    The collapse is one ``collect_list`` of (pos, text, id) structs
    per sequence — bounded by ``context`` tokens by construction —
    sorted by the unique ``seq_pos``, so the row is deterministic.

    MUST run per split (the export tail does): sequence membership ignores
    any split column, so packing a mixed relation would concatenate
    train and val text into one training row — cross-split leakage.

    Shuffle shape (the reason this does NOT call
    :func:`pack_sequences` + a groupBy collapse): text moves exactly
    ONCE — into the content-hash groups — and the kernel emits the
    collapsed one-row-per-sequence output directly (sequences never
    span groups, so the collapse is group-local by construction). The
    two-step form shipped every text byte through a second
    ``seq_id``-keyed shuffle — pure overhead that doubled the stage's
    shuffle bytes at corpus scale (round-7 verdict). Packing decisions
    are :func:`_validated_bfd` in both forms, so the layouts are
    identical.

    ``pack_opts``: ``context`` (required), ``separator``,
    ``docs_per_group``, ``n_hint`` (skips the group-sizing count —
    pass it when the caller already counted the rows).
    """
    opts = dict(pack_opts)
    separator = opts.pop("separator", "\n\n")
    context = opts.pop("context")
    docs_per_group = opts.pop("docs_per_group", _DOCS_PER_GROUP)
    n_hint = opts.pop("n_hint", None)
    if opts:
        raise ValueError(
            f"unknown pack_opts keys: {sorted(opts)} (valid: context, "
            f"separator, docs_per_group, n_hint)"
        )
    if context < 1:
        raise ValueError(f"context must be >= 1, got {context}")
    if docs_per_group < 1:
        raise ValueError(f"docs_per_group must be >= 1, got {docs_per_group}")
    # a non-whitespace separator ADDS tokens on retokenization: joining
    # k members inserts k-1 separators, each worth `sep_cost`
    # whitespace tokens. Packing item size tok+sep_cost into capacity
    # context+sep_cost is exactly "content sum + (k-1)·sep_cost <=
    # context", so the JOINED row never retokenizes over the context.
    # A separator with no surrounding whitespace merges with the
    # members' edge tokens (count can even shrink) — cost 0 is the
    # conservative floor either way.
    sep_cost = max(0, len(f"x{separator}x".split()) - 2)
    if sep_cost and context <= sep_cost:
        raise ValueError(
            f"context ({context}) must exceed the separator's "
            f"token cost ({sep_cost})"
        )
    out_schema = (
        f"`{id_col}` string, `{text_col}` string, "
        f"n_tokens long, doc_ids array<string>"
    )
    slim = df.select(
        F.col(id_col), F.col(text_col), F.col("n_tokens").cast("long")
    )
    n_groups = _n_groups_for(slim, docs_per_group, n_hint)
    if n_groups == 0:
        return df.sparkSession.createDataFrame([], out_schema)
    grouped = slim.withColumn(
        "_grp",
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(_HASH_SPAN))
        % F.lit(n_groups),
    )
    tok = "__pack_tokens"
    capacity = context + sep_cost

    def _pack_collapse(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["_grp"].iloc[0])
        if pdf[text_col].isna().any():
            bad = pdf.loc[pdf[text_col].isna(), id_col].iloc[0]
            raise ValueError(
                f"apply_pack_stage: NULL {text_col} (e.g. id {bad!r}) — "
                f"a NULL text can carry a 0 token count (the vocab: "
                f"counter) and would corrupt the joined sequence; drop "
                f"or fill upstream"
            )
        pdf = pdf.assign(**{tok: pdf["n_tokens"] + sep_cost})
        pdf, placed = _validated_bfd(pdf, tok, id_col, capacity)
        texts: dict[int, list] = {}
        ids: dict[int, list] = {}
        toks: dict[int, int] = {}
        # placement order IS seq_pos order — append as placed
        for row_i, (seq, _pos, _fill) in enumerate(placed):
            texts.setdefault(seq, []).append(pdf[text_col].iloc[row_i])
            ids.setdefault(seq, []).append(str(pdf[id_col].iloc[row_i]))
            toks[seq] = toks.get(seq, 0) + int(pdf["n_tokens"].iloc[row_i])
        return pd.DataFrame(
            {
                id_col: [f"{id_prefix}{grp}#{s:09d}" for s in sorted(texts)],
                text_col: [separator.join(texts[s]) for s in sorted(texts)],
                "n_tokens": pd.array(
                    [toks[s] for s in sorted(texts)], dtype="int64"
                ),
                "doc_ids": [ids[s] for s in sorted(texts)],
            }
        )

    return grouped.groupBy("_grp").applyInPandas(_pack_collapse, schema=out_schema)


def packing_stats(packed: DataFrame, context: int) -> DataFrame:
    """The honesty report for a :func:`pack_sequences` output: ONE row
    of (n_rows, n_sequences, total_tokens, mean_fill_frac,
    waste_frac) where ``waste_frac = 1 - total_tokens /
    (n_sequences·context)`` — the padding share a trainer would pay.
    Two small aggregates (per-sequence, then global); integer inputs,
    so the fractions are deterministic. An EMPTY packing reports
    honest zero counts with NULL fractions (a mean fill over zero
    sequences is undefined, not 0% or 100%)."""
    if context < 1:
        raise ValueError(f"context must be >= 1, got {context}")
    per_seq = packed.groupBy("seq_id").agg(
        F.count("*").cast("long").alias("_n"),
        F.first("seq_tokens").alias("_fill"),
    )
    return per_seq.agg(
        F.coalesce(F.sum("_n"), F.lit(0).cast("long")).alias("n_rows"),
        F.count("*").cast("long").alias("n_sequences"),
        F.coalesce(F.sum("_fill"), F.lit(0).cast("long")).alias("total_tokens"),
        F.round(
            F.avg(F.col("_fill").cast("double") / F.lit(float(context))), 6
        ).alias("mean_fill_frac"),
        F.round(
            F.lit(1.0)
            - F.sum("_fill").cast("double")
            / (F.count("*") * F.lit(float(context))),
            6,
        ).alias("waste_frac"),
    )
