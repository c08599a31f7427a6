"""[EXT] Curated corpus → trainer-ready sharded JSONL, end to end.

The last mile of the training-data story: everything after curation is
deterministic layout, and each stage is one of this engine's own
verified operators —

    documents
      → curation funnel              (plans/curation.py: lang/quality
                                      gates, exact + near dedup)
      → corpus mixing                (operators/mixing.py: per-source
                                      token proportions, never upsample)
      ┌ export tail, shared with the incremental exporter (export_rows):
      │ → content-hash split         (functions/splits.py: leakage-safe
      │                               train/val/test, rerun-stable)
      │ → PII redaction              (functions/pii.py, optional)
      │ → sliding-window chunking    (operators/chunking.py, optional:
      │                               over-context docs → overlapping
      │                               windows, split-safe by ordering)
      └ → sequence packing           (operators/packing.py, optional,
                                      per split)
      → token-budget shard packing   (operators/sharding.py: two-level
                                      prefix sum, every split in ONE
                                      grouped pass)
      → gzip JSONL shards            (sources/sinks.py jsonl_sink, one
                                      write partitioned by split, shard)

Layout: ``out/split=<label>/shard=<n>/part-*.json.gz`` — exactly the
directory shape training loaders glob. Shard ids restart per split (a
trainer never mixes splits in one stream). The export OWNS
``out_path``: it is overwritten as a whole, with one ``_SUCCESS`` at
its root, and a split that receives no rows gets no ``split=<label>``
directory (its count is 0).

Determinism end to end: every stage keys its decisions on content
(fingerprints, salted content hashes, the order column), so the same
corpus produces byte-stable membership on any cluster, partitioning,
or rerun — the property that makes a 100 TB export auditable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import release_these, tracked_persist
from ..functions.pii import redact_pii
from ..functions.splits import content_split, split_labels
from ..functions.text_analysis import (
    doc_fingerprint,
    resolve_token_counter,
    token_count,
)
from ..operators.chunking import apply_chunk_stage
from ..operators.mixing import mix_corpora
from ..operators.packing import apply_pack_stage
from ..operators.sharding import pack_shards, shuffle_order_key
from ..sources.sinks import jsonl_sink
from .curation import curate_documents


def export_training_set(
    docs: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mix_weights: dict[str, float] | None = None,
    mix_temperature: float | None = None,
    source_col: str = "source",
    split_fractions: dict[str, float] | None = None,
    shard_token_budget: int = 1_000_000,
    redact: bool = True,
    curate_kwargs: dict | None = None,
    chunk_opts: dict | None = None,
    pack_opts: dict | None = None,
    shuffle_salt: str | None = None,
    token_counter: str = "whitespace",
) -> dict[str, int]:
    """Run the full export; returns {split label: exported row count}
    (documents — CHUNKS when ``chunk_opts`` is set, where one document
    fans out to several rows — packed SEQUENCES when ``pack_opts`` is
    set, where several rows collapse to one).

    ``mix_weights=None`` skips mixing (single-source corpora);
    ``mix_temperature`` is the weightless alternative (mutually
    exclusive): flatten the CURATED per-source proportions with
    ``total**alpha`` normalization (``operators.mixing
    .temperature_mix`` — mT5-style low-resource up-weighting, one
    totals scan). ``redact=False`` keeps original text. The curation funnel's knobs
    pass through ``curate_kwargs``. ``chunk_opts`` (kwargs for
    ``operators.chunking.chunk_documents``, e.g. ``{"window": 512,
    "stride": 384}``) splits over-context documents into overlapping
    token windows AFTER split assignment and redaction — every chunk
    inherits its document's split (chunking cannot leak content
    across splits) and chunks carry redacted text; ids become
    ``<doc id>#<zero-padded chunk idx>`` so shard packing keeps a
    deterministic per-document order, and ``n_tokens`` is recomputed
    per chunk. ``pack_opts`` (kwargs for ``operators.packing
    .pack_sequences`` plus an optional ``separator``, e.g.
    ``{"context": 2048}``) additionally packs the (chunked) rows into
    context-length training sequences — best-fit-decreasing per
    content-hash group — and collapses each sequence to ONE exported
    row (joined text, summed ``n_tokens``, member ids under
    ``doc_ids``); packing runs PER SPLIT, after the split filter, so a
    sequence never mixes splits.

    ``shuffle_salt`` (string) replaces the id-ordered shard layout
    with a DETERMINISTIC shuffle: the packing order key becomes
    ``sha256(salt || id)``, so shard contents and within-shard order
    are pseudo-random with respect to source/document order (trainers
    reading shards sequentially see an i.i.d.-ish stream without a
    shuffle buffer the size of the corpus) yet bit-stable for a given
    salt — rerun-identical, and a different salt is a fresh
    permutation. No extra pass: the key feeds the same range sort
    shard packing already does.

    ``token_counter`` names the counter that METERS the export —
    shard budgets, packed-sequence contexts, the exported ``n_tokens``
    column: ``"whitespace"`` (default), ``"bpe_ish"`` (sub-word-ish
    proxy: word pieces/numbers/punctuation counted separately — shard
    sizes land closer to a real tokenizer's, but still ±15-30% off on
    code/CJK), or ``"vocab:<merges path>"`` (EXACT byte-level BPE
    under a GPT-2-style merges file, functions/bpe.py — use this when
    the context budget must hold in the trainer's true token units;
    proxies can over-pack). The curation
    gates and chunk WINDOW boundaries stay whitespace-defined either
    way (they are corpus semantics, not budget units); under
    ``bpe_ish``, chunk text is recounted after chunking, and a
    ``pack_opts`` context is in bpe-ish units — size it accordingly
    (a whitespace window of W words can exceed W bpe-ish tokens, and
    the packing kernel refuses over-context rows loudly).

    After :func:`export_rows`, ONE grouped ``pack_shards`` pass gives
    every split its own shard stream (each split gets exactly the
    shards it would get packed alone), ONE write lays out every split
    under ``out_path`` (overwritten as a whole — see the module
    docstring), and ONE aggregate counts the rows per split. A bad
    split spec or token counter refuses before the funnel runs.
    Consumes its own intermediate persists (the funnel's) via the
    standard pool discipline — callers still call
    ``caching.release_caches()`` after, like any consuming action in
    this package.
    """
    if mix_weights and mix_temperature is not None:
        raise ValueError(
            "mix_weights and mix_temperature are mutually exclusive — "
            "explicit proportions or temperature-flattened ones, not both"
        )
    if mix_temperature is not None and mix_temperature < 0:
        # refuse before the funnel runs, not after hours of curation
        raise ValueError(f"mix_temperature must be >= 0, got {mix_temperature}")
    labels = split_labels(split_fractions)
    counter = resolve_token_counter(token_counter)
    mixing = bool(mix_weights) or mix_temperature is not None
    curated = curate_documents(
        docs,
        id_col=id_col,
        text_col=text_col,
        carry_cols=(source_col,) if mixing else (),
        **(curate_kwargs or {}),
    )
    # the fingerprint feeds BOTH the mix selection and the split
    # assignment — compute it once per row and let every consumer read
    # the column (one full-text hash pass instead of two)
    curated = curated.withColumn("_fp", doc_fingerprint(F.col(text_col)))
    curated_cache = None
    if mixing:
        # mixing AFTER curation: the proportions are over the mass that
        # actually survives dedup/gating, which is what the trainer sees.
        # Persist FIRST: mix_rates collects per-source totals eagerly,
        # and without the cache that probe would execute the whole
        # funnel once for the totals and again for the packing pass
        # (round-5 review).
        curated_cache = tracked_persist(curated)
        if mix_weights:
            curated = mix_corpora(
                curated_cache, mix_weights, source_col=source_col,
                text_col=text_col, fingerprint_col="_fp",
            ).drop(source_col)
        else:
            from ..operators.mixing import temperature_mix

            curated = temperature_mix(
                curated_cache, mix_temperature, source_col=source_col,
                text_col=text_col, fingerprint_col="_fp",
            ).drop(source_col)
    rows, order_col = export_rows(
        curated, id_col, text_col, split_fractions, counter,
        fingerprint_col="_fp", redact=redact, chunk_opts=chunk_opts,
        pack_opts=pack_opts, shuffle_salt=shuffle_salt,
    )
    # one aggregate counts every label and materializes the persisted
    # rows, which subsume the curated cache — drop it before the shard
    # pass so the corpus is not held twice through it (round-5 review)
    got = dict(rows.groupBy("split").count().collect())
    if curated_cache is not None:
        release_these([curated_cache])
    packed = pack_shards(
        rows, budget=shard_token_budget, order_col=order_col, group_col="split"
    )
    if order_col != id_col:
        packed = packed.drop(order_col)  # bookkeeping only
    jsonl_sink(packed, out_path, partition_by=("split", "shard"))
    return {label: got.get(label, 0) for label in labels}


def export_rows(
    curated: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float] | None,
    counter,
    fingerprint_col: str | None = None,
    redact: bool = True,
    chunk_opts: dict | None = None,
    pack_opts: dict | None = None,
    shuffle_salt: str | None = None,
    id_prefix: str = "",
) -> tuple[DataFrame, str]:
    """THE export tail both exporters call: curated survivors → rows
    with a ``split`` label and ``n_tokens`` (metered by ``counter``, a
    resolved ``resolve_token_counter``), redacted, chunked and
    sequence-packed as asked. Returns ``(rows, order_col)``, the
    packing key: ``id_col``, or the ``_shuffle_key`` column added for
    ``shuffle_salt``.

    ``fingerprint_col`` names a precomputed ``doc_fingerprint`` column
    (consumed); ``None`` hashes ``text_col``. Chunks follow split
    assignment and redaction, so they inherit their document's split.
    ``pack_opts`` runs ``apply_pack_stage`` once PER SPLIT (a sequence
    must never mix splits, and the stage sizes its groups from each
    split's own row count); ``id_prefix`` prefixes the sequence ids.
    Pins one tracked persist, two with ``pack_opts``; the caller
    releases them."""
    fp = F.col(fingerprint_col) if fingerprint_col else doc_fingerprint(F.col(text_col))
    rows = curated.withColumn("split", content_split(fp, fractions))
    if fingerprint_col:
        rows = rows.drop(fingerprint_col)
    rows = rows.withColumn("n_tokens", counter(F.col(text_col)).cast("long"))
    if redact:
        rows = rows.withColumn(text_col, redact_pii(F.col(text_col)))
    if chunk_opts:
        rows = apply_chunk_stage(
            rows, id_col, text_col, chunk_opts,
            # whitespace chunk counts are free (identity); any other
            # counter re-measures the chunk text
            recount=None if counter is token_count else counter,
        )
    rows = tracked_persist(rows)
    if pack_opts:
        sequences = [
            apply_pack_stage(
                rows.filter(F.col("split") == label).drop("split"),
                id_col, text_col, pack_opts, id_prefix=id_prefix,
            ).withColumn("split", F.lit(label))
            for label in split_labels(fractions)
        ]
        rows = tracked_persist(reduce(DataFrame.unionByName, sequences))
    order_col = id_col
    if shuffle_salt is not None:
        # deterministic shuffle: pack in THE shared key's order
        order_col = "_shuffle_key"
        rows = rows.withColumn(order_col, shuffle_order_key(id_col, shuffle_salt))
    return rows, order_col
