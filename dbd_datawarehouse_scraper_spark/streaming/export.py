"""[EXT] Incremental training-set export: the last-mile plan
(plans/training_export.py) under ``foreachBatch``.

Documents arrive in epochs; each epoch must be gated, deduplicated
against EVERYTHING already exported (the signature store), split
leakage-safely, redacted, and packed into token-budget shards whose ids
continue across epochs per split — so the trainer can start consuming
shards while ingestion is still running. Composition per epoch:

    batch
      → domain blocklist                  (optional; stateless anti join
                                           — domains.py)
      → benchmark contamination screen    (optional; persisted benchmark
                                           shingle index, flag or
                                           quarantine — contamination.py)
      → lang/quality/min-token gates      (stateless column filters)
      → near_dedup_epoch                  (within-batch + against the
                                           signature store; survivors
                                           land in <state>/curated/epoch=N)
      → export_rows                       (THE batch exporter's tail:
                                           split, token meter, PII
                                           redact, chunk, per-split
                                           sequence pack, order key)
      → pack_epoch, all splits in one     (one grouped pack_shards pass;
        grouped pass                       per-split cursor under
                                           <state>/pack/split=<label>;
                                           shards continue across epochs)
      → gzip JSONL                        (out/split=<label>/epoch=N/
                                           shard=<n>/)

Replay safety is inherited, not re-invented: every sub-step is
idempotent under foreachBatch's at-least-once replay — the dedup store
reads history strictly below the replaying epoch, the per-split pack
cursors are epoch-keyed, and every write is an epoch-suffixed
overwrite. The intermediate curated parquet under the state dir is the
hand-off between dedup and packing: durable, so a crash between the
two stages replays cleanly from the batch without cache coupling.

What the incremental form deliberately does NOT do: corpus mixing,
quality-QUANTILE sampling, and per-domain CAPS. All are GLOBAL
properties (per-source totals; the corpus-wide score distribution;
per-domain document/token totals) — epoch-local approximations would
drift with arrival order, silently changing which documents a rate
keeps as the stream progresses. Mix, quantile-sample, and cap at rest
(operators/mixing.py, operators/sampling.py, operators/domains.py
``per_domain_cap``) over the exported set, or replace the quantile
buckets with FIXED score thresholds upstream if incremental gating is
required (fixed thresholds are arrival-order-invariant; the
``min_quality`` gate here is exactly that). The domain BLOCKLIST, by
contrast, is a stateless per-row predicate and is supported
(``domain_opts``).

Output layout differs from the batch exporter by one level —
``split=<label>/epoch=<N>/shard=<n>/`` — because each epoch's packing
is an independent idempotent overwrite; shard ids still increase
globally per split (the cursor), so a trainer globs
``split=train/*/shard=*`` and sees one monotone shard sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.splits import split_labels
from ..functions.text_analysis import quality_score, token_count
from ..plans.training_export import export_rows
from ._store import run_epochs
from .near_dedup import near_dedup_epoch
from .sharding import pack_epoch


def stream_export_training_set(
    stream_docs: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_langs: tuple[str, ...] = ("en", "de", "fr"),
    min_quality: float = 0.3,
    min_tokens: int = 5,
    word_counter: str = "whitespace",
    near_dup_threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    split_fractions: dict[str, float] | None = None,
    shard_token_budget: int = 1_000_000,
    redact: bool = True,
    available_now: bool = True,
    segment_dedup_opts: dict | None = None,
    substring_dedup_opts: dict | None = None,
    contamination_opts: dict | None = None,
    domain_opts: dict | None = None,
    html_opts: dict | None = None,
    chunk_opts: dict | None = None,
    pack_opts: dict | None = None,
    lm_opts: dict | None = None,
    gopher_opts: dict | None = None,
    dsir_opts: dict | None = None,
    classifier_opts: dict | None = None,
    c4_opts: dict | None = None,
    shuffle_salt: str | None = None,
    token_counter: str = "whitespace",
    lang_id_impl: str = "fast",
) -> StreamingQuery:
    """Start the incremental exporter. Returns the StreamingQuery.

    State layout under ``state_path``: ``store/`` (the MinHash
    signature store), ``curated/epoch=N`` (per-epoch survivors — the
    dedup→pack hand-off), ``pack/split=<label>/`` (per-split shard
    cursors), with ``segment_dedup_opts`` also ``segstore/`` (the
    segment-frequency store) + ``segmented/epoch=N`` (the cleanup→gate
    hand-off), and with ``contamination_opts`` also ``benchstore/``
    (the persisted benchmark shingle index). All replay-idempotent;
    see the module docstring.

    ``substring_dedup_opts`` (round 8; e.g. ``{"min_len": 50,
    "min_docs": 2}``) runs the incremental exact-substring stage
    (streaming/substrings.py — window-hash statistics store under
    ``substore/``, struck epochs under ``substruck/``) right after the
    segment stage, mirroring the batch funnel's stage order.
    ``segment_dedup_opts`` (e.g. ``{"mode": "chunk", "k": 8,
    "min_docs": 2}``) runs incremental passage/boilerplate removal
    (streaming/segments.py) BEFORE the gates — same stage order as the
    batch funnel, and for the same reason: boilerplate inflates
    quality scores and shrinks near-dup distances.

    ``contamination_opts`` screens every epoch against a static
    evaluation benchmark (streaming/contamination.py) before the
    gates. Keys: ``benchmark`` (DataFrame, required),
    ``bench_id_col`` / ``bench_text_col`` (defaults ``bench_id`` /
    ``text``), ``k`` (default 3), ``threshold`` (default 0.5),
    ``containment_threshold`` (default None), ``action`` —
    ``"quarantine"`` (default: flagged documents are REMOVED from the
    export) or ``"flag"`` (kept, recorded only). Either way the
    flagged (doc, bench item, jaccard, containment) pairs land in
    ``out_path/contamination/epoch=N`` (epoch-suffixed overwrite =
    replay-idempotent), scored identically to the batch screen. The
    benchmark index is built once under ``state_path/benchstore``; a
    changed benchmark or shingle width raises loudly.

    ``domain_opts`` applies the domain BLOCKLIST per epoch — a
    stateless per-row predicate, trivially replay-idempotent. Keys:
    ``blocklist`` (list of domains or one-column DataFrame, required),
    ``domain_col`` (default ``domain``) or ``url_col`` (derive the
    domain via ``extract_domain``), ``registrable`` (default True:
    match on the registrable domain (eTLD+1) so subdomains can't
    evade the list; False = raw hosts). Per-domain caps (``max_docs`` /
    ``max_tokens``) are REFUSED here: they are global properties —
    cap at rest with ``per_domain_cap`` over the exported set (see the
    module docstring).

    ``html_opts`` runs the HTML-to-text cleanup per epoch — stateless
    per-row, trivially replay-idempotent — via the SAME
    ``apply_html_stage`` the batch funnel uses (functions/html.py:
    ``min_visible_ratio`` gate on raw markup, then ``strip`` or
    ``extract_main`` main-content extraction), in the same stage
    order: after the domain gate, before segment dedup, so shingles
    and quality scores downstream see prose.

    ``chunk_opts`` (``operators.chunking.chunk_documents`` kwargs)
    splits over-context survivors into overlapping token windows via
    the SAME ``apply_chunk_stage`` the batch plan uses, in the same
    order (after split assignment and redaction — chunks inherit the
    document's split, so chunking cannot leak across splits) —
    stateless per-row, replay-idempotent; ids become
    ``<doc>#<chunk>``.

    ``pack_opts`` (``operators.packing.pack_sequences`` kwargs plus an
    optional ``separator``) packs each epoch's rows into
    context-length training sequences via the SAME ``apply_pack_stage``
    the batch plan uses, per split (a sequence never mixes splits).
    Packing is NOT stateless per-row, but it IS a pure function of the
    epoch's row set (content-hash groups, total-ordered best-fit) — a
    replayed epoch repacks identically, so idempotence holds. Epoch-
    local packing costs at most one under-filled tail sequence per
    (group, split, epoch) vs packing at rest; sequence ids are
    prefixed ``<epoch>#`` so they stay unique across the shard
    stream.

    ``lm_opts`` adds the CCNet-style reference-LM fluency gate
    (functions/lm.py) alongside the lang/quality gates — stateless
    per row given the model, trivially replay-idempotent. Keys:
    ``max_perplexity`` (required) and exactly one of ``model_path``
    (a ``save_lm`` directory — loaded ONCE at start; the score joins
    read the persisted tables) or ``model`` (an in-memory fit). The
    model is static state, like the benchmark index: refit-and-restart
    to change it (a model that drifted mid-stream would silently
    change which documents pass as epochs progress).

    ``gopher_opts`` adds the Gopher rule set alongside the gates —
    pure per-row expressions, trivially replay-idempotent; pass ``{}``
    for the published thresholds or override GOPHER_DEFAULTS keys
    (validated at start, like lm_opts).

    ``dsir_opts`` adds the DSIR target-similarity gate
    (operators/dsir.py) alongside the gates: ``min_avg_log_weight``
    (required) plus exactly one of ``model_path`` (a ``save_dsir``
    directory, loaded ONCE at start) or ``model``. Static state like
    the LM and the benchmark index — refit-and-restart to change.

    ``classifier_opts`` adds the learned quality gate
    (operators/classifier.py — logistic regression over hashed n-gram
    buckets) alongside the gates: ``min_prob`` (required, in [0, 1])
    plus exactly one of ``model_path`` (a ``save_classifier``
    directory, loaded ONCE at start) or ``model``. Static state like
    the DSIR model — refit-and-restart to change.

    ``c4_opts`` runs the C4 line/page cleaning per epoch via the SAME
    ``c4_clean`` the batch funnel uses, in the same stage order (after
    the HTML stage, before segment dedup) — stateless per-row,
    trivially replay-idempotent.

    ``shuffle_salt`` packs each epoch's shards in deterministic
    ``sha256(salt || id)`` order instead of id order (the batch
    exporter's knob): within-epoch shard contents are pseudo-random
    w.r.t. arrival/document order yet replay-identical. The shuffle
    is epoch-LOCAL — a trainer wanting cross-epoch mixing shuffles
    its shard list; the stream cannot reorder rows it has already
    committed.

    ``token_counter`` (``"whitespace"`` default, ``"bpe_ish"``, or
    ``"vocab:<merges path>"`` for exact byte-level BPE) names
    the counter metering shard budgets / pack contexts / the exported
    ``n_tokens`` — same semantics and caveats as the batch exporter;
    gates and chunk windows stay whitespace-defined. Validated (and a
    DIFFERENT counter than the one a resumed stream's shards were
    budgeted with is the operator's responsibility — the counter is
    not recorded in the pack cursor, so keep it constant per export
    like the salt)."""
    spark = stream_docs.sparkSession
    labels = split_labels(split_fractions)  # refuse at start
    dom = None
    if domain_opts is not None:
        dom = {"domain_col": "domain", **domain_opts}
        if "max_docs" in dom or "max_tokens" in dom:
            raise ValueError(
                "per-domain caps are global properties and would drift "
                "with arrival order inside a stream — cap at rest with "
                "operators.domains.per_domain_cap over the exported set "
                "(only 'blocklist' is supported incrementally)."
            )
        if "blocklist" not in dom:
            raise ValueError("domain_opts requires a 'blocklist'")
        if not isinstance(dom["blocklist"], DataFrame):
            dom["blocklist"] = spark.createDataFrame(
                [(d,) for d in dom["blocklist"]], f"{dom['domain_col']} string"
            )
    contam = None
    if contamination_opts is not None:
        from .contamination import ensure_benchmark_index

        contam = {
            "bench_id_col": "bench_id",
            "bench_text_col": "text",
            "k": 3,
            "threshold": 0.5,
            "containment_threshold": None,
            "action": "quarantine",
            **contamination_opts,
        }
        if "benchmark" not in contam:
            raise ValueError("contamination_opts requires a 'benchmark' DataFrame")
        if contam["action"] not in ("quarantine", "flag"):
            raise ValueError(
                f"contamination action must be 'quarantine' or 'flag', "
                f"got {contam['action']!r}"
            )
        ensure_benchmark_index(
            spark,
            contam["benchmark"],
            f"{state_path}/benchstore",
            bench_id_col=contam["bench_id_col"],
            bench_text_col=contam["bench_text_col"],
            k=contam["k"],
        )
    lm = None
    if lm_opts is not None:
        # THE shared resolver (same refusals as the batch funnel);
        # resolved ONCE — static state for the whole stream, like the
        # benchmark index (see docstring)
        from ..functions.lm import resolve_lm_opts

        lm = resolve_lm_opts(spark, lm_opts)
    dsir = None
    if dsir_opts is not None:
        from ..operators.dsir import resolve_dsir_opts

        dsir = resolve_dsir_opts(spark, dsir_opts)
    clf = None
    if classifier_opts is not None:
        from ..operators.classifier import resolve_classifier_opts

        clf = resolve_classifier_opts(spark, classifier_opts)
    if gopher_opts is not None:
        # the ONE validation (unknown keys, non-numeric values) — at
        # start, not on the first epoch
        from ..functions.text_analysis import validate_gopher_overrides

        validate_gopher_overrides(gopher_opts)
    if c4_opts is not None:
        # same contract: refuse bad C4 options before the stream starts
        from ..functions.c4 import validate_c4_opts

        validate_c4_opts(c4_opts)
    from ..functions.langid import resolve_lang_id

    # refuse at start; the batch funnel's knob — keep_langs beyond
    # {en, es, de, fr, zh} needs 'trigram' (the fast heuristic scores
    # Thai etc. 'und')
    _lang_id = resolve_lang_id(lang_id_impl)
    from ..functions.text_analysis import resolve_token_counter

    # the batch funnel's word_counter knob, same refuse-at-start
    # contract — Thai corpora pair word_counter='thai' with trigram
    _word_count = resolve_token_counter(word_counter)
    if substring_dedup_opts is not None:
        # same contract: refuse bad substring params before the stream
        # starts (a bad min_docs inside foreachBatch would otherwise
        # surface as an async StreamingQueryException on epoch 1)
        from ..operators.substrings import validate_substring_params

        validate_substring_params(
            substring_dedup_opts.get("min_len", 50),
            substring_dedup_opts.get("min_docs", 2),
        )
    _counter = resolve_token_counter(token_counter)  # refuse at start

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # the curated hand-off dirs are single-epoch intermediates: only
        # the CURRENT epoch can replay and re-read its own dir, so every
        # committed one below it is dead weight — prune, don't fold
        from ..fsutil import fs_delete, fs_epoch_ids

        for base in (
            f"{state_path}/curated",
            f"{state_path}/segmented",
            f"{state_path}/substruck",
        ):
            for e in fs_epoch_ids(spark, base):
                if e < epoch_id:
                    fs_delete(spark, f"{base}/epoch={e}")

        source = batch_df
        if dom is not None:
            from ..operators.domains import domain_blocklist_filter, extract_domain

            if "url_col" in dom:
                source = source.withColumn(
                    dom["domain_col"], extract_domain(F.col(dom["url_col"]))
                )
            source = domain_blocklist_filter(
                source,
                dom["blocklist"],
                domain_col=dom["domain_col"],
                block_col=dom["domain_col"],
                registrable=dom.get("registrable", True),
            )
            if "url_col" in dom:
                source = source.drop(dom["domain_col"])
        if html_opts is not None:
            from ..functions.html import apply_html_stage

            # same stage, same order as the batch funnel (after the
            # domain gate, before segment dedup); stateless per-row
            source = apply_html_stage(source, text_col, html_opts)
        if c4_opts is not None:
            # the SAME stage (and stage order) as the batch funnel
            from ..functions.c4 import c4_clean

            source = c4_clean(source, text_col=text_col, **c4_opts)
        if segment_dedup_opts is not None:
            from .segments import segment_dedup_epoch

            # feed the GATED source, not the raw batch: feeding
            # batch_df here would both re-admit blocked-domain rows
            # (the segmented output REPLACES source below, silently
            # discarding the blocklist) and pollute the segment store
            # with their segment frequencies (round-7 review)
            had_rows = segment_dedup_epoch(
                spark,
                source,
                epoch_id,
                out_path=f"{state_path}/segmented",
                store_path=f"{state_path}/segstore",
                id_col=id_col,
                text_col=text_col,
                **segment_dedup_opts,
            )
            if not had_rows:
                return
            source = spark.read.parquet(
                f"{state_path}/segmented/epoch={epoch_id}"
            ).drop("n_segs", "n_dropped")
        if substring_dedup_opts is not None:
            from .substrings import substring_dedup_epoch

            # after the fixed-grid segment stage, before contamination
            # and the gates — the batch funnel's stage order; feeds the
            # GATED source for the same blocklist/store-pollution
            # reasons as the segment stage above
            had_rows = substring_dedup_epoch(
                spark,
                source,
                epoch_id,
                out_path=f"{state_path}/substruck",
                store_path=f"{state_path}/substore",
                id_col=id_col,
                text_col=text_col,
                **substring_dedup_opts,
            )
            if not had_rows:
                return
            source = spark.read.parquet(
                f"{state_path}/substruck/epoch={epoch_id}"
            ).drop("n_tokens", "n_removed", "n_spans")

        if contam is not None:
            from .contamination import contamination_epoch

            flagged = contamination_epoch(
                spark,
                source.select(id_col, text_col),
                f"{state_path}/benchstore",
                id_col=id_col,
                text_col=text_col,
                k=contam["k"],
                threshold=contam["threshold"],
                containment_threshold=contam["containment_threshold"],
            )
            # epoch-suffixed overwrite: a replayed epoch rewrites its own
            # audit record, never duplicates it
            flagged.write.mode("overwrite").parquet(
                f"{out_path}/contamination/epoch={epoch_id}"
            )
            if contam["action"] == "quarantine":
                flagged_ids = spark.read.parquet(
                    f"{out_path}/contamination/epoch={epoch_id}"
                ).select(id_col).distinct()
                source = source.join(flagged_ids, id_col, "left_anti")

        if word_counter == "whitespace":
            # the codegen'd default — identical plan to every prior round
            gated = source.filter(
                _lang_id(F.col(text_col)).isin(list(keep_langs))
                & (quality_score(F.col(text_col)) >= min_quality)
                & (token_count(F.col(text_col)) >= min_tokens)
            )
        else:
            # UDF counters: bind ONCE behind a Generate barrier (the
            # batch funnel's pattern), then drop the scratch column so
            # downstream schema is unchanged
            wc_tmp = "_wc"
            while wc_tmp in source.columns:
                wc_tmp += "_"
            gated = (
                source.withColumn(
                    wc_tmp, F.explode_outer(F.array(_word_count(F.col(text_col))))
                )
                .filter(
                    _lang_id(F.col(text_col)).isin(list(keep_langs))
                    & (
                        quality_score(F.col(text_col), word_count=F.col(wc_tmp))
                        >= min_quality
                    )
                    & (F.col(wc_tmp) >= min_tokens)
                )
                .drop(wc_tmp)
            )
        if gopher_opts is not None:
            from ..functions.text_analysis import gopher_filter

            gated = gopher_filter(
                gated, text_col=text_col, overrides=gopher_opts
            )
        if lm is not None:
            # stateless per row given the static model — the same gate
            # the batch funnel applies (there: after exact dedup)
            from ..functions.lm import perplexity_filter

            gated = perplexity_filter(
                gated, lm["model"], lm["max_perplexity"],
                id_col=id_col, text_col=text_col,
            )
        if dsir is not None:
            from ..operators.dsir import dsir_filter

            gated = dsir_filter(
                gated, dsir["model"], dsir["min_avg_log_weight"],
                id_col=id_col, text_col=text_col,
            )
        if clf is not None:
            # stateless per row given the static model — the same
            # learned-quality gate the batch funnel applies
            from ..operators.classifier import classifier_filter

            gated = classifier_filter(
                gated, clf["model"], clf["min_prob"],
                id_col=id_col, text_col=text_col,
            )
        had_rows = near_dedup_epoch(
            spark,
            gated.select(id_col, text_col),
            epoch_id,
            out_path=f"{state_path}/curated",
            store_path=f"{state_path}/store",
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            threshold=near_dup_threshold,
        )
        if not had_rows:
            return
        survivors = spark.read.parquet(f"{state_path}/curated/epoch={epoch_id}")
        from ..caching import pool_mark, release_since

        mark = pool_mark()
        try:
            # THE batch plan's tail (split, meter, redact, chunk,
            # sequence-pack per split, order key); the epoch prefix
            # keeps sequence ids unique across epochs
            prepared, order_col = export_rows(
                survivors, id_col, text_col, split_fractions, _counter,
                redact=redact, chunk_opts=chunk_opts, pack_opts=pack_opts,
                shuffle_salt=shuffle_salt, id_prefix=f"{epoch_id}#",
            )
            # one grouped pass packs every split's shard stream
            pack_epoch(
                spark,
                prepared,
                epoch_id,
                out_path=out_path,
                state_path=f"{state_path}/pack",
                token_col="n_tokens",
                budget=shard_token_budget,
                order_col=order_col,
                drop_cols=(order_col,) if order_col != id_col else (),
                fmt="jsonl",
                # no folding on the JSONL output (pack_epoch folds
                # parquet only): epochs here are trainer-consumed
                # shards (read once, sequentially), not a history-probe
                # path. The signature store underneath still folds.
                fold_output_after=None,
                split_col="split",
                splits=labels,
            )
        finally:
            release_since(mark)

    return run_epochs(stream_docs, process, checkpoint, available_now)
