"""CLI front door: ``python -m dbd_datawarehouse_scraper_spark``.

Flag-for-flag mirror of the reference's argparse surface
(scraper_v2.py:1568-1613) over the engine's existing machinery:
config.py (layered config), sources/files.py (csv/txt/xlsx input),
plans/pipeline.py (the scrape DAG), sources/sinks.py (outputs, backup,
combine) and streaming/micro_batch.py (resume). The engine remains a
library — this module only parses flags, resolves config, and calls it.

Browser-only reference flags (--visible, --debug) only apply when
--fetcher selenium is used: --visible disables headless mode, --debug
saves per-profile screenshots to the system temp dir (the reference's
scraper_v2.py:1508-1510 behavior).
"""

from __future__ import annotations

import argparse
import os
import sys
from collections.abc import Sequence

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dbd_datawarehouse_scraper_spark",
        description="DBD datawarehouse scraper, PySpark engine",
    )
    # config (scraper_v2.py:1572-1576)
    p.add_argument("--config", type=str, default="config.yaml")
    p.add_argument("--generate-config", action="store_true",
                   help="Generate default config.yaml and exit")
    # input (1579-1589)
    p.add_argument("--input", "-i", type=str, default="companies.csv",
                   help="Input file (.csv, .xlsx, .xls, .txt)")
    p.add_argument("--column", "-c", type=str, default=None,
                   help="Company-name column (default: auto-detect)")
    p.add_argument("--reg-column", "-r", type=str, default=None,
                   help="Registration-number column (skips search when set)")
    p.add_argument("--sheet", "-s", type=str, default=None,
                   help="Excel sheet name (default: first sheet)")
    p.add_argument("--no-filter", action="store_true",
                   help="Include all companies, not just Thai (จำกัด/มหาชน)")
    # output (1592-1597)
    # default=None so "unset" is distinguishable from an explicit
    # '-o revenue_data.parquet' (the link-graph guard below must refuse
    # only the former); resolved to the scrape default after parsing
    p.add_argument("--output", "-o", type=str, default=None,
                   help="output path (default: revenue_data.parquet)")
    p.add_argument("--not-found-output", type=str, default="not_found.parquet")
    p.add_argument("--force", "-f", action="store_true",
                   help="Overwrite outputs without creating backups")
    # processing (1600-1613)
    p.add_argument("--test", type=int, help="Test with N companies")
    p.add_argument("--start", type=int, default=0,
                   help="Start from Nth company (0-indexed, name order). "
                        "Positions via a GLOBAL sort — fine for the "
                        "reference-parity small-input path; for large "
                        "inputs prefer --resume (a scalable anti-join "
                        "against what the outputs already hold)")
    p.add_argument("--resume", action="store_true",
                   help="Skip companies already present in the outputs")
    p.add_argument("--visible", action="store_true",
                   help="Show browser window (selenium fetcher only)")
    p.add_argument("--debug", action="store_true",
                   help="Save per-profile debug screenshots to the temp "
                        "dir (selenium fetcher only)")
    p.add_argument("--batch-size", type=int, default=20,
                   help="Target output files per write")
    p.add_argument("--combine-only", action="store_true",
                   help="Only combine existing batch files from --input")
    p.add_argument("--workers", type=int, default=1,
                   help="Fetch partitions (politeness parallelism)")
    p.add_argument("--max-retries", type=int, default=3)
    p.add_argument("--no-retry", action="store_true")
    p.add_argument("--max-search-pages", type=int, default=20)
    p.add_argument("--similarity-threshold", type=float, default=0.95)
    # engine-specific
    p.add_argument("--fetcher", choices=("fake", "http", "selenium"),
                   default="http",
                   help="Client: live HTTP, live selenium, or hermetic fake")
    p.add_argument("--master", type=str, default=None,
                   help="Spark master (default: local[$SPARK_GRAFT_CPUS])")
    # [EXT] training-data export mode (plans/training_export.py)
    p.add_argument("--export-training-set", action="store_true",
                   help="Run the training-set export over --input (a "
                        "documents parquet dir: doc_id, text, source) "
                        "into --output (split=<label>/shard=<n>/ gzip "
                        "JSONL), then exit")
    p.add_argument("--mix-weights", type=str, default=None,
                   help='JSON {"source": weight} corpus-mix proportions '
                        "(default: no mixing)")
    p.add_argument("--mix-temperature", type=float, default=None,
                   help="Weightless mixing: flatten the curated "
                        "per-source proportions with total**alpha "
                        "normalization (mT5-style; 1 = natural, 0 = "
                        "uniform); mutually exclusive with "
                        "--mix-weights")
    p.add_argument("--split-fractions", type=str, default=None,
                   help='JSON {"label": fraction} summing to 1; labels '
                        "match [A-Za-z0-9_-]+, fractions are >= 0 "
                        "(default: train .9 / val .05 / test .05)")
    p.add_argument("--shard-token-budget", type=int, default=1_000_000,
                   help="Tokens per output shard")
    p.add_argument("--no-redact", action="store_true",
                   help="Skip PII redaction of the exported text")
    p.add_argument("--segment-dedup-k", type=int, default=None,
                   help="Enable cross-document passage dedup before "
                        "curation scoring: chunk size in tokens "
                        "(default: off)")
    p.add_argument("--segment-min-docs", type=int, default=2,
                   help="Passage dedup: segments in >= this many "
                        "distinct docs are boilerplate")
    p.add_argument("--substring-dedup-minlen", type=int, default=None,
                   help="Enable variable-length exact-substring dedup "
                        "before curation scoring: minimum duplicated "
                        "span length in tokens (Lee et al. 2022 "
                        "semantics; catches spans that straddle the "
                        "fixed segment grid; default: off)")
    p.add_argument("--substring-min-docs", type=int, default=2,
                   help="Substring dedup: spans in >= this many "
                        "distinct docs are duplicates (first "
                        "occurrence survives)")
    p.add_argument("--chunk-window", type=int, default=None,
                   help="Split exported documents into overlapping "
                        "token windows of this size (default: off); "
                        "chunking runs after split assignment and "
                        "redaction, ids become <doc>#<chunk>")
    p.add_argument("--chunk-stride", type=int, default=None,
                   help="Stride between chunk windows (default: "
                        "3/4 of --chunk-window)")
    p.add_argument("--chunk-min-tokens", type=int, default=None,
                   help="Drop non-first tail chunks shorter than "
                        "this many tokens (default: min(32, window))")
    p.add_argument("--pack-context", type=int, default=None,
                   help="Pack exported rows into training sequences of "
                        "at most this many tokens (best-fit-decreasing, "
                        "per split; default: off). Rows must already "
                        "fit the context — use --chunk-window <= this")
    p.add_argument("--pack-separator", type=str, default=None,
                   help="Separator between packed member texts "
                        "(default: blank line); requires --pack-context")
    p.add_argument("--token-counter", type=str, default="whitespace",
                   help="Counter metering shard budgets / pack contexts "
                        "/ the exported n_tokens: whitespace (default), "
                        "bpe_ish (sub-word-ish proxy), thai "
                        "(dictionary maximal-matching words — Thai "
                        "writes without spaces), or "
                        "vocab:<merges path> (exact byte-level BPE "
                        "under a GPT-2-style merges file — TRUE "
                        "tokenizer tokens)")
    p.add_argument("--shuffle-salt", type=str, default=None,
                   help="Pack shards in deterministic sha256(salt||id) "
                        "order instead of id order — a reproducible "
                        "corpus shuffle (trainers reading shards "
                        "sequentially see source-decorrelated rows); "
                        "a different salt is a fresh permutation")
    p.add_argument("--quality-sample-rates", type=str, default=None,
                   help="CCNet-style per-quality-bucket keep rates in "
                        "basis points, low->high quality, e.g. "
                        "'1000,2500,5000,10000' (default: off)")
    p.add_argument("--block-domains", type=str, default=None,
                   help="Comma-separated domain blocklist applied to "
                        "--domain-col before curation (default: off)")
    p.add_argument("--domain-col", type=str, default="source",
                   help="Column holding the document's domain/source "
                        "for --block-domains / per-domain caps")
    p.add_argument("--max-docs-per-domain", type=int, default=None,
                   help="Cap each domain's documents before curation "
                        "(default: off)")
    p.add_argument("--raw-host-domains", action="store_true",
                   help="Key --block-domains / --max-docs-per-domain on "
                        "the raw host instead of the registrable domain "
                        "(eTLD+1); default: registrable, so subdomains "
                        "can't evade the gates")
    p.add_argument("--html-strip", action="store_true",
                   help="Strip HTML markup to visible text before "
                        "curation gates (default: off)")
    p.add_argument("--html-extract-main", action="store_true",
                   help="Extract the MAIN CONTENT by text-density block "
                        "scoring (nav/footer/sidebar chrome dropped) "
                        "instead of a plain strip (implies HTML cleanup)")
    p.add_argument("--html-min-visible-ratio", type=float, default=None,
                   help="Drop pages whose visible-text/raw-length ratio "
                        "is below this (chrome-density gate, scored on "
                        "raw markup; implies HTML cleanup)")
    p.add_argument("--decontaminate-against", type=str, default=None,
                   help="Parquet dir of a benchmark (bench_id, text): "
                        "quarantine overlapping documents before "
                        "dedup/export (default: off)")
    p.add_argument("--contamination-threshold", type=float, default=0.5,
                   help="k-gram Jaccard gate for --decontaminate-against")
    p.add_argument("--containment-threshold", type=float, default=None,
                   help="Benchmark-containment gate (|A∩B|/|B|) for "
                        "--decontaminate-against (default: Jaccard only)")
    p.add_argument("--stream-export", action="store_true",
                   help="Run the INCREMENTAL training-set export: watch "
                        "--input (a documents parquet dir) as a file "
                        "stream, process available files epoch by epoch "
                        "through gates -> dedup store -> split -> pack "
                        "into --output, then exit (availableNow "
                        "trigger); rerun to pick up new files — state "
                        "and checkpoint under --stream-state make it "
                        "resume/replay-safe")
    p.add_argument("--stream-link-graph", action="store_true",
                   help="Run the INCREMENTAL link-graph ingest: watch "
                        "--input (WAT metadata archives with "
                        "--input-format wat, or a parquet dir of "
                        "(url, links) pages) as a file stream, strike "
                        "each epoch's (src, dst) edges against the "
                        "store at --output, then exit (availableNow); "
                        "rerun to pick up new archives — the store "
                        "and checkpoint make it resume/replay-safe")
    p.add_argument("--link-by-url", action="store_true",
                   help="Key link-graph edges by full URL instead of "
                        "host (default: host — the Common Crawl "
                        "domain-rank granularity)")
    p.add_argument("--refresh-link-ranks", action="store_true",
                   help="After --stream-link-graph ingest (or alone, "
                        "as a maintenance mode): recompute PageRank "
                        "over the committed store at --output and "
                        "commit it under <store>/ranks")
    p.add_argument("--link-rank-iters", type=int, default=20,
                   help="PageRank iterations for --refresh-link-ranks")
    p.add_argument("--link-rank-seeds", type=str, default=None,
                   help="Parquet dir whose first column is trusted "
                        "node ids: --refresh-link-ranks runs the "
                        "personalized (TrustRank) walk — neighborhoods "
                        "unreachable from the seeds rank exactly 0")
    p.add_argument("--optimize-output", type=str, default=None,
                   help="Maintenance mode: compact (and optionally "
                        "Z-order) the given parquet directory in place, "
                        "then exit — run between export sessions to fix "
                        "accumulated small files")
    p.add_argument("--zorder-cols", type=str, default=None,
                   help="Comma-separated columns for --optimize-output "
                        "to Z-order on (default: compact only)")
    p.add_argument("--target-file-mb", type=int, default=512,
                   help="Target output file size for --optimize-output")
    p.add_argument("--stream-state", type=str, default=None,
                   help="State root for --stream-export (default: "
                        "<output>__state); holds the dedup store, pack "
                        "cursors, and the streaming checkpoint")
    p.add_argument("--fit-lm", action="store_true",
                   help="Maintenance mode: fit the bigram reference LM "
                        "on --input (a documents parquet dir, column "
                        "'text') and save it to --output as a save_lm "
                        "directory, then exit — feed the result to "
                        "--lm-model")
    p.add_argument("--lm-min-count", type=int, default=1,
                   help="Prune n-grams below this count from the "
                        "--fit-lm model tables (totals keep the full "
                        "corpus; pruned grams back off)")
    p.add_argument("--c4-clean", action="store_true",
                   help="Apply the C4 line/page cleaning rules before "
                        "curation scoring: keep terminal-punctuation "
                        "lines of >=3 words without 'javascript'; drop "
                        "pages under 5 remaining sentences or "
                        "containing 'lorem ipsum' / '{'. English-only "
                        "by design (the paper's rules): CJK pages are "
                        "stripped wholesale — split by language first")
    p.add_argument("--gopher", action="store_true",
                   help="Gate exported documents on the Gopher quality "
                        "rules (word count, mean word length, symbol/"
                        "bullet/ellipsis ratios, alphabetic-word and "
                        "stop-word checks) at the published thresholds")
    p.add_argument("--gate-report", type=str, default=None,
                   help="Maintenance mode: one-scan report over the "
                        "given documents parquet dir — how much each "
                        "stateless curation gate (lang/quality/tokens; "
                        "plus Gopher with --gopher, C4 with --c4-clean) "
                        "would drop, alone and combined, then exit")
    p.add_argument("--keep-langs", type=str, default=None,
                   help="Comma-separated language codes the curation "
                        "lang gate keeps (default: en,de,fr). Codes "
                        "outside the chosen --lang-id implementation's "
                        "range can never match — pair th etc. with "
                        "--lang-id trigram")
    p.add_argument("--min-quality", type=float, default=None,
                   help="Curation quality-score floor (default: 0.3)")
    p.add_argument("--min-doc-tokens", type=int, default=None,
                   help="Curation token-count floor (default: 5)")
    p.add_argument("--input-format", type=str, default="parquet",
                   choices=("parquet", "jsonl", "wet", "warc", "wat"),
                   help="How --export-training-set / --gate-report / "
                        "--stream-export read "
                        "their documents input: parquet (default), "
                        "jsonl (doc_id/text objects; corrupt lines "
                        "quarantined), wet (Common Crawl WET "
                        "archives — record ids become doc_id, the "
                        "target URI rides along as url, malformed "
                        "records dropped and counted on the job's own "
                        "scan), or warc (RAW captures: HTML response "
                        "bodies are HTTP-split and stripped to "
                        "visible text; non-HTML/malformed records "
                        "dropped with the same counted channel)")
    p.add_argument("--word-counter", type=str, default=None,
                   help="Counter behind the curation n_tokens column, "
                        "the --min-doc-tokens gate, and the quality "
                        "score's length term: whitespace (default), "
                        "bpe_ish, or thai (dictionary maximal matching "
                        "— Thai writes without spaces, so the default "
                        "counts a Thai paragraph as ~1 word and the "
                        "gates silently reject it; pair with "
                        "--lang-id trigram --keep-langs th)")
    p.add_argument("--lang-id", type=str, default="fast",
                   choices=("fast", "trigram"),
                   help="Language identifier for the curation funnel "
                        "and --gate-report: fast (default; 5-language "
                        "stopword heuristic — scores Thai and every "
                        "other unlisted language 'und') or trigram "
                        "(12-language byte-trigram profiles incl. th)")
    p.add_argument("--ivf-stats", type=str, default=None,
                   help="Maintenance mode: per-list health report for "
                        "the persisted IVF index at this path (vector "
                        "counts, mean center distance, rebuild advice), "
                        "then exit")
    p.add_argument("--profile", type=str, default=None,
                   help="Maintenance mode: one-pass ANALYZE-style "
                        "profile of the given parquet directory (per-"
                        "column nulls, approx distincts, min/max), "
                        "printed as a table, then exit")
    p.add_argument("--write-manifest", type=str, default=None,
                   help="Maintenance mode: audit the given training-set "
                        "export directory — per-shard row/token/char "
                        "totals + order-invariant content checksums "
                        "into <dir>/_manifest, print per-split totals, "
                        "then exit")
    p.add_argument("--verify-manifest", type=str, default=None,
                   help="Maintenance mode: recompute the manifest of "
                        "the given export directory and diff it against "
                        "<dir>/_manifest; non-zero exit on any drift")
    p.add_argument("--fit-dsir", action="store_true",
                   help="Maintenance mode: fit the DSIR importance "
                        "model with --dsir-target (a documents parquet "
                        "dir, column 'text') as the target and --input "
                        "as the raw corpus, save to --output, then "
                        "exit — feed the result to --dsir-model")
    p.add_argument("--dsir-target", type=str, default=None,
                   help="Target-corpus parquet dir for --fit-dsir")
    p.add_argument("--dsir-buckets", type=int, default=10_000,
                   help="Hashed n-gram buckets for --fit-dsir")
    p.add_argument("--dsir-model", type=str, default=None,
                   help="A --fit-dsir (save_dsir) model directory: gate "
                        "exported documents on DSIR target similarity "
                        "(requires --min-dsir-weight)")
    p.add_argument("--min-dsir-weight", type=float, default=None,
                   help="Keep only documents whose per-gram mean log "
                        "importance weight under --dsir-model is at "
                        "least this (0 = at least as target-like as "
                        "the raw corpus)")
    p.add_argument("--domain-quality-filter", type=str, default=None,
                   help="Maintenance mode: drop documents whose "
                        "registrable domain's MEAN quality falls below "
                        "--min-domain-quality in the given docs parquet "
                        "dir (columns text + --domain-col), write "
                        "survivors to --output, then exit — the at-rest "
                        "domain-level gate (content farms pass per-doc "
                        "gates page by page)")
    p.add_argument("--min-domain-quality", type=float, default=0.3,
                   help="Mean-quality floor for --domain-quality-filter")
    p.add_argument("--min-docs-per-domain", type=int, default=2,
                   help="Domains with fewer scoreable docs than this "
                        "are kept unjudged by --domain-quality-filter")
    p.add_argument("--image-dedup", type=str, default=None,
                   help="Maintenance mode: perceptual near-dedup of a "
                        "media parquet dir (columns media_id, payload) "
                        "— dHash + Hamming blocking + component "
                        "min-survivors — write the surviving rows to "
                        "--output, then exit")
    p.add_argument("--image-codec", type=str, default="auto",
                   choices=["auto", "png", "pil", "fake"],
                   help="Decode kernel for --image-dedup (auto = "
                        "Pillow when importable, else the stub)")
    p.add_argument("--image-max-hamming", type=int, default=3,
                   help="dHash Hamming radius for --image-dedup "
                        "duplicates (0 = exact perceptual hash only)")
    p.add_argument("--fit-vocab", action="store_true",
                   help="Maintenance mode: train a byte-level BPE merge "
                        "table on --input (a documents parquet dir, "
                        "column 'text'), write a GPT-2-style merges "
                        "file to --output, then exit — feed the result "
                        "to --token-counter vocab:<path>")
    p.add_argument("--vocab-merges", type=int, default=8000,
                   help="Number of BPE merges to learn for --fit-vocab")
    p.add_argument("--vocab-max-pieces", type=int, default=200_000,
                   help="Most-frequent-piece cap for the --fit-vocab "
                        "driver-side learner")
    p.add_argument("--fit-classifier", action="store_true",
                   help="Maintenance mode: fit the learned quality "
                        "classifier (logistic regression over hashed "
                        "n-gram buckets) with --classifier-pos (a "
                        "documents parquet dir, column 'text') as the "
                        "positive class and --input as the negative "
                        "(raw) class, save to --output, then exit — "
                        "feed the result to --classifier-model")
    p.add_argument("--classifier-pos", type=str, default=None,
                   help="Positive-class (high-quality) parquet dir for "
                        "--fit-classifier")
    p.add_argument("--classifier-buckets", type=int, default=10_000,
                   help="Hashed n-gram buckets for --fit-classifier")
    p.add_argument("--classifier-sample", type=int, default=10_000,
                   help="Per-class fit-sample bound for "
                        "--fit-classifier (content-hash deterministic)")
    p.add_argument("--eval-classifier", type=str, default=None,
                   help="Maintenance mode: evaluate --classifier-model "
                        "on a LABELED parquet dir (columns 'text', "
                        "'label' in {0,1}) — print AUC and a "
                        "per-threshold precision/recall table, then "
                        "exit")
    p.add_argument("--classifier-target-precision", type=float,
                   default=None,
                   help="With --eval-classifier: also print the "
                        "smallest --min-classifier-prob reaching this "
                        "precision (max recall at that bar)")
    p.add_argument("--classifier-model", type=str, default=None,
                   help="A --fit-classifier (save_classifier) model "
                        "directory: gate exported documents on learned "
                        "quality (requires --min-classifier-prob)")
    p.add_argument("--min-classifier-prob", type=float, default=None,
                   help="Keep only documents the --classifier-model "
                        "scores at least this likely high-quality "
                        "(in [0, 1]; 0.5 = the model's call)")
    p.add_argument("--lm-model", type=str, default=None,
                   help="A --fit-lm (save_lm) model directory: gate "
                        "exported documents on perplexity under it "
                        "(requires --max-perplexity)")
    p.add_argument("--max-perplexity", type=float, default=None,
                   help="Keep only documents at or below this "
                        "perplexity under --lm-model")
    return p


def _load_companies(spark, args, require_thai: bool):
    from .sources.files import (
        csv_companies_source,
        excel_companies_source,
        text_companies_source,
    )

    ext = os.path.splitext(args.input)[1].lower()
    if ext in (".xlsx", ".xls"):
        return excel_companies_source(
            spark, args.input, sheet_name=args.sheet or 0,
            name_col=args.column, reg_col=args.reg_column,
            require_thai_suffix=require_thai,
        )
    if ext == ".txt":
        return text_companies_source(spark, args.input, require_thai)
    return csv_companies_source(
        spark, args.input, name_col=args.column, reg_col=args.reg_column,
        require_thai_suffix=require_thai,
    )


def _make_fetcher_factory(args, conf):
    if args.fetcher == "http":
        from .sources.http_client import HttpFetcher

        delay = conf["fetch"]["delay_between_requests"]
        return lambda: HttpFetcher(delay=delay)
    if args.fetcher == "selenium":
        import tempfile

        from .sources.http_client import SeleniumFetcher

        # --debug parity (scraper_v2.py:1508-1510, 1602): per-profile
        # screenshots into the system temp dir, like the reference
        debug_dir = tempfile.gettempdir() if args.debug else None
        return lambda: SeleniumFetcher(
            headless=not args.visible, debug_dir=debug_dir
        )
    # hermetic demo: every input company resolves against a registry
    # derived from the input itself (deterministic regs)
    import zlib

    def build(names: list[str]):
        from .sources.http_fetch import FakeDbdFetcher

        registry = [
            (f"0{zlib.crc32(n.encode('utf-8')) % 10**12:012d}", n) for n in names
        ]
        return lambda: FakeDbdFetcher(registry)

    return build


def _chunk_opts_from_args(args) -> dict | None:
    """One construction for BOTH the batch and stream export paths
    (same rationale as :func:`_html_opts_from_args`): --chunk-window
    enables chunking, stride defaults to 3/4 of the window, and a
    stride without a window refuses instead of silently no-opping."""
    if args.chunk_window is None:
        if args.chunk_stride is not None:
            raise ValueError("--chunk-stride requires --chunk-window")
        return None
    if args.chunk_window < 1:
        raise ValueError(
            f"--chunk-window must be >= 1, got {args.chunk_window}"
        )
    opts = {
        "window": args.chunk_window,
        "stride": (
            args.chunk_stride
            if args.chunk_stride is not None
            else max(1, args.chunk_window * 3 // 4)
        ),
    }
    if args.chunk_min_tokens is not None:
        opts["min_tokens"] = args.chunk_min_tokens
    return opts


def _pack_opts_from_args(args) -> dict | None:
    """One construction for BOTH the batch and stream export paths:
    --pack-context enables sequence packing, and a separator without a
    context refuses instead of silently no-opping (the
    --chunk-stride-without-window precedent)."""
    if args.pack_context is None:
        if args.pack_separator is not None:
            raise ValueError("--pack-separator requires --pack-context")
        return None
    if args.pack_context < 1:
        raise ValueError(
            f"--pack-context must be >= 1, got {args.pack_context}"
        )
    if args.chunk_window is not None and args.chunk_window > args.pack_context:
        # both values are known now — refuse at parse time instead of
        # hours later inside the packing kernel on the first over-
        # context chunk
        raise ValueError(
            f"--chunk-window ({args.chunk_window}) must be <= "
            f"--pack-context ({args.pack_context}): every chunk must "
            f"fit one training sequence"
        )
    opts = {"context": args.pack_context}
    if args.pack_separator is not None:
        opts["separator"] = args.pack_separator
    return opts


def _load_documents(spark, path: str, fmt: str, extract_main: bool = False):
    """Documents relation for the curation surfaces
    (--export-training-set, --gate-report) under ``--input-format``.
    Returns ``(docs, finalize)`` — call ``finalize()`` AFTER the
    consuming action to print ingest diagnostics.

    - ``parquet`` (default) — the engine's native layout;
    - ``jsonl`` — explicit doc_id/text schema via
      :func:`.sources.files.jsonl_documents_source`; corrupt lines are
      quarantined by construction, never fatal;
    - ``wet`` — Common Crawl WET archives via
      :func:`.sources.warc.wet_documents_source`: record ids become
      ``doc_id``, the target URI rides along as ``url`` (the domain
      gates' key), malformed records are dropped. A bare directory
      expands to ``<dir>/*.warc*``; a single file or a glob passes
      through;
    - ``warc`` — RAW captures via
      :func:`.sources.warc.warc_html_documents_source`: HTML 200
      responses HTTP-split, inflated, and stripped to visible text;
      non-HTML / off-status / malformed records all drop through the
      same counted channel. Same path expansion as ``wet``.

    The malformed-record count rides the consuming job's own scan
    (``Observation`` over the pre-filter relation) — an upfront
    ``count()`` would re-decompress and re-parse the entire input
    before the real job, doubling ingest I/O at 100 TB for one
    diagnostic line.
    """
    if fmt == "parquet":
        return spark.read.parquet(path), lambda: None
    if fmt == "jsonl":
        from .sources.files import jsonl_documents_source

        good, _corrupt = jsonl_documents_source(spark, path)
        return good, lambda: None
    if fmt in ("wet", "warc"):
        from pyspark.sql import Observation

        from .sources.warc import warc_html_documents_source, wet_documents_source

        scheme = path.split("://", 1)[0] if "://" in path else ""
        if scheme:
            # URI scheme (s3://, hdfs://, file://, …): driver-local
            # isfile/glob/open can't resolve it — route through
            # Spark's binaryFile source, which speaks any Hadoop FS
            via = "binaryFile"
            # A scheme path is a single file iff it has an explicit
            # glob or ends with a known archive extension — a basename
            # substring test misroutes s3://b/dump.gz (single file, no
            # '.warc') and s3://b/x.warc.d/ (a directory).
            base = os.path.basename(path.rstrip("/"))
            is_file_like = not path.endswith("/") and base.endswith(
                (".warc", ".wet", ".wat", ".gz", ".arc")
            )
            if any(ch in path for ch in "*?[") or is_file_like:
                pattern = path
            else:
                pattern = path.rstrip("/") + "/*.warc*"
        else:
            via = "stream"
            if any(ch in path for ch in "*?[") or os.path.isfile(path):
                pattern = path  # explicit glob, or a single archive file
            else:
                pattern = path.rstrip("/") + "/*.warc*"
        if fmt == "warc":
            # raw captures: HTTP-split + HTML-strip to visible text;
            # --html-extract-main upgrades the strip to main-content
            # extraction (the same knob the html_opts stage honors —
            # for warc input the HTML layer runs at INGEST, so the
            # flag must act here, not in a later funnel stage that
            # would see already-stripped text)
            raw = warc_html_documents_source(
                spark, pattern, via=via, extract_main=extract_main
            )
        else:
            raw = wet_documents_source(spark, pattern, via=via)
        obs = Observation(f"{fmt}_ingest")
        observed = raw.observe(
            obs,
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("n_bad"),
        )
        id_col = F.col("doc_id") if fmt == "warc" else F.col("record_id").alias(
            "doc_id"
        )
        docs = observed.filter(F.col("error").isNull()).select(
            id_col, "url", "text"
        )

        def finalize():
            # populated by the first completed action over the scan
            n_bad = obs.get.get("n_bad")
            if n_bad:
                print(f"{fmt}: dropped {n_bad} malformed/non-HTML records")

        return docs, finalize
    raise ValueError(
        f"--input-format {fmt!r} is not a documents format (valid here: "
        "parquet, jsonl, wet, warc; 'wat' feeds --stream-link-graph only)"
    )


def _lm_opts_from_args(args) -> dict | None:
    """One construction for BOTH the batch and stream export paths:
    --lm-model + --max-perplexity enable the reference-LM fluency
    gate; either flag alone refuses instead of silently no-opping."""
    if args.lm_model is None and args.max_perplexity is None:
        return None
    if args.lm_model is None or args.max_perplexity is None:
        raise ValueError(
            "--lm-model and --max-perplexity must be given together"
        )
    return {"model_path": args.lm_model, "max_perplexity": args.max_perplexity}


def _dsir_opts_from_args(args) -> dict | None:
    """One construction for BOTH export paths: --dsir-model +
    --min-dsir-weight enable the DSIR gate; either alone refuses."""
    if args.dsir_model is None and args.min_dsir_weight is None:
        return None
    if args.dsir_model is None or args.min_dsir_weight is None:
        raise ValueError(
            "--dsir-model and --min-dsir-weight must be given together"
        )
    return {
        "model_path": args.dsir_model,
        "min_avg_log_weight": args.min_dsir_weight,
    }


def _classifier_opts_from_args(args) -> dict | None:
    """One construction for BOTH export paths: --classifier-model +
    --min-classifier-prob enable the learned quality gate; either
    alone refuses."""
    if args.classifier_model is None and args.min_classifier_prob is None:
        return None
    if args.classifier_model is None or args.min_classifier_prob is None:
        raise ValueError(
            "--classifier-model and --min-classifier-prob must be "
            "given together"
        )
    return {
        "model_path": args.classifier_model,
        "min_prob": args.min_classifier_prob,
    }


def _gate_kwargs_from_args(args) -> dict:
    """The lang/quality/token gate knobs shared by the batch export,
    the stream export, and --gate-report — resolved in ONE place so
    the three surfaces cannot drift."""
    out = {}
    if args.keep_langs is not None:
        langs = tuple(
            x.strip() for x in args.keep_langs.split(",") if x.strip()
        )
        if not langs:
            raise ValueError("--keep-langs must name at least one code")
        out["keep_langs"] = langs
    if args.min_quality is not None:
        out["min_quality"] = args.min_quality
    if args.min_doc_tokens is not None:
        if args.min_doc_tokens < 0:
            raise ValueError(
                f"--min-doc-tokens must be >= 0, got {args.min_doc_tokens}"
            )
        out["min_tokens"] = args.min_doc_tokens
    if args.word_counter is not None:
        out["word_counter"] = args.word_counter
    return out


def _html_opts_from_args(args) -> dict | None:
    """One construction for BOTH the batch and stream export paths —
    a flag added in one place can't silently desynchronize the two.
    Validates the ratio range loudly: the ratio is in [0, 1] by
    construction, so a typo like ``15`` (meaning 0.15) would
    otherwise drop 100% of documents and export an empty set
    'successfully'."""
    if not (
        args.html_strip
        or args.html_extract_main
        or args.html_min_visible_ratio is not None
    ):
        return None
    r = args.html_min_visible_ratio
    if r is not None and not (0.0 <= r <= 1.0):
        raise ValueError(
            f"--html-min-visible-ratio must be in [0, 1], got {r}"
        )
    return {
        "strip": True,
        "extract_main": args.html_extract_main,
        "min_visible_ratio": r,
    }


def main(argv: Sequence[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.generate_config:
        from .config import generate_default_config

        path = generate_default_config(args.config)
        print(f"Wrote default config to {path}")
        return 0

    from .config import (
        is_reference_format,
        load_config,
        read_config_file,
        reference_io_settings,
    )
    from .session import get_spark

    # a reference-format config supplies input/output/processing defaults
    # too — apply them to any flag the user left at its default, the
    # reference's own config-vs-CLI precedence (scraper_v2.py:1627-1638)
    if os.path.exists(args.config):
        file_conf = read_config_file(args.config)
        if is_reference_format(file_conf):
            parser_defaults = {
                a.dest: a.default for a in build_parser()._actions
            }
            for dest, value in reference_io_settings(file_conf).items():
                if getattr(args, dest, None) == parser_defaults.get(dest):
                    setattr(args, dest, value)

    overrides = {
        "matching": {
            "similarity_threshold": args.similarity_threshold,
            "max_pages": args.max_search_pages,
            "require_thai_suffix": not args.no_filter,
        },
        "fetch": {
            "max_retries": 0 if args.no_retry else args.max_retries,
            "fetch_partitions": args.workers,
        },
    }
    conf = load_config(
        args.config if os.path.exists(args.config) else None, overrides
    )
    spark = get_spark(master=args.master)
    output_defaulted = args.output is None
    if output_defaulted:
        args.output = "revenue_data.parquet"
    fmt = "csv" if args.output.endswith(".csv") else "parquet"

    if args.optimize_output:
        from .sources.layout import optimize_table
        from .sources.sinks import compact_output

        if args.target_file_mb <= 0:
            # 0 would divide-by-zero deep in the sizing; negatives
            # silently degrade to one file — fail both loudly
            raise ValueError(
                f"--target-file-mb must be >= 1, got {args.target_file_mb}"
            )
        zcols = [
            c.strip() for c in (args.zorder_cols or "").split(",") if c.strip()
        ]
        if zcols:
            n = optimize_table(
                spark, args.optimize_output, zcols,
                target_mb=args.target_file_mb,
            )
            print(
                f"optimized {args.optimize_output}: {n} files, "
                f"z-ordered on {','.join(zcols)}"
            )
        else:
            n = compact_output(
                spark, args.optimize_output, target_mb=args.target_file_mb
            )
            print(f"compacted {args.optimize_output}: {n} files")
        return 0

    if args.stream_link_graph or args.refresh_link_ranks:
        from .streaming.link_graph import refresh_ranks, stream_link_graph

        # the link-graph store is a long-lived STATEFUL directory, not
        # a one-shot output: running these modes against the untouched
        # scrape default would silently initialize a store (format
        # marker, ckpt, edges) under an unrelated-looking path
        # (round-11 advice) — demand an explicit choice; an explicitly
        # typed '-o revenue_data.parquet' IS a choice and passes
        if output_defaulted:
            raise ValueError(
                "--stream-link-graph / --refresh-link-ranks need an "
                "explicit --output/-o naming the link-graph STORE "
                "directory (the default scrape output path would "
                "silently become a stateful store)"
            )
        store = args.output
        if args.stream_link_graph:
            if args.input_format == "wat":
                from .sources.warc import wat_metadata_stream

                meta = wat_metadata_stream(
                    spark, args.input, max_files_per_trigger=1
                )
                # quarantined records carry no usable links; the store
                # ingests only parsed pages (the error channel is the
                # batch source's concern — audit it there)
                pages = meta.filter(F.col("error").isNull()).select(
                    "url", "links"
                )
            elif args.input_format == "parquet":
                from .streaming import file_stream

                schema = spark.read.parquet(args.input).schema
                pages = file_stream(
                    spark, args.input, schema, max_files_per_trigger=1
                )
            else:
                raise ValueError(
                    "--stream-link-graph reads --input-format wat or "
                    f"parquet (got {args.input_format!r})"
                )
            q = stream_link_graph(
                pages,
                store,
                f"{store}/ckpt",
                by_domain=not args.link_by_url,
            )
            q.awaitTermination()
            print(f"link-graph store updated: {store}")
        if args.refresh_link_ranks:
            if args.link_rank_iters < 1:
                raise ValueError(
                    f"--link-rank-iters must be >= 1, got "
                    f"{args.link_rank_iters}"
                )
            seeds = (
                spark.read.parquet(args.link_rank_seeds)
                if args.link_rank_seeds
                else None
            )
            meta = refresh_ranks(
                spark, store, max_iter=args.link_rank_iters, seeds=seeds
            )
            print(
                f"ranks refreshed: as_of_epoch={meta['as_of_epoch']} "
                f"n_edges={meta['n_edges']} n_nodes={meta['n_nodes']}"
            )
        return 0

    if args.fit_lm:
        from .functions.lm import ngram_lm_fit, save_lm

        model = ngram_lm_fit(
            spark.read.parquet(args.input), text_col="text",
            min_count=args.lm_min_count,
        )
        save_lm(spark, model, args.output)
        print(
            f"LM fitted on {model['n_tokens']} tokens -> {args.output}"
        )
        return 0

    if args.gate_report:
        from .plans.curation import curation_gate_report

        docs_in, ingest_report = _load_documents(
            spark, args.gate_report, args.input_format,
            extract_main=args.html_extract_main,
        )
        rep = curation_gate_report(
            docs_in,
            gopher_opts={} if args.gopher else None,
            c4_opts={} if args.c4_clean else None,
            lang_id_impl=args.lang_id,
            **_gate_kwargs_from_args(args),
        )
        for r in rep.collect():
            frac = "" if r["fail_frac"] is None else f" ({r['fail_frac']:.1%})"
            print(f"{r['gate']}: {r['n_fail']}{frac}")
        ingest_report()
        return 0

    if args.ivf_stats:
        from .operators.similarity_search import (
            ivf_rebuild_advised,
            ivf_stats,
        )

        for r in ivf_stats(spark, args.ivf_stats).collect():
            dist = (
                "-" if r["mean_center_dist"] is None
                else f"{r['mean_center_dist']:.4f}"
            )
            print(f"list {r['_list']}: n={r['n_vectors']} mean_dist={dist}")
        advised, why = ivf_rebuild_advised(spark, args.ivf_stats)
        print(f"rebuild_advised={advised}: {why}")
        return 0

    if args.profile:
        from .operators.profiling import profile_table

        prof = profile_table(spark.read.parquet(args.profile))
        for r in prof.orderBy("column").collect():
            d = r.asDict()
            print(
                f"{d['column']} ({d['dtype']}): n={d['n_rows']} "
                f"nulls={d['n_nulls']} approx_ndv={d['approx_ndv']} "
                f"min={d['min_value']} max={d['max_value']}"
            )
        return 0

    if args.write_manifest:
        from .plans.manifest import write_manifest

        totals = write_manifest(spark, args.write_manifest)
        for label, t_ in sorted(totals.items()):
            print(
                f"split={label}: {t_['n_rows']} rows, "
                f"{t_['n_tokens']} tokens, {t_['n_shards']} shards"
            )
        return 0

    if args.verify_manifest:
        from .caching import release_caches
        from .plans.manifest import verify_manifest

        drift = verify_manifest(spark, args.verify_manifest).collect()
        release_caches()
        if drift:
            for r in drift:
                print(f"DRIFT [{r['side']}]: {r.asDict()}")
            return 1
        print(f"manifest verified: {args.verify_manifest} matches its tree")
        return 0

    if args.fit_dsir:
        from .caching import release_caches
        from .operators.dsir import dsir_fit, save_dsir

        if not args.dsir_target:
            raise ValueError("--fit-dsir requires --dsir-target")
        model = dsir_fit(
            spark.read.parquet(args.dsir_target),
            spark.read.parquet(args.input),
            text_col="text",
            n_buckets=args.dsir_buckets,
        )
        save_dsir(spark, model, args.output)
        release_caches()
        print(
            f"DSIR fitted: target {model['n_target']} grams, raw "
            f"{model['n_raw']} grams, {model['n_buckets']} buckets -> "
            f"{args.output}"
        )
        return 0

    if args.domain_quality_filter:
        from .caching import release_caches
        from .operators.domains import domain_quality_filter

        docs = spark.read.parquet(args.domain_quality_filter)
        n_in = docs.count()
        kept = domain_quality_filter(
            docs,
            domain_col=args.domain_col,
            min_domain_score=args.min_domain_quality,
            min_docs_per_domain=args.min_docs_per_domain,
            registrable=not args.raw_host_domains,
        )
        kept.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        release_caches()
        print(
            f"domain quality gate: {n_in} -> {n_out} documents "
            f"({n_in - n_out} dropped with their domains) -> {args.output}"
        )
        return 0

    if args.image_dedup:
        from .caching import release_caches
        from .multimodal.image_dedup import image_near_dedup

        media = spark.read.parquet(args.image_dedup)
        n_in = media.count()
        kept = image_near_dedup(
            media,
            codec=args.image_codec,
            max_hamming=args.image_max_hamming,
        )
        kept.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        release_caches()
        print(
            f"image dedup: {n_in} -> {n_out} images "
            f"({n_in - n_out} perceptual duplicates dropped) -> "
            f"{args.output}"
        )
        return 0

    if args.fit_vocab:
        from .functions.bpe import bpe_train, save_merges

        merges = bpe_train(
            spark.read.parquet(args.input),
            text_col="text",
            num_merges=args.vocab_merges,
            max_pieces=args.vocab_max_pieces,
        )
        save_merges(merges, args.output)
        print(
            f"BPE vocab trained: {len(merges)} merges "
            f"(requested {args.vocab_merges}) -> {args.output}"
        )
        return 0

    if args.fit_classifier:
        from .caching import release_caches
        from .operators.classifier import classifier_fit, save_classifier

        if not args.classifier_pos:
            raise ValueError("--fit-classifier requires --classifier-pos")
        pos = spark.read.parquet(args.classifier_pos).select(
            F.lit(1).alias("label"), "text"
        )
        neg = spark.read.parquet(args.input).select(
            F.lit(0).alias("label"), "text"
        )
        model = classifier_fit(
            pos.unionByName(neg),
            text_col="text",
            n_buckets=args.classifier_buckets,
            sample_per_class=args.classifier_sample,
        )
        save_classifier(spark, model, args.output)
        release_caches()
        print(
            f"classifier fitted: {model['n_pos']} positive / "
            f"{model['n_neg']} negative sample docs, "
            f"{model['n_buckets']} buckets -> {args.output}"
        )
        return 0

    if args.classifier_target_precision is not None and not args.eval_classifier:
        # refuse, don't silently ignore (the --chunk-stride-requires-
        # --chunk-window discipline)
        raise ValueError(
            "--classifier-target-precision requires --eval-classifier"
        )

    if args.eval_classifier:
        from .caching import release_caches
        from .operators.classifier import classifier_eval, load_classifier

        if not args.classifier_model:
            raise ValueError("--eval-classifier requires --classifier-model")
        model = load_classifier(spark, args.classifier_model)
        labeled = spark.read.parquet(args.eval_classifier)
        # one scoring job answers AUC, the table, AND the target gate
        rep = classifier_eval(
            labeled, model,
            target_precision=args.classifier_target_precision,
        )
        print(
            f"AUC {rep['auc']} on {rep['n_pos']} positive / "
            f"{rep['n_neg']} negative scoreable docs"
        )
        print("threshold  precision  recall  f1")
        for r in rep["thresholds"]:
            print(
                f"{r['threshold']:9.2f}  {str(r['precision']):>9}  "
                f"{r['recall']:.4f}  {str(r['f1'])}"
            )
        if args.classifier_target_precision is not None:
            print(
                f"min-classifier-prob for precision >= "
                f"{args.classifier_target_precision}: "
                f"{rep['threshold_for_target']}"
            )
        release_caches()
        return 0

    if args.export_training_set:
        import json as _json

        from .caching import release_caches
        from .plans.training_export import export_training_set

        curate_kwargs = {}
        if args.segment_dedup_k is not None and args.segment_dedup_k < 1:
            # truthiness would turn a typo'd 0 into a silent no-dedup
            # export; fail it as loudly as the negative values
            raise ValueError(
                f"--segment-dedup-k must be >= 1, got {args.segment_dedup_k}"
            )
        if args.segment_dedup_k is not None:
            curate_kwargs["segment_dedup_opts"] = {
                "mode": "chunk",
                "k": args.segment_dedup_k,
                "min_docs": args.segment_min_docs,
            }
        if args.substring_dedup_minlen is not None:
            if args.substring_dedup_minlen < 1:
                raise ValueError(
                    f"--substring-dedup-minlen must be >= 1, got "
                    f"{args.substring_dedup_minlen}"
                )
            curate_kwargs["substring_dedup_opts"] = {
                "min_len": args.substring_dedup_minlen,
                "min_docs": args.substring_min_docs,
            }
        if args.quality_sample_rates:
            curate_kwargs["quality_sample_rates"] = tuple(
                int(x) for x in args.quality_sample_rates.split(",")
            )
        if args.block_domains or args.max_docs_per_domain is not None:
            if args.max_docs_per_domain is not None and args.max_docs_per_domain < 1:
                raise ValueError(
                    f"--max-docs-per-domain must be >= 1, got "
                    f"{args.max_docs_per_domain}"
                )
            dom = {
                "domain_col": args.domain_col,
                "registrable": not args.raw_host_domains,
            }
            if args.block_domains:
                dom["blocklist"] = [
                    d.strip() for d in args.block_domains.split(",") if d.strip()
                ]
            if args.max_docs_per_domain is not None:
                dom["max_docs"] = args.max_docs_per_domain
            curate_kwargs["domain_opts"] = dom
        html_opts = _html_opts_from_args(args)
        if html_opts is not None:
            if args.input_format == "warc":
                # the HTML layer already ran AT INGEST for raw
                # captures (--html-extract-main acts there); a funnel
                # html stage would re-strip stripped prose, and
                # min-visible-ratio would score text, not markup
                if args.html_strip or args.html_min_visible_ratio is not None:
                    raise ValueError(
                        "--input-format warc strips HTML at ingest — "
                        "--html-strip/--html-min-visible-ratio have no "
                        "markup left to act on (--html-extract-main is "
                        "honored at ingest instead)"
                    )
            else:
                curate_kwargs["html_opts"] = html_opts
        if args.decontaminate_against:
            curate_kwargs["contamination_opts"] = {
                "benchmark": spark.read.parquet(args.decontaminate_against),
                "threshold": args.contamination_threshold,
                "containment_threshold": args.containment_threshold,
            }
        lm_opts = _lm_opts_from_args(args)
        if lm_opts is not None:
            curate_kwargs["lm_opts"] = lm_opts
        if args.gopher:
            curate_kwargs["gopher_opts"] = {}
        if args.c4_clean:
            curate_kwargs["c4_opts"] = {}
        dsir_opts = _dsir_opts_from_args(args)
        if dsir_opts is not None:
            curate_kwargs["dsir_opts"] = dsir_opts
        classifier_opts = _classifier_opts_from_args(args)
        if classifier_opts is not None:
            curate_kwargs["classifier_opts"] = classifier_opts
        if args.lang_id != "fast":
            curate_kwargs["lang_id_impl"] = args.lang_id
        curate_kwargs.update(_gate_kwargs_from_args(args))
        chunk_opts = _chunk_opts_from_args(args)
        pack_opts = _pack_opts_from_args(args)
        docs_in, ingest_report = _load_documents(
            spark, args.input, args.input_format,
            extract_main=args.html_extract_main,
        )
        counts = export_training_set(
            docs_in,
            args.output,
            mix_weights=_json.loads(args.mix_weights)
            if args.mix_weights
            else None,
            mix_temperature=args.mix_temperature,
            split_fractions=_json.loads(args.split_fractions)
            if args.split_fractions
            else None,
            shard_token_budget=args.shard_token_budget,
            redact=not args.no_redact,
            curate_kwargs=curate_kwargs or None,
            chunk_opts=chunk_opts,
            pack_opts=pack_opts,
            shuffle_salt=args.shuffle_salt,
            token_counter=args.token_counter,
        )
        release_caches()
        ingest_report()
        for label, n in counts.items():
            unit = (
                "sequences"
                if pack_opts
                else "chunks" if chunk_opts else "documents"
            )
            print(f"split={label}: {n} {unit}")
        return 0

    if args.stream_export:
        from .caching import release_caches
        from .streaming import await_or_die, file_stream
        from .streaming.export import stream_export_training_set

        state_root = args.stream_state or f"{args.output}__state"
        if args.input_format == "parquet":
            # schema from the files already present — a file stream
            # needs it explicit, and the input dir must exist with at
            # least one file
            schema = spark.read.parquet(args.input).schema
            stream_docs = file_stream(
                spark, args.input, schema, max_files_per_trigger=1
            )
        elif args.input_format == "wet":
            from .sources.warc import wet_documents_stream

            # continuous Common Crawl ingest: new WET archives landing
            # in the directory join the next micro-batch
            stream_docs = wet_documents_stream(
                spark, args.input, max_files_per_trigger=1
            )
        else:
            raise ValueError(
                "--stream-export supports --input-format parquet or wet "
                f"(got {args.input_format!r}); jsonl corpora are at-rest "
                "inputs — use --export-training-set"
            )
        sopts = {}
        if args.decontaminate_against:
            sopts["contamination_opts"] = {
                "benchmark": spark.read.parquet(args.decontaminate_against),
                "threshold": args.contamination_threshold,
                "containment_threshold": args.containment_threshold,
            }
        if args.block_domains:
            sopts["domain_opts"] = {
                "domain_col": args.domain_col,
                "registrable": not args.raw_host_domains,
                "blocklist": [
                    d.strip() for d in args.block_domains.split(",") if d.strip()
                ],
            }
        html_opts = _html_opts_from_args(args)
        if html_opts is not None:
            sopts["html_opts"] = html_opts
        if args.max_docs_per_domain is not None:
            raise ValueError(
                "--max-docs-per-domain is a global property and cannot run "
                "incrementally — cap at rest over the exported set "
                "(operators.domains.per_domain_cap)."
            )
        if args.mix_weights or args.mix_temperature is not None:
            raise ValueError(
                "corpus mixing is a global property (per-source totals) "
                "and cannot run incrementally — mix at rest over the "
                "exported set (operators.mixing.mix_corpora / "
                "temperature_mix)."
            )
        if args.quality_sample_rates:
            raise ValueError(
                "--quality-sample-rates is a global property (the "
                "corpus-wide score-quantile histogram) and cannot run "
                "incrementally — sample at rest over the exported set "
                "(operators.sampling.quality_bucket_sample), or gate "
                "with the fixed --min-quality threshold instead."
            )
        if args.split_fractions:
            import json as _json

            sopts["split_fractions"] = _json.loads(args.split_fractions)
        if args.segment_dedup_k is not None:
            if args.segment_dedup_k < 1:
                raise ValueError(
                    f"--segment-dedup-k must be >= 1, got {args.segment_dedup_k}"
                )
            sopts["segment_dedup_opts"] = {
                "mode": "chunk",
                "k": args.segment_dedup_k,
                "min_docs": args.segment_min_docs,
            }
        if args.substring_dedup_minlen is not None:
            if args.substring_dedup_minlen < 1:
                raise ValueError(
                    f"--substring-dedup-minlen must be >= 1, got "
                    f"{args.substring_dedup_minlen}"
                )
            sopts["substring_dedup_opts"] = {
                "min_len": args.substring_dedup_minlen,
                "min_docs": args.substring_min_docs,
            }
        chunk_opts = _chunk_opts_from_args(args)
        if chunk_opts is not None:
            sopts["chunk_opts"] = chunk_opts
        pack_opts = _pack_opts_from_args(args)
        if pack_opts is not None:
            sopts["pack_opts"] = pack_opts
        lm_opts = _lm_opts_from_args(args)
        if lm_opts is not None:
            sopts["lm_opts"] = lm_opts
        if args.gopher:
            sopts["gopher_opts"] = {}
        if args.c4_clean:
            sopts["c4_opts"] = {}
        dsir_opts = _dsir_opts_from_args(args)
        if dsir_opts is not None:
            sopts["dsir_opts"] = dsir_opts
        classifier_opts = _classifier_opts_from_args(args)
        if classifier_opts is not None:
            sopts["classifier_opts"] = classifier_opts
        sopts.update(_gate_kwargs_from_args(args))
        if args.lang_id != "fast":
            sopts["lang_id_impl"] = args.lang_id
        q = stream_export_training_set(
            stream_docs,
            args.output,
            f"{state_root}/state",
            f"{state_root}/ckpt",
            shard_token_budget=args.shard_token_budget,
            redact=not args.no_redact,
            shuffle_salt=args.shuffle_salt,
            token_counter=args.token_counter,
            **sopts,
        )
        await_or_die(q, 3600)
        release_caches()
        print(f"stream export complete: output={args.output} state={state_root}")
        return 0

    if args.combine_only:
        from .sources.sinks import backup_on_overwrite, combine_batches

        backup_on_overwrite(args.output, force=args.force)
        n = combine_batches(spark, args.input, args.output, fmt=fmt)
        print(f"Combined {n} rows into {args.output}")
        return 0

    from .plans.pipeline import scrape_pipeline
    from .sources.sinks import backup_on_overwrite, side_output_sink

    companies = _load_companies(spark, args, conf["matching"]["require_thai_suffix"])
    if args.start:
        from pyspark.sql import Window

        w = Window.orderBy("company_name")
        companies = (
            companies.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > args.start)
            .drop("_rn")
        )
    if args.test:
        companies = companies.orderBy("company_name").limit(args.test)
    if args.resume and os.path.exists(args.output):
        from .streaming.micro_batch import resume_anti_join

        done = (
            spark.read.option("header", True).csv(args.output)
            if fmt == "csv"
            else spark.read.parquet(args.output)
        )
        companies = resume_anti_join(companies, done, ["company_name"])

    factory = _make_fetcher_factory(args, conf)
    if args.fetcher == "fake":
        names = [r["company_name"] for r in companies.select("company_name").collect()]
        factory = factory(names)

    fact, not_found = scrape_pipeline(companies, factory, conf)

    for path in (args.output, args.not_found_output):
        backup_on_overwrite(path, force=args.force)
    side_output_sink(
        fact, not_found, args.output, args.not_found_output,
        fmt=fmt, mode="append" if args.resume else "overwrite",
        target_files=args.batch_size,
    )
    # the sinks were the consuming actions — release the pipeline's
    # tracked persists (fetch legs) before the verification read
    from .caching import release_caches

    release_caches()
    n_fact = spark.read.format(fmt).load(args.output).count() if fmt == "parquet" \
        else spark.read.option("header", True).csv(args.output).count()
    print(f"Done. Fact rows in {args.output}: {n_fact}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
