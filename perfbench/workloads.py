"""The three workloads, each a closed loop with one client in the
driver process, and the checks on their outputs.

Each workload function takes a ``Context`` and returns a ``Result``:
end-to-end metrics (measured on every run), per-layer metrics (filled
from the trace when tracing is on), and the count of operations
attempted and failed. An operation that raises, or whose output fails
a check, counts as failed.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import datagen
from .trace import EventLog, Tracer

# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    ncores: int


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    # reduce(records, by_name, log): fills the trace's per-layer
    # metrics once the event log is complete (the session has stopped)
    reduce: object = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:2000])

    def ops(self, latencies: list[float], throughput: float) -> None:
        """The end-to-end metrics every workload reports: work units
        per second and the median latency of its operations (scrape
        jobs, registry queries, streaming epochs). The tail latency is
        a per-layer metric: a run has too few operations for a steady
        one."""
        value, pct = tail(latencies)
        self.metrics["throughput_per_s"] = (throughput, "1/s")
        self.metrics["op_p50_s"] = (statistics.median(latencies), "s")
        self.layers["op_tail_s"] = (value, "s")
        self.layers["op_tail_percentile"] = (pct, "pct")
        self.layers["ops_measured"] = (len(latencies), "count")


def closed_loop(seconds: float, min_ops: int, op) -> None:
    """Run ``op(i)`` back to back until ``seconds`` have passed and at
    least ``min_ops`` operations have completed."""
    n, t0 = 0, time.perf_counter()
    while n < min_ops or time.perf_counter() - t0 < seconds:
        op(n)
        n += 1


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it. Below 21 samples that percentile is at or
    under the median, so the maximum stands in: (max, 100)."""
    xs = sorted(values)
    if len(xs) < 21:
        return xs[-1], 100.0
    k = len(xs) - 11  # 10 samples above index k
    return xs[k], round(100.0 * (k + 1) / len(xs), 1)


def caching_counts() -> tuple[int, int]:
    from dbd_datawarehouse_scraper_spark.caching import (
        live_persist_count,
        live_scratch_count,
    )

    return live_persist_count(), live_scratch_count()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# scrape
# ---------------------------------------------------------------------------

SCRAPE_REGISTRY = 15_000   # the registry the fetcher serves (sf0.1 customers)
# Input companies per scrape job. A run times one job, first-run
# compilation included, as a one-shot CLI scrape pays it.
SCRAPE_COMPANIES = 1_000
SCRAPE_YEARS = (2566, 2565, 2564)


def _expected_facts(reg: str, income, balance) -> dict[tuple[str, str, int], float]:
    """(table, field, year) -> value the site's arithmetic gives ``reg``,
    without the placeholder cells (they never reach the fact table)."""
    from dbd_datawarehouse_scraper_spark.sources.http_fetch import (
        BALANCE_TABLE,
        INCOME_TABLE,
    )

    seed = int(reg[-6:]) + 7
    out = {}
    for table, fields in ((INCOME_TABLE, income), (BALANCE_TABLE, balance)):
        for fi, name in enumerate(fields):
            for yi, year in enumerate(SCRAPE_YEARS):
                whole = (seed * (fi + 3) * (yi + 2)) % 10_000_000
                cents = seed % 100
                if (seed + fi + yi) % 11 == 0 or (whole == 0 and cents == 0):
                    continue
                out[(table, name, year)] = whole + cents / 100
    return out


def check_scrape(rows, fact_path: str, nf_path: str, income, balance) -> list[str]:
    """Problems with one scrape job's outputs (empty when correct)."""
    fact = pq.read_table(fact_path).to_pylist()
    nf = pq.read_table(nf_path).to_pylist()
    problems = []
    by_name = {name: (reg, kind) for name, reg, kind in rows}
    fact_names = {r["company_name"] for r in fact}
    nf_names = [r["company_name"] for r in nf]
    if len(nf_names) != len(set(nf_names)):
        problems.append("a company appears twice in not-found")
    if fact_names & set(nf_names):
        problems.append(f"{len(fact_names & set(nf_names))} companies in both outputs")
    landed = fact_names | set(nf_names)
    if landed != set(by_name):
        problems.append(
            f"{len(set(by_name) - landed)} input companies missing, "
            f"{len(landed - set(by_name))} unknown companies in the outputs"
        )
    got: dict[str, dict] = {}
    for r in fact:
        got.setdefault(r["company_name"], {})[
            (r["table_type"], r["field_name"], r["year"])
        ] = (r["registration_number"], r["value"])
    for name, facts in got.items():
        _, kind = by_name.get(name, (None, None))
        regs = {v[0] for v in facts.values()}
        if len(regs) != 1:
            problems.append(f"{name}: {len(regs)} registration numbers")
            continue
        reg = regs.pop()
        if kind == "unknown":
            problems.append(f"{name}: absent from the registry but matched {reg}")
            continue
        want_reg = datagen.reg_of(int(name.split("#")[1][:9])) if "#" in name else None
        if kind in ("exact", "reg", "fuzzy") and reg != want_reg:
            problems.append(f"{name}: matched {reg}, registry has {want_reg}")
            continue
        want = _expected_facts(reg, income, balance)
        if set(facts) != set(want):
            problems.append(f"{name}: {len(facts)} fact cells, expected {len(want)}")
        elif any(abs(facts[k][1] - v) > 1e-6 * max(1.0, abs(v)) for k, v in want.items()):
            problems.append(f"{name}: fact values differ from the site's arithmetic")
    for name, (_, kind) in by_name.items():
        if kind in ("exact", "reg") and name not in got:
            problems.append(f"{name}: {kind} company not in the fact table")
    return problems[:20]


def scrape(ctx: Context) -> Result:
    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.config import load_config
    from dbd_datawarehouse_scraper_spark.plans.pipeline import scrape_pipeline
    from dbd_datawarehouse_scraper_spark.sources.files import csv_companies_source
    from dbd_datawarehouse_scraper_spark.sources.sinks import side_output_sink

    from .fetcher import FetcherFactory, read_counts

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    conf = load_config(overrides={"matching": {"similarity_threshold": 0.4, "max_pages": 3}})
    income = conf["extraction"]["income_fields"]
    balance = conf["extraction"]["balance_fields"]
    registry, chunks = datagen.scrape_inputs(ctx.seed, SCRAPE_REGISTRY, [SCRAPE_COMPANIES] * 4)
    counts_dir = os.path.join(ctx.work, "fetch_counts")
    os.makedirs(counts_dir)
    factory = FetcherFactory(registry, income, balance, counts_dir)
    walls, live, requests, spans = [], [], [], []

    def job(i: int) -> None:
        rows = chunks[i % len(chunks)]
        csv_path = datagen.write_companies_csv(rows, os.path.join(ctx.work, f"companies{i}.csv"))
        fact_path = os.path.join(ctx.work, f"fact{i}")
        nf_path = os.path.join(ctx.work, f"not_found{i}")
        res.attempted += 1
        try:
            t0 = time.perf_counter()
            with tr.span("scrape.job") as job_span:
                with tr.span("sources.files.csv_companies_source"):
                    companies = csv_companies_source(spark, csv_path)
                with tr.span("plans.pipeline.scrape_pipeline"):
                    fact, nf = scrape_pipeline(companies, factory, conf)
                    if tr.enabled:
                        # the sink span then holds only the write
                        fact, nf = fact.persist(), nf.persist()
                        fact.count()
                        nf.count()
                with tr.span("sources.sinks.side_output_sink"):
                    side_output_sink(fact, nf, fact_path, nf_path)
            walls.append(time.perf_counter() - t0)
            with tr.span("caching.release_caches"):
                if tr.enabled:
                    fact.unpersist()
                    nf.unpersist()
                release_caches()
            live.append(caching_counts())
            requests.append(read_counts(counts_dir))
            spans.append(job_span)
            problems = check_scrape(rows, fact_path, nf_path, income, balance)
            if problems:
                res.fail("scrape check: " + "; ".join(problems))
        except Exception:
            res.fail(traceback.format_exc())

    closed_loop(ctx.seconds, 1, job)
    if walls:
        res.ops(walls, SCRAPE_COMPANIES * len(walls) / sum(walls))
        res.layers["scrape.companies_per_s"] = (SCRAPE_COMPANIES / statistics.median(walls), "1/s")
    if live:
        res.layers["caching.live_persists_after_op"] = (max(p for p, _ in live), "count")
        res.layers["caching.live_scratch_after_op"] = (max(s for _, s in live), "count")
    if requests:
        n = SCRAPE_COMPANIES * len(requests)
        res.layers["fetch.search_calls_per_company"] = (
            sum(r["search"] for r in requests) / n, "count")
        res.layers["fetch.profile_calls_per_company"] = (
            sum(r["profile"] for r in requests) / n, "count")

    def reduce(records, by_name, log: EventLog) -> None:
        # each job's record, and its child spans' records by name
        timed = [records[s["id"]] for s in spans]
        child = {}
        for s in tr.spans:
            if s["parent"] in {j["id"] for j in spans}:
                child.setdefault(s["name"], []).append(records[s["id"]])

        def med(recs, key):
            return statistics.median(r[key] for r in recs)

        res.layers["files.read_s"] = (med(child["sources.files.csv_companies_source"], "wall_s"), "s")
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("driver_gap_s", "s"), ("shuffle_write_bytes", "B"),
                          ("spill_bytes", "B")):
            res.layers[f"scrape.{key}"] = (med(timed, key), unit)
        res.layers["sinks.write_s"] = (med(child["sources.sinks.side_output_sink"], "wall_s"), "s")
        fetch = log.scope_totals([j for r in timed for j in r["job_ids"]], "MapInPandas")
        res.layers["fetch.stage_run_s"] = (fetch["run_s"] / len(timed), "s")
        res.layers["fetch.stage_cpu_s"] = (fetch["cpu_s"] / len(timed), "s")
        written = [dir_stats(os.path.join(ctx.work, f"{p}{i}"))
                   for i in range(len(timed))
                   for p in ("fact", "not_found")]
        res.layers["sinks.files_written"] = (sum(f for f, _ in written) / len(timed), "count")
        res.layers["sinks.bytes_written"] = (sum(b for _, b in written) / len(timed), "B")

    res.reduce = reduce
    return res


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# 10 of the 55 queries of bench.py's HEADLINE list, in its order, copied
# so later edits to bench.py cannot change the workload. One pass of all
# 55 costs more than one benchmark run may take (see README.md).
REGISTRY_QUERIES = [
    "q1_pricing_summary", "broadcast_dim_join", "exact_core_join",
    "similarity_fallback_join", "window_lag_lead_rank", "session_window_batch",
    "token_set_jaccard", "heavy_hitters_tokens", "tfidf_topk", "bm25_search",
]
# queries whose own layer record the traced run reports: the costliest
# of the subset on 4 cores
REGISTRY_DETAIL = ["bm25_search", "tfidf_topk", "similarity_fallback_join", "broadcast_dim_join"]
REGISTRY_PASSES = 1


def canon_value(v) -> str:
    import datetime
    import math
    from decimal import Decimal

    if v is None:
        return "~"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    return f"s:{v}"


def canon_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted after canonicalizing every value."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def registry(ctx: Context) -> Result:
    import duckdb

    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.queries import QUERIES

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    sf_dir = os.path.join(ctx.work, "tables")
    tables = datagen.write_tables(ctx.seed, sf_dir)
    con = duckdb.connect()
    con.execute(f"SET threads = {ctx.ncores}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = [n for n in REGISTRY_QUERIES if n in QUERIES]
    if len(names) != len(REGISTRY_QUERIES):
        res.fail(f"queries missing from the registry: {sorted(set(REGISTRY_QUERIES) - set(names))}")
    spark_s: dict[str, list[float]] = {n: [] for n in names}
    duck_s: dict[str, list[float]] = {n: [] for n in names if QUERIES[n].sql}
    rows: dict[str, int] = {}
    live = []

    # untimed check pass, which also pays each query's first-run
    # compilation: oracle-backed results hash-equal DuckDB's, and the
    # row count of every query is recorded for the timed passes
    for name in names:
        q = QUERIES[name]
        res.attempted += 1
        try:
            sdf = q.builder(spark, sf_dir)
            if q.sql:
                s_rows = [tuple(r) for r in sdf.collect()]
                d = con.execute(q.sql)
                d_cols = [c[0] for c in d.description]
                if canon_hash(sdf.columns, s_rows) != canon_hash(d_cols, d.fetchall()):
                    res.fail(f"{name}: result differs from the DuckDB oracle")
                rows[name] = len(s_rows)
            else:
                rows[name] = sdf.count()
            release_caches()
        except Exception:
            res.fail(f"{name} check: {traceback.format_exc()}")

    def one_pass(_i: int) -> None:
        for name in names:
            q = QUERIES[name]
            res.attempted += 1
            try:
                with tr.span(f"queries.{name}"):
                    t0 = time.perf_counter()
                    n = q.builder(spark, sf_dir).count()
                    spark_s[name].append(time.perf_counter() - t0)
                with tr.span("caching.release_caches"):
                    release_caches()
                live.append(caching_counts())
                if q.sql:
                    t0 = time.perf_counter()
                    con.execute(q.sql).fetchall()
                    duck_s[name].append(time.perf_counter() - t0)
                if n != rows.get(name):
                    res.fail(f"{name}: {n} rows, {rows.get(name)} in the check pass")
            except Exception:
                res.fail(f"{name}: {traceback.format_exc()}")

    closed_loop(ctx.seconds, REGISTRY_PASSES, one_pass)
    con.close()

    med = {n: statistics.median(v) for n, v in spark_s.items() if v}
    samples = [x for v in spark_s.values() for x in v]
    if samples and len(med) == len(names):
        res.ops(samples, len(samples) / sum(samples))
        res.layers["registry.total_s"] = (sum(med.values()), "s")
        oracle = [n for n in duck_s if duck_s[n]]
        duck = sum(statistics.median(duck_s[n]) for n in oracle)
        res.layers["registry.duckdb_ratio"] = (sum(med[n] for n in oracle) / duck, "ratio")
        res.layers["registry.duckdb_s"] = (duck, "s")
    if live:
        res.layers["caching.live_persists_after_op"] = (max(p for p, _ in live), "count")
        res.layers["caching.live_scratch_after_op"] = (max(s for _, s in live), "count")

    def reduce(records, by_name, log: EventLog) -> None:
        passes = max(1, len(samples) // max(1, len(names)))
        keys = (("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
                ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_write_bytes", "B"), ("spill_bytes", "B"))
        for key, unit in keys:
            total = sum(r[key] for n in names for r in by_name.get(f"queries.{n}", []))
            res.layers[f"registry.{key}"] = (total / passes, unit)
        for n in REGISTRY_DETAIL:
            recs = by_name.get(f"queries.{n}", [])
            for key, unit in (("wall_s", "s"), ("jobs", "count"),
                              ("driver_gap_s", "s"), ("executor_cpu_s", "s")):
                res.layers[f"registry.{n}.{key}"] = (
                    statistics.median(r[key] for r in recs), unit)

    res.reduce = reduce
    return res


# ---------------------------------------------------------------------------
# stream_export
# ---------------------------------------------------------------------------

STREAM_EPOCHS = 2
STREAM_DOCS_PER_EPOCH = 100
STREAM_SPLITS = {"train": 0.9, "val": 0.1}
STREAM_DUP_FRAC = 0.2


def read_export(out_path: str) -> dict[int, dict[str, list[int]]]:
    """epoch -> split -> doc ids in the exported gzip JSONL shards."""
    out: dict[int, dict[str, list[int]]] = {}
    for f in glob.glob(os.path.join(out_path, "split=*", "epoch=*", "shard=*", "*.gz")):
        parts = dict(p.split("=", 1) for p in f.split(os.sep) if "=" in p)
        ids = out.setdefault(int(parts["epoch"]), {}).setdefault(parts["split"], [])
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            ids.extend(json.loads(line)["doc_id"] for line in fh)
    return out


def stream_export(ctx: Context) -> Result:
    from pyspark.sql import types as T

    from dbd_datawarehouse_scraper_spark.caching import release_caches
    from dbd_datawarehouse_scraper_spark.streaming import file_stream
    from dbd_datawarehouse_scraper_spark.streaming.export import (
        stream_export_training_set,
    )

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    progress, walls, live, state, flow = [], [], [], [], []

    def run_stream(i: int) -> None:
        # files are staged before the clock starts
        base = os.path.join(ctx.work, f"stream{i}")
        manifest = datagen.write_stream_epochs(
            ctx.seed + i, f"{base}/in", STREAM_EPOCHS, STREAM_DOCS_PER_EPOCH, STREAM_DUP_FRAC)
        res.attempted += STREAM_EPOCHS
        try:
            t0 = time.perf_counter()
            with tr.span("streaming.export.stream_export_training_set"):
                q = stream_export_training_set(
                    file_stream(spark, f"{base}/in", schema, max_files_per_trigger=1),
                    f"{base}/out", f"{base}/state", f"{base}/checkpoint",
                    keep_langs=("en", "de", "fr", "es", "zh", "und"),
                    min_quality=0.0,
                    segment_dedup_opts={"mode": "chunk", "k": 8, "min_docs": 2},
                    split_fractions=STREAM_SPLITS,
                    available_now=True,
                )
                q.awaitTermination()
            walls.append(time.perf_counter() - t0)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress.extend(q.recentProgress)
            state.append(dir_stats(f"{base}/state"))
            with tr.span("caching.release_caches"):
                release_caches()
            live.append(caching_counts())
            exported = read_export(f"{base}/out")
            for e, m in manifest.items():
                n_out = sum(len(ids) for ids in exported.get(e, {}).values())
                flow.append((m["rows"], n_out))
            for e in manifest:
                problems = check_stream({e: manifest[e]}, exported)
                if problems:
                    res.fail("; ".join(problems))
        except Exception:
            res.fail(traceback.format_exc())

    closed_loop(ctx.seconds, 1, run_stream)
    epochs = [p for p in progress if p.get("numInputRows")]
    if walls and epochs:
        docs = sum(p["numInputRows"] for p in epochs)
        res.ops([p["durationMs"]["triggerExecution"] / 1e3 for p in epochs], docs / sum(walls))
        res.layers["stream.docs_per_s"] = res.metrics["throughput_per_s"]
        res.layers["stream.epoch_p50_s"] = res.metrics["op_p50_s"]
        for key in ("addBatch", "queryPlanning", "getBatch", "walCommit"):
            res.layers[f"stream.progress.{key}_ms"] = (
                statistics.median(p["durationMs"].get(key, 0) for p in epochs), "ms")
    if state:
        res.layers["stream.state_files"] = (state[-1][0], "count")
        res.layers["stream.state_bytes"] = (state[-1][1], "B")
        res.layers["sinks.files_written"] = (state[-1][0], "count")
        res.layers["sinks.bytes_written"] = (state[-1][1], "B")
    if live:
        res.layers["caching.live_persists_after_op"] = (max(p for p, _ in live), "count")
        res.layers["caching.live_scratch_after_op"] = (max(s for _, s in live), "count")
    for e, (n_in, n_out) in enumerate(flow[:STREAM_EPOCHS]):
        res.layers[f"stream.epoch{e}.rows_in"] = (n_in, "count")
        res.layers[f"stream.epoch{e}.rows_out"] = (n_out, "count")
        res.layers[f"stream.epoch{e}.rows_dropped"] = (n_in - n_out, "count")
    if flow:
        res.layers["stream.rows_out_per_row_in"] = (
            sum(o for _, o in flow) / sum(i for i, _ in flow), "ratio")

    def reduce(records, by_name, log: EventLog) -> None:
        batches: dict[str, list[int]] = {}
        for jid, job in log.jobs.items():
            if job["batch_id"] is not None:
                batches.setdefault(job["batch_id"], []).append(jid)
        per = []
        for p in epochs:
            jobs = batches.get(str(p["batchId"]), [])
            tot = log.job_totals(jobs)
            wall = p["durationMs"]["triggerExecution"] / 1e3
            per.append((tot["jobs"], tot["tasks"], wall - log.covered_s(jobs),
                        tot["executor_cpu_s"]))
        if per:
            for idx, (key, unit) in enumerate((("jobs_per_epoch", "count"),
                                               ("tasks_per_epoch", "count"),
                                               ("driver_gap_per_epoch_s", "s"),
                                               ("executor_cpu_per_epoch_s", "s"))):
                res.layers[f"stream.{key}"] = (statistics.median(x[idx] for x in per), unit)

    res.reduce = reduce
    return res


def check_stream(manifest: dict[int, dict], exported: dict[int, dict[str, list[int]]]) -> list[str]:
    """Per-epoch row accounting of one export (empty when correct).

    The gates are permissive and fresh documents are distinct, so each
    epoch must keep exactly its fresh rows and drop exactly its planted
    duplicates: rows in = rows out + rows dropped with dropped =
    planted, and every survivor lands in exactly one split.
    """
    problems = []
    for e, m in manifest.items():
        first = e * STREAM_DOCS_PER_EPOCH
        ids_in = set(range(first, first + m["rows"]))
        planted = set(m["planted"])
        splits = exported.get(e, {})
        out = [i for ids in splits.values() for i in ids]
        if len(out) != len(set(out)):
            problems.append(f"epoch {e}: a survivor appears in more than one split or shard")
        out = set(out)
        if not out <= ids_in:
            problems.append(f"epoch {e}: {len(out - ids_in)} exported ids not in the epoch")
        if out & planted:
            problems.append(f"epoch {e}: {len(out & planted)} planted duplicates survived")
        dropped = ids_in - out
        if len(out) + len(dropped) != m["rows"] or dropped != planted:
            problems.append(
                f"epoch {e}: in {m['rows']}, out {len(out)}, dropped {len(dropped)}, "
                f"planted {len(planted)}"
            )
    return problems


WORKLOADS = {"scrape": scrape, "registry": registry, "stream_export": stream_export}
