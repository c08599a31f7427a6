"""Seeded inputs for the three workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files. Sizes never depend on the seed, only contents do,
so two seeds cost the engine the same work.

- ``write_tables``: the ten TPC-H-style tables the query registry reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column types and value domains of
  the engine's test tables.
- ``scrape_inputs``: the company registry the benchmark fetcher serves
  and the companies CSV the scrape workload ingests.
- ``write_stream_epochs``: per-epoch document files for the streaming
  export, later epochs carrying planted verbatim duplicates of epoch 0.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list the engine's test documents are drawn from.
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64

# Rows per registry table, the engine's sf0.01 test tables (a TPC-H-like
# shape: lineitem = 4 x orders = 40 x customer).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # another table's contents
    return np.random.default_rng([seed, sum(stream.encode())])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_documents(seed: int, n: int, stream: str = "documents") -> pa.Table:
    """``n`` word-salad documents; about 5 % are an earlier document's
    text plus the token ``dup`` (the near-duplicates dedup operators
    look for)."""
    rng = _rng(seed, stream)
    lengths = rng.integers(10, 100, n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(lengths[i]))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _tables(seed: int) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_li, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    adjectives = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": r.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
            ),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )

    r = _rng(seed, "orders")
    odate = _EPOCH_1995 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )

    r = _rng(seed, "lineitem")
    okeys = r.integers(0, n_ord, n_li)
    ship = odate[okeys] + r.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )

    r = _rng(seed, "events")
    offsets = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(r.integers(0, max(10, n_cust // 10), n_ev), pa.int64()),
            "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(r.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    out["documents"] = make_documents(seed, ROWS["documents"])

    r = _rng(seed, "embeddings")
    n_emb = ROWS["embeddings"]
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + r.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> list[str]:
    """Write the ten registry tables as ``<out_dir>/<name>.parquet``;
    returns their names."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)


# ---------------------------------------------------------------------------
# scrape
# ---------------------------------------------------------------------------


def reg_of(custkey: int) -> str:
    """Registry registration number of customer ``custkey``."""
    return f"0{custkey:012d}"


def registry_name(c_name: str) -> str:
    return f"บริษัท {c_name} จำกัด"


def scrape_inputs(
    seed: int, n_registry: int, sizes: list[int]
) -> tuple[list[tuple[str, str]], list[list[tuple[str, str, str]]]]:
    """(registry, chunks) for ``n_registry`` customers.

    The registry holds one company per customer. Chunk ``i`` is a list
    of ``sizes[i]`` input rows (company_name, registration_number or
    "", kind), drawn from distinct customers in seeded order, each with
    the input mix of the engine's entry point: 1/2 exact registry
    names, 1/4 exact names carrying their registration number, 1/8
    perturbed names (the fuzzy path), the rest absent from the
    registry. The seed chooses the customers and their kinds.
    """
    registry = [(reg_of(k), registry_name(f"Customer#{k:09d}")) for k in range(n_registry)]
    rng = _rng(seed, "scrape")
    keys = iter(rng.permutation(n_registry))
    chunks = []
    for size in sizes:
        mix = (["exact"] * (size // 2) + ["reg"] * (size // 4) + ["fuzzy"] * (size // 8))
        mix += ["unknown"] * (size - len(mix))
        rows = []
        for kind in rng.permutation(mix):
            k, kind = int(next(keys)), str(kind)
            c_name = f"Customer#{k:09d}"
            if kind == "fuzzy":
                rows.append((f"บริษัท {c_name} พิเศษ จำกัด", "", kind))
            elif kind == "unknown":
                rows.append((f"บริษัท ไม่มีจริง {k} จำกัด", "", kind))
            else:
                rows.append((registry_name(c_name), reg_of(k) if kind == "reg" else "", kind))
        chunks.append(rows)
    return registry, chunks


def write_companies_csv(companies: list[tuple[str, str, str]], path: str) -> str:
    """Header CSV (company_name, registration_number) the file source reads."""
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["company_name", "registration_number"])
        for name, reg, _kind in companies:
            w.writerow([name, reg])
    return path


# ---------------------------------------------------------------------------
# stream_export
# ---------------------------------------------------------------------------

STREAM_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_stream_epochs(
    seed: int, out_dir: str, epochs: int, docs_per_epoch: int, dup_frac: float
) -> dict[int, dict]:
    """One parquet file per epoch under ``out_dir`` (lexical order =
    epoch order). Epoch 0 is fresh documents; every later epoch plants
    ``dup_frac`` of its rows as verbatim copies of epoch-0 texts under
    new ids. Returns {epoch: {"rows": n, "planted": [doc ids]}}.

    Each fresh document gets a run of tokens unique to it, so fresh
    documents stay apart under near-duplicate detection and only the
    planted copies are duplicates.
    """
    os.makedirs(out_dir, exist_ok=True)
    base = make_documents(seed, docs_per_epoch * epochs, stream="stream").column("text")
    base = [t.removesuffix(" dup") for t in base.to_pylist()]
    rng = _rng(seed, "stream-dups")
    epoch0: list[str] = []
    manifest: dict[int, dict] = {}
    for e in range(epochs):
        ids, texts, planted = [], [], []
        n_dup = 0 if e == 0 else int(docs_per_epoch * dup_frac)
        for i in range(docs_per_epoch):
            doc_id = e * docs_per_epoch + i
            if i < n_dup:
                text = epoch0[int(rng.integers(0, len(epoch0)))]
                planted.append(doc_id)
            else:
                uniq = " ".join(f"u{doc_id}x{j}" for j in range(12))
                text = f"{uniq} {base[doc_id]}"
            ids.append(doc_id)
            texts.append(text)
        if e == 0:
            epoch0 = texts
        table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts},
                         schema=STREAM_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"epoch-{e:04d}.parquet"))
        manifest[e] = {"rows": len(ids), "planted": planted}
    return manifest
