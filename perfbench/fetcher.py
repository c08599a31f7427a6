"""The benchmark's stand-in for the registry web site.

``IndexedDbdFetcher`` answers exactly as the engine's ``FakeDbdFetcher``
does (substring search, 10 results per page, a redirect on a single
hit, the profile-prefix cascade, arithmetic financial values with
``"-"`` placeholders), but through a trigram index built once per
worker process instead of a scan of the registry on every request. A
scan makes the fake site, not the engine, the cost of a large scrape.

Every fetcher counts its requests; on ``close`` it appends the counts
to a file under ``counts_dir`` so the Spark driver process can total them.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Any

from dbd_datawarehouse_scraper_spark.sources.http_fetch import (
    BALANCE_TABLE,
    INCOME_TABLE,
)

RESULTS_PER_PAGE = 10
PREFIXES = ("5", "7", "6", "3", "")
_REG_TAIL = re.compile(r"(0\d{12})$")


class RegistryIndex:
    """Trigram index over the display names of a sorted registry."""

    def __init__(self, registry: list[tuple[str, str]]):
        self.rows = sorted(registry)
        self.name_of = dict(self.rows)
        self.grams: dict[str, set[int]] = {}
        for i, (_, disp) in enumerate(self.rows):
            for j in range(len(disp) - 2):
                self.grams.setdefault(disp[j : j + 3], set()).add(i)
        self._hits: dict[str, list[tuple[str, str]]] = {}

    def hits(self, term: str) -> list[tuple[str, str]]:
        """Registry rows whose display contains ``term``, in registry order."""
        found = self._hits.get(term)
        if found is not None:
            return found
        if not term:
            found = []
        elif len(term) < 3:
            found = [row for row in self.rows if term in row[1]]
        else:
            postings = sorted(
                (self.grams.get(term[j : j + 3], set()) for j in range(len(term) - 2)),
                key=len,
            )
            ids = set(postings[0])
            for p in postings[1:]:
                if len(ids) <= 1:
                    break
                ids &= p
            found = [self.rows[i] for i in sorted(ids) if term in self.rows[i][1]]
        self._hits[term] = found
        return found


# One index per registry per worker process: Python workers are reused
# across tasks, and the factory is unpickled afresh in every task.
_INDEXES: dict[tuple, RegistryIndex] = {}


def valid_prefix(reg: str) -> str:
    """The one profile-URL prefix under which ``reg``'s page exists."""
    return PREFIXES[int(reg[-1]) % 5]


def financial_values(
    reg: str, income_fields, balance_fields, years
) -> dict[str, list[tuple[str, dict[int, str]]]]:
    """The profile tables the site serves for ``reg``."""
    seed = int(reg[-6:]) + 7
    tables: dict[str, list] = {}
    for table, fields in ((INCOME_TABLE, income_fields), (BALANCE_TABLE, balance_fields)):
        rows = []
        for fi, field in enumerate(fields):
            by_year = {}
            for yi, year in enumerate(years):
                if (seed + fi + yi) % 11 == 0:
                    by_year[year] = "-"
                else:
                    v = (seed * (fi + 3) * (yi + 2)) % 10_000_000
                    by_year[year] = f"{v:,}.{seed % 100:02d}"
            rows.append((field, by_year))
        tables[table] = rows
    return tables


class IndexedDbdFetcher:
    """``sources.http_fetch.Fetcher`` over a shared ``RegistryIndex``."""

    def __init__(
        self,
        index: RegistryIndex,
        income_fields: tuple[str, ...],
        balance_fields: tuple[str, ...],
        years: tuple[int, ...] = (2566, 2565, 2564),
        counts_dir: str | None = None,
    ):
        self.index = index
        self.income_fields = income_fields
        self.balance_fields = balance_fields
        self.years = years
        self.counts_dir = counts_dir
        self.search_calls = 0
        self.profile_calls = 0

    def search(self, term: str, page: int) -> dict[str, Any]:
        self.search_calls += 1
        hits = self.index.hits(term)
        if len(hits) == 1:
            return {"redirect": hits[0], "lines": [], "total_pages": 1}
        per = RESULTS_PER_PAGE
        first = (page - 1) * per
        lines = [
            f"{first + i + 1} {reg} {disp}"
            for i, (reg, disp) in enumerate(hits[first : first + per])
        ]
        return {"redirect": None, "lines": lines, "total_pages": max(1, -(-len(hits) // per))}

    def profile(self, prefixed_reg: str) -> dict[str, Any] | None:
        self.profile_calls += 1
        m = _REG_TAIL.search(prefixed_reg)
        if not m:
            return None
        reg = m.group(1)
        if reg not in self.index.name_of:
            return None
        if prefixed_reg[: -len(reg)] != valid_prefix(reg):
            return None
        return {
            "tables": financial_values(
                reg, self.income_fields, self.balance_fields, self.years
            )
        }

    def close(self) -> None:
        if self.counts_dir is None:
            return
        path = os.path.join(self.counts_dir, f"{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump({"search": self.search_calls, "profile": self.profile_calls}, f)


class FetcherFactory:
    """Picklable ``fetcher_factory`` for ``scrape_pipeline``."""

    def __init__(self, registry, income_fields, balance_fields, counts_dir=None):
        self.registry = list(registry)
        self.key = (len(self.registry), hash(tuple(self.registry)))
        self.income_fields = tuple(income_fields)
        self.balance_fields = tuple(balance_fields)
        self.counts_dir = counts_dir

    def __call__(self) -> IndexedDbdFetcher:
        index = _INDEXES.get(self.key)
        if index is None:
            index = _INDEXES[self.key] = RegistryIndex(self.registry)
        return IndexedDbdFetcher(
            index, self.income_fields, self.balance_fields, counts_dir=self.counts_dir
        )


def read_counts(counts_dir: str) -> dict[str, int]:
    """Sum and remove the request counts written under ``counts_dir``."""
    total = {"search": 0, "profile": 0}
    for name in os.listdir(counts_dir):
        path = os.path.join(counts_dir, name)
        with open(path) as f:
            rec = json.load(f)
        os.remove(path)
        for k in total:
            total[k] += rec[k]
    return total
