"""The benchmark fetcher answers exactly as the engine's FakeDbdFetcher.

Run from the repository root:

    python3 -m pytest perfbench/test_fetcher.py -q -p no:cacheprovider

Every search term the sf0.01-sized scrape generates (1 500 registry
companies, the benchmark's input mix) is asked of both fetchers, page
by page, and every registry number under every profile prefix.
"""

from __future__ import annotations

import pytest

from dbd_datawarehouse_scraper_spark.config import load_config
from dbd_datawarehouse_scraper_spark.sources.http_fetch import FakeDbdFetcher

from perfbench import datagen
from perfbench.fetcher import PREFIXES, FetcherFactory

N_REGISTRY = 1_500
SEED = 7


@pytest.fixture(scope="module")
def setup():
    conf = load_config()
    income = tuple(conf["extraction"]["income_fields"])
    balance = tuple(conf["extraction"]["balance_fields"])
    registry, chunks = datagen.scrape_inputs(SEED, N_REGISTRY, [N_REGISTRY])
    fake = FakeDbdFetcher(registry, income_fields=income, balance_fields=balance)
    ours = FetcherFactory(registry, income, balance)()
    return registry, chunks[0], fake, ours


@pytest.fixture(scope="module")
def terms(setup):
    from dbd_datawarehouse_scraper_spark import get_spark
    from dbd_datawarehouse_scraper_spark.functions.search_terms import add_search_terms

    _, companies, _, _ = setup
    spark = get_spark(app_name="perfbench-test", master="local[2]",
                      **{"spark.sql.shuffle.partitions": "4"})
    names = [(name,) for name, reg, _ in companies if not reg]
    df = add_search_terms(spark.createDataFrame(names, "company_name string"))
    out = sorted({t for row in df.select("terms").collect() for t in row["terms"] or []})
    return out


def test_every_generated_term_pages_identically(setup, terms):
    _, _, fake, ours = setup
    assert len(terms) > 1_000
    for term in terms + ["", "Customer#00000", "บริษัท", "จำกัด", "ab"]:
        first = fake.search(term, 1)
        assert ours.search(term, 1) == first, term
        for page in range(2, first["total_pages"] + 2):
            assert ours.search(term, page) == fake.search(term, page), (term, page)


def test_every_profile_url_answers_identically(setup):
    registry, _, fake, ours = setup
    regs = [reg for reg, _ in registry] + ["0999999999999", "12345", ""]
    for reg in regs:
        for prefix in PREFIXES + ("9",):
            assert ours.profile(f"{prefix}{reg}") == fake.profile(f"{prefix}{reg}"), (prefix, reg)


def test_requests_are_counted(setup):
    _, _, _, ours = setup
    before = (ours.search_calls, ours.profile_calls)
    ours.search("Customer#000000001", 1)
    ours.profile("50000000000001")
    assert (ours.search_calls, ours.profile_calls) == (before[0] + 1, before[1] + 1)
