"""Incremental link-graph epoch store (streaming/link_graph.py):
cross-epoch edge striking, replay idempotence, reset-ahead refusal,
rank refresh equal to batch PageRank over the union, commit-marker
discipline, and the foreachBatch wrapper end-to-end."""

import tempfile

import pytest
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.caching import release_caches
from dbd_datawarehouse_scraper_spark.streaming import file_stream
from dbd_datawarehouse_scraper_spark.streaming.link_graph import (
    current_ranks,
    link_graph_epoch,
    page_link_edges,
    refresh_ranks,
    stored_edges,
    stream_link_graph,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_epoch_striking_and_stored_union(spark):
    work = tempfile.mkdtemp(prefix="lg_") + "/store"
    e0 = [("a", "b"), ("b", "c"), ("a", "b")]          # dup inside epoch
    e1 = [("a", "b"), ("c", "d"), ("c", None), ("x", "x")]  # seen + junk
    s0 = link_graph_epoch(spark, _edges(spark, e0), 0, work)
    assert s0 == {"n_batch_edges": 2, "n_new_edges": 2}
    s1 = link_graph_epoch(spark, _edges(spark, e1), 1, work)
    # null dst and self-loop dropped pre-count; (a,b) struck vs history
    assert s1 == {"n_batch_edges": 2, "n_new_edges": 1}
    got = sorted(
        (r["src"], r["dst"]) for r in stored_edges(spark, work).collect()
    )
    assert got == [("a", "b"), ("b", "c"), ("c", "d")]


def test_replay_idempotent(spark):
    work = tempfile.mkdtemp(prefix="lg_replay_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b")]), 0, work)
    link_graph_epoch(spark, _edges(spark, [("b", "c"), ("a", "b")]), 1, work)
    before = sorted(map(tuple, stored_edges(spark, work).collect()))
    # replay of the max epoch (the only legitimate replay) rewrites
    # its own dir with identical content
    link_graph_epoch(spark, _edges(spark, [("b", "c"), ("a", "b")]), 1, work)
    after = sorted(map(tuple, stored_edges(spark, work).collect()))
    assert before == after == [("a", "b"), ("b", "c")]


def test_reset_ahead_refusal_and_missing_marker(spark):
    work = tempfile.mkdtemp(prefix="lg_reset_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b")]), 5, work)
    with pytest.raises(ValueError, match="above the current epoch"):
        link_graph_epoch(spark, _edges(spark, [("c", "d")]), 1, work)
    # a store dir without a format marker refuses instead of guessing
    import os

    bare = tempfile.mkdtemp(prefix="lg_bare_") + "/store"
    os.makedirs(f"{bare}/edges/epoch=0")
    with pytest.raises(ValueError, match="no format marker"):
        link_graph_epoch(spark, _edges(spark, [("a", "b")]), 1, bare)
    with pytest.raises(ValueError, match="missing format marker"):
        stored_edges(spark, bare)


def test_refresh_ranks_matches_batch_pagerank(spark):
    from dbd_datawarehouse_scraper_spark.operators.graph import pagerank

    work = tempfile.mkdtemp(prefix="lg_rank_") + "/store"
    e0 = [("a", "b"), ("b", "c"), ("c", "a")]
    e1 = [("d", "a"), ("e", "a"), ("a", "f")]
    link_graph_epoch(spark, _edges(spark, e0), 0, work)
    link_graph_epoch(spark, _edges(spark, e1), 1, work)
    with pytest.raises(ValueError, match="refresh_ranks first"):
        current_ranks(spark, work)
    meta = refresh_ranks(spark, work, max_iter=12)
    assert meta["as_of_epoch"] == 1 and meta["n_edges"] == 6
    assert meta["n_nodes"] == 6 and meta["damping"] == 85

    ranks, meta2 = current_ranks(spark, work)
    assert meta2 == meta
    got = {r["id"]: r["rank_q"] for r in ranks.collect()}
    want_df = pagerank(_edges(spark, e0 + e1), max_iter=12)
    want = {r["id"]: r["rank_q"] for r in want_df.collect()}
    release_caches()
    assert got == want  # bit-exact: refresh IS the batch rank


def test_page_link_edges_by_domain_and_url(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://a.test/p/1",
                ["https://b.test/x", "HTTPS://a.test/self", "https://c.test/"],
            )
        ],
        "url string, links array<string>",
    )
    dom = sorted(
        map(tuple, page_link_edges(pages).collect())
    )
    # host-keyed; scheme case does not leak into the host key
    assert dom == [("a.test", "a.test"), ("a.test", "b.test"), ("a.test", "c.test")]
    by_url = sorted(map(tuple, page_link_edges(pages, by_domain=False).collect()))
    assert by_url[0] == ("https://a.test/p/1", "HTTPS://a.test/self")


def test_page_link_edges_relative_links_are_null_not_phantom(spark):
    """Relative and scheme-less links (the common shape in real WAT
    data) must NOT coin a '' phantom node — host extraction yields
    NULL, and the epoch ingest's null filter drops the edge (round-11
    advice: a '' node passed the filter and accumulated rank mass from
    every domain emitting relative links)."""
    pages = spark.createDataFrame(
        [
            (
                "https://a.test/p/1",
                ["/about", "img/logo.png", "//b.test/x", "https://c.test/y"],
            ),
            ("not-a-url", ["https://d.test/z"]),
        ],
        "url string, links array<string>",
    )
    rows = page_link_edges(pages).collect()
    # relative links → NULL dst; malformed page url → NULL src;
    # protocol-relative (//host) has no scheme → NULL under this
    # extractor too (the WAT source emits absolute URLs)
    assert ("" not in {r["src"] for r in rows}) and (
        "" not in {r["dst"] for r in rows}
    )
    resolved = sorted(
        (r["src"], r["dst"])
        for r in rows
        if r["src"] is not None and r["dst"] is not None
    )
    assert resolved == [("a.test", "c.test")]
    # and through the store: only the resolved edge lands
    work = tempfile.mkdtemp(prefix="lg_rel_") + "/store"
    s = link_graph_epoch(spark, page_link_edges(pages), 0, work)
    assert s["n_new_edges"] == 1
    got = sorted(map(tuple, stored_edges(spark, work).collect()))
    assert got == [("a.test", "c.test")]


def test_stream_wrapper_two_epochs_strike(spark):
    work = tempfile.mkdtemp(prefix="lg_stream_")
    src, store, ckpt = f"{work}/src", f"{work}/store", f"{work}/ckpt"
    schema = "url string, links array<string>"
    p1 = spark.createDataFrame(
        [("https://a.test/1", ["https://b.test/x", "https://c.test/y"])],
        schema,
    )
    p2 = spark.createDataFrame(
        [("https://a.test/2", ["https://b.test/z", "https://d.test/w"])],
        schema,
    )
    p1.coalesce(1).write.mode("append").parquet(src)
    q = stream_link_graph(
        file_stream(spark, src, p1.schema, max_files_per_trigger=1),
        store, ckpt,
    )
    assert q.awaitTermination(180)
    p2.coalesce(1).write.mode("append").parquet(src)
    q2 = stream_link_graph(
        file_stream(spark, src, p1.schema, max_files_per_trigger=1),
        store, ckpt,
    )
    assert q2.awaitTermination(180)
    got = sorted(map(tuple, stored_edges(spark, store).collect()))
    # (a.test, b.test) arrived in both epochs but is stored ONCE
    assert got == [
        ("a.test", "b.test"),
        ("a.test", "c.test"),
        ("a.test", "d.test"),
    ]
    e1 = sorted(
        map(
            tuple,
            spark.read.parquet(f"{store}/edges/epoch=1")
            .select("src", "dst")
            .collect(),
        )
    )
    assert e1 == [("a.test", "d.test")]  # the dup edge was struck


def test_refresh_on_empty_store_is_empty_not_crash(spark):
    work = tempfile.mkdtemp(prefix="lg_empty_") + "/store"
    link_graph_epoch(spark, _edges(spark, []), 0, work)
    meta = refresh_ranks(spark, work, max_iter=3)
    assert meta["n_edges"] == 0 and meta["n_nodes"] == 0
    ranks, _ = current_ranks(spark, work)
    assert ranks.count() == 0
    release_caches()


def test_refresh_ranks_with_seeds_demotes_unreachable(spark):
    """refresh_ranks(seeds=...) runs the TrustRank walk over the
    committed store: the unreachable clique holds exactly zero."""
    work = tempfile.mkdtemp(prefix="lg_seed_") + "/store"
    trusted = [("a", "b"), ("b", "c"), ("c", "a")]
    spam = [("x", "y"), ("y", "z"), ("z", "x")]
    link_graph_epoch(spark, _edges(spark, trusted + spam), 0, work)
    seeds = spark.createDataFrame([("a",)], "id string")
    meta = refresh_ranks(spark, work, max_iter=12, seeds=seeds)
    assert meta["n_nodes"] == 6
    ranks, _ = current_ranks(spark, work)
    got = {r["id"]: r["rank_q"] for r in ranks.collect()}
    release_caches()
    assert all(got[v] > 0 for v in ("a", "b", "c"))
    assert all(got[v] == 0 for v in ("x", "y", "z"))


def test_refresh_generations_never_torn(spark):
    """Each refresh lands a NEW ranks/gen=G dir and only then flips
    _meta; the generation the PREVIOUS marker named is untouched until
    the new marker commits (round-11 advice: the old in-place
    ranks/data overwrite destroyed the prior generation under a stale
    marker). Superseded generations are GC'd after commit."""
    from dbd_datawarehouse_scraper_spark.fsutil import fs_exists, fs_list_names

    work = tempfile.mkdtemp(prefix="lg_gen_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b"), ("b", "a")]), 0, work)
    m0 = refresh_ranks(spark, work, max_iter=5)
    assert m0["gen"] == 0
    assert fs_exists(spark, f"{work}/ranks/gen=0")
    link_graph_epoch(spark, _edges(spark, [("b", "c")]), 1, work)
    m1 = refresh_ranks(spark, work, max_iter=5)
    assert m1["gen"] == 1 and m1["as_of_epoch"] == 1
    # superseded generation deleted AFTER the new marker committed
    gens = [n for n in fs_list_names(spark, f"{work}/ranks") if n.startswith("gen=")]
    assert gens == ["gen=1"]
    ranks, meta = current_ranks(spark, work)
    assert meta["gen"] == 1 and ranks.count() == 3
    release_caches()


def test_refresh_as_of_skips_uncommitted_epoch(spark):
    """as_of_epoch reads only COMMITTED epoch dirs (_SUCCESS): a torn,
    not-yet-replayed ingest dir is neither read nor advertised
    (round-11 advice)."""
    import os

    work = tempfile.mkdtemp(prefix="lg_torn_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b")]), 0, work)
    # simulate a crash mid-ingest of epoch 1: dir exists, no _SUCCESS
    os.makedirs(f"{work}/edges/epoch=1/bucket=0")
    meta = refresh_ranks(spark, work, max_iter=3)
    assert meta["as_of_epoch"] == 0 and meta["n_edges"] == 1
    release_caches()


def test_big_batch_strike_path_matches_broadcast_path(spark):
    """Forcing the sort-merge anti-join path (broadcast_strike_max_rows
    = 0) yields the same stored relation as the default broadcast
    semi/anti path — the two strike strategies are plan choices, not
    semantics."""
    e0 = [("a", "b"), ("b", "c"), ("c", "d")]
    e1 = [("a", "b"), ("d", "e"), ("b", "c"), ("e", "f")]
    stores = []
    for rows_cap in (10**6, 0):
        work = tempfile.mkdtemp(prefix=f"lg_path{rows_cap}_") + "/store"
        link_graph_epoch(
            spark, _edges(spark, e0), 0, work,
            broadcast_strike_max_rows=rows_cap,
        )
        s = link_graph_epoch(
            spark, _edges(spark, e1), 1, work,
            broadcast_strike_max_rows=rows_cap,
        )
        assert s == {"n_batch_edges": 4, "n_new_edges": 2}
        stores.append(sorted(map(tuple, stored_edges(spark, work).collect())))
    assert stores[0] == stores[1] == [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
    ]


def test_store_pins_n_buckets_and_refuses_v1_marker(spark):
    """The marker pins the bucketing: a later epoch ingested with a
    different n_buckets argument uses the STORE's count (bucket values
    must agree across epochs or striking silently duplicates). A
    pre-bucketing (v1) marker refuses with the wipe hint."""
    import json
    import os

    work = tempfile.mkdtemp(prefix="lg_pin_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b")]), 0, work, n_buckets=8)
    # different caller default later: store's 8 wins — the dup is struck
    s = link_graph_epoch(
        spark, _edges(spark, [("a", "b"), ("b", "c")]), 1, work, n_buckets=64
    )
    assert s["n_new_edges"] == 1
    row = spark.read.json(f"{work}/format").head()
    assert row["n_buckets"] == 8 and row["format_version"] == 2

    old = tempfile.mkdtemp(prefix="lg_v1_") + "/store"
    os.makedirs(old)
    with open(f"{old}/format", "w") as f:
        f.write(json.dumps({"format_version": 1, "directed": 1}) + "\n")
    with pytest.raises(ValueError, match="wipe the store and re-ingest"):
        link_graph_epoch(spark, _edges(spark, [("a", "b")]), 0, old)


def test_read_paths_refuse_v1_store(spark):
    """The READ paths run the same marker handshake as ingest: a v1
    (pre-bucketing) store must refuse loudly from stored_edges /
    refresh_ranks / current_ranks too — its epoch dirs carry no
    bucket= partitions, so a bare existence check read it as an EMPTY
    edge relation (and refresh then committed an empty rank generation
    advertising the real max epoch) — round-12 review finding."""
    import json
    import os

    old = tempfile.mkdtemp(prefix="lg_v1read_") + "/store"
    os.makedirs(f"{old}/edges/epoch=0")
    with open(f"{old}/edges/epoch=0/_SUCCESS", "w"):
        pass
    with open(f"{old}/format", "w") as f:
        f.write(json.dumps({"format_version": 1, "directed": 1}) + "\n")
    for fn in (stored_edges, refresh_ranks, current_ranks):
        with pytest.raises(ValueError, match="wipe the store and re-ingest"):
            fn(spark, old)


def test_replay_truncates_under_dynamic_overwrite_mode(spark):
    """Replaying an epoch whose corrected batch occupies FEWER buckets
    must truncate the old epoch dir, even when the ambient session
    default is partitionOverwriteMode=dynamic (a common cluster-wide
    setting for other jobs): the write pins static mode per-write, or
    stale bucket dirs would survive as phantom committed edges
    (round-12 review finding)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    work = tempfile.mkdtemp(prefix="lg_dyn_") + "/store"
    wide = [(f"s{i}", f"d{i}") for i in range(20)]
    try:
        spark.conf.set(key, "dynamic")
        link_graph_epoch(spark, _edges(spark, wide), 0, work, n_buckets=4)
        # precondition: the wide batch occupies strictly more buckets
        # than the single-edge replay, so dynamic overwrite WOULD keep
        # at least one stale bucket dir
        buckets = {
            r[0]
            for r in _edges(spark, wide)
            .select(F.pmod(F.xxhash64("src", "dst"), F.lit(4)).cast("int"))
            .distinct()
            .collect()
        }
        assert len(buckets) > 1
        link_graph_epoch(
            spark, _edges(spark, [("s0", "d0")]), 0, work, n_buckets=4
        )
        got = sorted(map(tuple, stored_edges(spark, work).collect()))
        assert got == [("s0", "d0")]
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("off", [None, 0])
def test_crash_mid_fold_swap_recovers_with_folding_off(spark, off):
    """A crash between the fold swap's two renames leaves the store
    moved aside (``edges.__fold_old__``). Resuming with folding off
    (``None`` or ``0`` — both mean "recover, never fold") must still
    recover it: the history is read, so a re-sent edge is struck, and
    no committed epoch is left stranded for a later fold to drop."""
    import os

    work = tempfile.mkdtemp(prefix="lg_foldcrash_") + "/store"
    link_graph_epoch(spark, _edges(spark, [("a", "b")]), 0, work, fold_store_after=off)
    link_graph_epoch(spark, _edges(spark, [("b", "c")]), 1, work, fold_store_after=off)
    os.rename(f"{work}/edges", f"{work}/edges.__fold_old__")
    s2 = link_graph_epoch(
        spark, _edges(spark, [("a", "b"), ("c", "d")]), 2, work,
        fold_store_after=off,
    )
    assert s2 == {"n_batch_edges": 2, "n_new_edges": 1}
    got = sorted(map(tuple, stored_edges(spark, work).collect()))
    assert got == [("a", "b"), ("b", "c"), ("c", "d")]
    assert not os.path.exists(f"{work}/edges.__fold_old__")
    # never folded: every committed epoch keeps its own dir
    names = sorted(n for n in os.listdir(f"{work}/edges") if n.startswith("epoch="))
    assert names == ["epoch=0", "epoch=1", "epoch=2"]
