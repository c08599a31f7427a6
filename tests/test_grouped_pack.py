"""Grouped shard packing: ``pack_shards(group_col=...)`` and
``pack_epoch(split_col=...)`` pack several splits' shard streams in one
pass. Each split must get exactly the shards and cursor it gets when
packed alone, an empty split still gets its epoch dir and cursor, and
a crash that promoted some splits' cursors but not others replays to
the state of an uninterrupted run."""

import ast
import random
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.caching import release_caches
from dbd_datawarehouse_scraper_spark.operators.packing import apply_pack_stage
from dbd_datawarehouse_scraper_spark.operators.sharding import (
    pack_shards,
    shuffle_order_key,
)
from dbd_datawarehouse_scraper_spark.streaming import sharding
from dbd_datawarehouse_scraper_spark.streaming.sharding import (
    _read_cursor,
    pack_epoch,
)

from .test_epoch_runner import PKG, _tree_digest

SPLITS = ("a", "b", "c")
SCHEMA = "doc_id long, text string, n_tokens long, split string"


def _docs(spark, seed: int, lo: int, n: int, splits=("a", "b")):
    """``n`` random docs with ids from ``lo``, spread over ``splits``;
    ``n_tokens`` is the whitespace token count of ``text``."""
    rng = random.Random(seed)
    rows = []
    for i in range(lo, lo + n):
        k = rng.randint(1, 40)
        rows.append((i, " ".join(f"t{rng.randint(0, 9)}" for _ in range(k)), k,
                     rng.choice(splits)))
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize("variant", ["plain", "shuffle_salt", "pack_opts"])
def test_grouped_pass_matches_per_split_pack(spark, variant):
    """Random docs over splits a and b, with c empty: the grouped pass
    (fewer range partitions than splits need, so partitions straddle
    splits) gives every doc the shard that a per-split pack_shards
    from the same start offset gives it."""
    docs = _docs(spark, 11, 0, 300)
    starts = {"a": 1234, "b": 0, "c": 77}
    budget = 200
    order = "_key" if variant == "shuffle_salt" else "doc_id"

    def with_key(df):
        if variant == "shuffle_salt":
            df = df.withColumn(order, shuffle_order_key("doc_id", "s1"))
        return df

    def split_rows(label):
        sub = docs.filter(F.col("split") == label).drop("split")
        if variant == "pack_opts":
            sub = apply_pack_stage(
                sub, "doc_id", "text", {"context": 64}, id_prefix="0#"
            )
        return sub

    per_split = {}
    for label in SPLITS:
        for r in pack_shards(
            with_key(split_rows(label)), budget=budget, order_col=order,
            start_offset=starts[label],
        ).collect():
            per_split[(label, r["doc_id"])] = r["shard"]
        release_caches()

    grouped_in = docs
    if variant == "pack_opts":
        # as the exporter does: sequences are packed per split
        grouped_in = reduce(
            DataFrame.unionByName,
            [split_rows(lb).withColumn("split", F.lit(lb)) for lb in SPLITS],
        )
    grouped = {
        (r["split"], r["doc_id"]): r["shard"]
        for r in pack_shards(
            with_key(grouped_in), budget=budget, order_col=order,
            start_offset=starts,
            group_col="split", num_partitions=3,
        ).collect()
    }
    release_caches()
    assert grouped == per_split
    assert {label for label, _ in grouped} == {"a", "b"}
    first_a = min(s for (label, _), s in grouped.items() if label == "a")
    assert first_a == starts["a"] // budget


def _epoch(spark, batch, epoch_id, out, state):
    pack_epoch(
        spark, batch, epoch_id, out, state, budget=150, fmt="jsonl",
        fold_output_after=None, split_col="split", splits=SPLITS,
    )


def test_crash_between_split_cursor_promotions_replays(spark, tmp_path, monkeypatch):
    """Epoch 1 crashes after split a's cursor is promoted and before
    split b's is: the replay repacks a from its recorded start and b
    from its previous cursor, and the whole output and state equal an
    uninterrupted run."""
    e0 = _docs(spark, 1, 0, 120, splits=SPLITS)
    e1 = _docs(spark, 2, 120, 120, splits=SPLITS)
    ref = tmp_path / "ref"
    for e, batch in enumerate((e0, e1)):
        _epoch(spark, batch, e, str(ref / "out"), str(ref / "state"))

    got = tmp_path / "got"
    out, state = str(got / "out"), str(got / "state")
    _epoch(spark, e0, 0, out, state)
    real = sharding.fs_write_json_row

    def crash_at_b(spark_, path, schema, row):
        if path == f"{state}/split=b/cursor-epoch-1":
            raise RuntimeError("injected crash between cursor promotions")
        return real(spark_, path, schema, row)

    monkeypatch.setattr(sharding, "fs_write_json_row", crash_at_b)
    with pytest.raises(RuntimeError, match="injected crash"):
        _epoch(spark, e1, 1, out, state)
    monkeypatch.setattr(sharding, "fs_write_json_row", real)
    assert _read_cursor(spark, f"{state}/split=a")["epoch_id"] == 1
    assert _read_cursor(spark, f"{state}/split=b")["epoch_id"] == 0
    _epoch(spark, e1, 1, out, state)
    assert _tree_digest(str(got)) == _tree_digest(str(ref))


def test_empty_split_gets_epoch_dir_and_unmoved_cursor(spark, tmp_path):
    """A split with no rows in an epoch still gets its epoch dir, and
    its cursor is promoted for the epoch with next_offset equal to the
    start (advanced by 0)."""
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    _epoch(spark, _docs(spark, 3, 0, 80, splits=SPLITS), 0, out, state)
    c0 = _read_cursor(spark, f"{state}/split=c")
    assert c0["next_offset"] > 0
    _epoch(spark, _docs(spark, 4, 80, 80, splits=("a", "b")), 1, out, state)
    c1 = _read_cursor(spark, f"{state}/split=c")
    assert (c1["epoch_id"], c1["start_offset"], c1["next_offset"]) == (
        1, c0["next_offset"], c0["next_offset"],
    )
    assert (tmp_path / "out" / "split=c" / "epoch=1").is_dir()
    assert not list((tmp_path / "out" / "split=c" / "epoch=1").glob("shard=*"))


def test_export_has_no_per_split_pack_loop():
    """The exporter packs every split in one grouped pack_epoch call:
    a pack_epoch call inside a loop is the per-split pass (one range
    exchange, offsets broadcast and totals job per split) coming back."""
    tree = ast.parse((PKG / "streaming" / "export.py").read_text(encoding="utf-8"))
    calls, looped = 0, []

    def visit(node, in_loop):
        nonlocal calls
        if isinstance(node, ast.Call) and getattr(node.func, "id", "") == "pack_epoch":
            calls += 1
            if in_loop:
                looped.append(node.lineno)
        loop = isinstance(node, (ast.For, ast.While, ast.comprehension))
        for child in ast.iter_child_nodes(node):
            visit(child, in_loop or loop)

    visit(tree, False)
    assert calls == 1 and not looped, (calls, looped)
