"""Grouped shard packing: ``pack_shards(group_col=...)`` and
``pack_epoch(split_col=...)`` pack several splits' shard streams in one
pass, and the batch exporter packs every split in one grouped pass
too. Each split must get exactly the shards and cursor it gets when
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


@pytest.mark.parametrize("variant", ["plain", "shuffle_salt", "pack_opts"])
def test_batch_export_shard_placement(spark, sf_dir, tmp_path, variant):
    """The batch exporter's one grouped pass puts every exported row in
    the shard that an ungrouped pack_shards over its own split's
    exported rows gives it, in the same order key, with at least two
    shards per split; a split with no rows counts 0 and gets no dir."""
    from dbd_datawarehouse_scraper_spark.plans import export_training_set

    opts = {
        "plain": {},
        "shuffle_salt": {"shuffle_salt": "s1"},
        "pack_opts": {
            "chunk_opts": {"window": 32, "stride": 32, "min_tokens": 1},
            "pack_opts": {"context": 96},
        },
    }[variant]
    budget = 1500
    out = str(tmp_path / "out")
    counts = export_training_set(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), out,
        split_fractions={"train": 0.5, "val": 0.5, "test": 0.0},
        shard_token_budget=budget,
        curate_kwargs={"keep_langs": ("en", "de", "fr", "es", "zh", "und")},
        **opts,
    )
    release_caches()
    assert counts["test"] == 0
    assert not (tmp_path / "out" / "split=test").exists()
    for label in ("train", "val"):
        got = spark.read.json(f"{out}/split={label}").select(
            "doc_id", "n_tokens", "shard"
        )
        exported = {r["doc_id"]: r["shard"] for r in got.collect()}
        assert len(exported) == counts[label]
        assert max(exported.values()) >= 1, "fewer than two shards"
        ref_in, order = got.drop("shard"), "doc_id"
        if variant == "shuffle_salt":
            order = "_key"
            ref_in = ref_in.withColumn(order, shuffle_order_key("doc_id", "s1"))
        ref = {
            r["doc_id"]: r["shard"]
            for r in pack_shards(ref_in, budget=budget, order_col=order).collect()
        }
        release_caches()
        assert exported == ref, label


def _calls(tree, name):
    """Line numbers of the calls to ``name`` in ``tree``, and those of
    them that sit inside a loop or comprehension."""
    calls, looped = [], []
    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp,
             ast.DictComp, ast.GeneratorExp)

    def visit(node, in_loop):
        func = getattr(node, "func", None)
        if isinstance(node, ast.Call) and name in (
            getattr(func, "id", None), getattr(func, "attr", None)
        ):
            calls.append(node.lineno)
            if in_loop:
                looped.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, in_loop or isinstance(node, loops))

    visit(tree, False)
    return calls, looped


def test_export_has_no_per_split_pack_loop():
    """Each exporter packs every split in one grouped call: a packer
    call inside a loop is the per-split pass (one range exchange,
    offsets broadcast and totals job per split) coming back."""
    for module, packer in (
        ("streaming/export.py", "pack_epoch"),
        ("plans/training_export.py", "pack_shards"),
    ):
        tree = ast.parse((PKG / module).read_text(encoding="utf-8"))
        calls, looped = _calls(tree, packer)
        assert len(calls) == 1 and not looped, (module, calls, looped)


def test_sequence_pack_stage_called_from_one_function():
    """The per-split sequence-pack loop exists once: every call of
    apply_pack_stage in the package sits in the shared export tail."""
    callers = set()
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if fn.name != "apply_pack_stage" and _calls(fn, "apply_pack_stage")[0]:
                    callers.add((str(path.relative_to(PKG)), fn.name))
    assert callers == {("plans/training_export.py", "export_rows")}, callers
