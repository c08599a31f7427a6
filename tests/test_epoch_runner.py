"""The shared epoch runner (streaming/_store.py run_epochs), the one
fold-or-recover call, the one epoch-dir layout (_store.EpochDirs) and
the one declared format marker per store (_store.StoreMarker):
structural guards that no module re-grows its own stream writer,
recovery call, history listing, partitioned read or write, marker
handshake or (in queries.py) scratch-dir and two-epoch stream setup;
one marker-refusal test over the StoreMarker stores; and one
crash-replay test run against every ``foreachBatch`` wrapper.

The crash-replay test wraps the epoch function through ``run_epochs``
so that epoch 1 raises once AFTER its writes (a crash between the
store/output writes and Spark's checkpoint commit), restarts the
stream on the same checkpoint, and requires every output and store
row-for-row equal to an uninterrupted run. Its ``-fold`` variants run
every fold-capable wrapper with a fold threshold of 1, so epoch 1
folds epoch 0 (and its replay re-folds the folded generation)."""

import ast
import gzip
import hashlib
import importlib
import json
import os
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.fsutil import fs_read_json_row, fs_write_json_row
from dbd_datawarehouse_scraper_spark.streaming import _store, file_stream

PKG = Path(__file__).resolve().parents[1] / "dbd_datawarehouse_scraper_spark"


def _modules_matching(pattern: str) -> list[str]:
    return sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if re.search(pattern, p.read_text(encoding="utf-8"))
    )


def test_one_stream_writer_and_one_recovery_caller():
    """Every epoch store starts its stream through run_epochs and heals
    a crashed fold through fold_epoch_dirs: a module that builds its
    own writer or calls recovery itself is a copy that can drift."""
    assert _modules_matching(r"writeStream") == ["streaming/_store.py"]
    assert _modules_matching(r"recover_epoch_fold\(") == ["sources/sinks.py"]
    # the epoch-dir layout (history listing, partitioned read and
    # write, fold arguments) is spelled out only by EpochDirs
    for pattern in (
        r"committed_epochs_below\(",
        r'"basePath"',
        r"partitionOverwriteMode",
        r"fold_epoch_dirs\(",
    ):
        in_streaming = {
            m for m in _modules_matching(pattern) if m.startswith("streaming/")
        }
        assert in_streaming <= {"streaming/_store.py"}, (pattern, in_streaming)
    assert _modules_matching(r"epochs_with_partition_data|_epochs_with_data") == []


def _callers(tree: ast.Module) -> dict[str, set[str]]:
    """Called name (``f`` or ``x.f``) → the top-level functions that
    call it (``<module>`` for calls outside any function)."""
    out: dict[str, set[str]] = {}
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = (
                    f"{ast.unparse(f.value)}.{f.attr}"
                    if isinstance(f, ast.Attribute) else ast.unparse(f)
                )
                out.setdefault(name, set()).add(owner)
    return out


def test_one_scratch_harness_and_one_marker_per_store():
    """queries.py makes its temp dirs in ``_scratch`` (plus the IVF
    session memo, deleted at exit by design), drives its two-epoch
    streams through ``_two_epoch_stream`` (the one-epoch export query
    keeps its own), and never rebuilds a frame from its own collect
    (``_materialized`` does that as a LocalTableScan). Each epoch store
    that states its marker through StoreMarker declares it once."""
    tree = ast.parse((PKG / "queries.py").read_text(encoding="utf-8"))
    calls = _callers(tree)
    assert calls["tempfile.mkdtemp"] == {"_scratch", "_ivf_index"}
    for fn in ("file_stream", "await_or_die"):
        assert calls[fn] == {"_two_epoch_stream", "stream_export_hermetic_q"}, fn
    rebuilt = [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and len(node.args) >= 2
        and isinstance(node.args[0], ast.Call)
        and isinstance(node.args[0].func, ast.Attribute)
        and node.args[0].func.attr == "collect"
        and isinstance(node.args[1], ast.Attribute)
        and node.args[1].attr == "schema"
        and ast.dump(node.args[0].func.value) == ast.dump(node.args[1].value)
    ]
    assert rebuilt == []

    declared = {
        p.stem: p.read_text(encoding="utf-8").count("StoreMarker(")
        for p in (PKG / "streaming").glob("*.py")
    }
    assert {m for m, n in declared.items() if n} == set(MARKER_STORES)
    assert all(n <= 1 for n in declared.values()), declared
    assert _modules_matching(r"validate_or_init_marker|marker_positive_int") == []


# ---------------------------------------------------------------- cases

BOILER = "subscribe to our newsletter for weekly updates and special offers"


def _words(i: int, n: int = 30) -> str:
    return " ".join(f"w{(i * 7 + j * 3) % 101}" for j in range(n))


def _docs_epochs():
    """Two epochs of docs: epoch 1 carries an exact copy of an epoch-0
    doc, a near copy, a shared boilerplate passage and a long shared
    span, so every text store has history to strike against."""
    e0 = [(i, f"{_words(i)} {BOILER}") for i in range(6)]
    e1 = [
        (10, e0[0][1]),
        (11, _words(1) + " extra"),
        (12, f"{_words(12)} {BOILER}"),
        (13, _words(13)),
    ]
    return "doc_id long, text string", [e0, e1]


def _segments(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.segments import (
        stream_segment_dedup,
    )

    return stream_segment_dedup(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/store", ckpt, k=4, min_docs=2, **kw,
    )


def _substrings(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.substrings import (
        stream_substring_dedup,
    )

    return stream_substring_dedup(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/store", ckpt, min_len=8, min_docs=2, **kw,
    )


def _near_dedup(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.near_dedup import (
        stream_near_dedup,
    )

    return stream_near_dedup(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/store", ckpt, threshold=0.6, **kw,
    )


def _export(spark, src, schema, d, ckpt):
    from dbd_datawarehouse_scraper_spark.streaming.export import (
        stream_export_training_set,
    )

    return stream_export_training_set(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/state", ckpt,
        keep_langs=("en", "und"), min_quality=0.0,
        segment_dedup_opts={"mode": "chunk", "k": 4, "min_docs": 2},
        shard_token_budget=40,
    )


def _pack_epochs():
    return "doc_id long, n_tokens long", [
        [(i, 10 + (i * 7) % 40) for i in range(1, 21)],
        [(i, 10 + (i * 7) % 40) for i in range(21, 36)],
    ]


def _pack(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.sharding import (
        stream_pack_shards,
    )

    return stream_pack_shards(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/state", ckpt, budget=100, **kw,
    )


def _link_epochs():
    return "url string, links array<string>", [
        [("https://a.test/1", ["https://b.test/x", "https://c.test/y"]),
         ("https://b.test/2", ["https://c.test/z"])],
        [("https://a.test/3", ["https://b.test/w", "https://d.test/v"])],
    ]


def _link_graph(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.link_graph import (
        stream_link_graph,
    )

    return stream_link_graph(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/store", ckpt, **kw,
    )


def _vec_epochs():
    """Distinct directions (pairwise cosine well under the threshold),
    plus an exact copy of an epoch-0 vector in epoch 1."""

    def vec(i):
        return [float(np.cos(0.5 * i)), float(np.sin(0.5 * i)), 0.1]

    return "vec_id long, embedding array<float>", [
        [(i, vec(i)) for i in range(6)],
        [(10, vec(2))] + [(i, vec(i)) for i in range(6, 10)],
    ]


def _semantic(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.semantic import (
        stream_semantic_dedup,
    )

    return stream_semantic_dedup(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/store", ckpt,
        centers=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], threshold=0.95, **kw,
    )


def _png(seed: int, filter_type: int = 0) -> bytes:
    from dbd_datawarehouse_scraper_spark.multimodal.media import png_encode

    y, x = np.mgrid[0:24, 0:24]
    base = ((np.sin(x / 3.0 + seed) + np.cos(y / 4.0 + 2 * seed)) * 60 + 100)
    px = np.clip(np.stack([base, base, base[::-1]], axis=2), 0, 200)
    return png_encode(
        px.astype(np.uint8).tobytes(), 24, 24, channels=3,
        filter_type=filter_type,
    )


def _media_epochs():
    return "media_id long, payload binary", [
        [(1, _png(1)), (2, _png(4))],
        [(3, _png(1, filter_type=2)), (4, _png(7))],
    ]


def _image(spark, src, schema, d, ckpt, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.image_dedup import (
        stream_image_dedup,
    )

    return stream_image_dedup(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        f"{d}/out", f"{d}/store", ckpt, codec="png", **kw,
    )


def _two_sink(spark, src, schema, d, ckpt):
    from dbd_datawarehouse_scraper_spark.streaming.micro_batch import (
        two_sink_foreach_batch,
    )

    return two_sink_foreach_batch(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        F.col("doc_id") % 2 == 0, f"{d}/fact", f"{d}/reject", ckpt,
    )


#: wrapper module → (epoch data, stream start). The three heaviest
#: cases (about 25-45 s each on a 4-core VM) are marked slow.
CASES = {
    "segments": (_docs_epochs, _segments),
    "substrings": (_docs_epochs, _substrings),
    "near_dedup": (_docs_epochs, _near_dedup),
    "semantic": (_vec_epochs, _semantic),
    "image_dedup": (_media_epochs, _image),
    "sharding": (_pack_epochs, _pack),
    "link_graph": (_link_epochs, _link_graph),
    "micro_batch": (_docs_epochs, _two_sink),
    "export": (_docs_epochs, _export),
}
SLOW_CASES = {"segments", "near_dedup", "export"}

#: fold-capable wrapper → its fold-threshold keyword
FOLD_KW = {
    "segments": "fold_store_after",
    "substrings": "fold_store_after",
    "near_dedup": "fold_store_after",
    "semantic": "fold_store_after",
    "image_dedup": "fold_store_after",
    "sharding": "fold_output_after",
    "link_graph": "fold_store_after",
}


# ------------------------------------------------------------ hashing


def _rows(path: str) -> list[str]:
    if path.endswith(".parquet"):
        return [repr(sorted(r.items())) for r in pq.read_table(path).to_pylist()]
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        return [json.dumps(json.loads(line), sort_keys=True) for line in fh]


def _tree_digest(root: str, skip: tuple = ()) -> dict[str, str]:
    """Relative dir → sha256 over its sorted data rows and its marker
    file names (except those in ``skip``). Part-file names carry
    per-write ids, so rows are compared, not bytes; checksum files are
    skipped."""
    out = {}
    for d, _, files in os.walk(root):
        rows, marks = [], []
        for f in files:
            if f.startswith(".") or f in skip:
                continue
            if f.startswith("part-"):
                rows.extend(_rows(os.path.join(d, f)))
            else:
                marks.append(f)
        h = hashlib.sha256()
        for item in sorted(rows) + ["--"] + sorted(marks):
            h.update(item.encode() + b"\n")
        out[os.path.relpath(d, root)] = h.hexdigest()
    return out


# ------------------------------------------------------- crash replay


def _run_to_end(q) -> None:
    assert q.awaitTermination(300)
    assert q.exception() is None


@pytest.mark.parametrize(
    "case,fold",
    [
        pytest.param(
            c, fold, id=f"{c}-fold" if fold else c,
            marks=[pytest.mark.slow] if c in SLOW_CASES else [],
        )
        for fold, cases in ((False, CASES), (True, FOLD_KW))
        for c in cases
    ],
)
def test_crash_after_epoch_writes_replays_to_identical_state(
    spark, tmp_path, monkeypatch, case, fold
):
    epochs_of, start = CASES[case]
    mod = importlib.import_module(f"dbd_datawarehouse_scraper_spark.streaming.{case}")
    schema_ddl, epochs = epochs_of()
    src = str(tmp_path / "src")
    for rows in epochs:
        spark.createDataFrame(rows, schema_ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    kw = {FOLD_KW[case]: 1} if fold else {}

    ref = str(tmp_path / "ref")
    _run_to_end(start(spark, src, schema, ref, str(tmp_path / "ref_ckpt"), **kw))

    crashed = []
    real = _store.run_epochs

    def crash_once(stream_df, epoch_fn, checkpoint, available_now):
        def fn(batch_df, epoch_id):
            epoch_fn(batch_df, epoch_id)
            if epoch_id == 1 and not crashed:
                crashed.append(epoch_id)
                raise RuntimeError("injected crash after epoch 1's writes")

        return real(stream_df, fn, checkpoint, available_now)

    monkeypatch.setattr(mod, "run_epochs", crash_once)
    got, ckpt = str(tmp_path / "got"), str(tmp_path / "got_ckpt")
    q = start(spark, src, schema, got, ckpt, **kw)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    assert crashed == [1]
    # restart on the same checkpoint: epoch 1 replays over its own writes
    _run_to_end(start(spark, src, schema, got, ckpt, **kw))

    want = _tree_digest(ref)
    assert any("epoch=1" in k for k in want), want
    assert _tree_digest(got) == want
    if fold:
        assert any(
            "_FOLDED_GEN" in files for _, _, files in os.walk(ref)
        ), "epoch 1 did not fold epoch 0"
        # a fold of one epoch keeps its rows: apart from the fold
        # markers, outputs and stores equal a run that never folds
        monkeypatch.undo()
        off = str(tmp_path / "off")
        never = {FOLD_KW[case]: None}
        _run_to_end(start(spark, src, schema, off, str(tmp_path / "off_ckpt"), **never))
        skip = ("_FOLDED_GEN",)
        assert _tree_digest(ref, skip) == _tree_digest(off, skip)


# ---------------------------------------------------- marker refusals


def _docs_batch(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _open_segments(spark, d, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.segments import (
        segment_dedup_epoch,
    )

    segment_dedup_epoch(spark, _docs_batch(spark), 0, f"{d}/out", f"{d}/store", **kw)


def _open_substrings(spark, d, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.substrings import (
        substring_dedup_epoch,
    )

    substring_dedup_epoch(
        spark, _docs_batch(spark), 0, f"{d}/out", f"{d}/store", min_len=8, **kw
    )


def _open_near_dedup(spark, d, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.near_dedup import (
        near_dedup_epoch,
    )

    near_dedup_epoch(spark, _docs_batch(spark), 0, f"{d}/out", f"{d}/store", **kw)


def _open_image(spark, d, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.image_dedup import (
        image_dedup_epoch,
    )

    image_dedup_epoch(
        spark, spark.createDataFrame([], "media_id long, payload binary"), 0,
        f"{d}/out", f"{d}/store", codec="png", **kw,
    )


def _open_link_graph(spark, d, **kw):
    from dbd_datawarehouse_scraper_spark.streaming.link_graph import (
        link_graph_epoch,
    )

    link_graph_epoch(
        spark, spark.createDataFrame([], "src string, dst string"), 0,
        f"{d}/store", **kw,
    )


#: StoreMarker store module → (its noun, an epoch call that runs its
#: handshake on an empty batch, whether it has a bucket-count field)
MARKER_STORES = {
    "segments": ("segment store", _open_segments, False),
    "substrings": ("substring store", _open_substrings, False),
    "near_dedup": ("signature store", _open_near_dedup, True),
    "image_dedup": ("image-hash store", _open_image, False),
    "link_graph": ("link-graph store", _open_link_graph, True),
}


@pytest.mark.parametrize("case", list(MARKER_STORES))
def test_store_marker_refusals(spark, tmp_path, case):
    """Each declared marker refuses, in its store's own words: a
    reopened store whose marker differs in one pinned field (its
    noun and mismatch hint); a non-empty store dir with no marker;
    and, for the bucketed stores, ``n_buckets=0`` on a fresh path,
    before anything is written."""
    noun, open_store, bucketed = MARKER_STORES[case]
    marker = importlib.import_module(
        f"dbd_datawarehouse_scraper_spark.streaming.{case}"
    )._MARKER
    assert marker.noun == noun

    d = str(tmp_path / "reopen")
    open_store(spark, d)
    path = f"{d}/store/format"
    row = fs_read_json_row(spark, path, marker.schema)
    fields = [f.split()[0] for f in marker.schema.split(",")]
    row["format_version"] += 1
    fs_write_json_row(spark, path, marker.schema, tuple(row[f] for f in fields))
    with pytest.raises(ValueError) as err:
        open_store(spark, d)
    assert noun in str(err.value) and marker.mismatch_hint in str(err.value)

    bare = tmp_path / "bare"
    (bare / "store" / "data").mkdir(parents=True)
    with pytest.raises(ValueError, match=f"{noun} at .* has no format marker"):
        open_store(spark, str(bare))

    if bucketed:
        fresh = tmp_path / "fresh"
        with pytest.raises(ValueError, match="n_buckets must be >= 1, got 0"):
            open_store(spark, str(fresh), n_buckets=0)
        assert not fresh.exists()
