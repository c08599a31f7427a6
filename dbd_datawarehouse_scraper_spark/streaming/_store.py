"""Shared epoch-store protocol pieces for the incremental operators.

Every incremental store in this package (segments, substrings,
near-dup, semantic, image, link-graph, contamination, and the shard
packer's output) follows the same integrity rules — format marker
pinning parameters, strictly-below history reads,
checkpoint-reset-ahead refusal, epoch-suffixed replay-idempotent
overwrites, one unconditional fold-or-recover call per epoch. This
module is the single home for the generic pieces (marker shapes that
carry module-specific payloads — e.g. the semantic store's centers —
stay local):

- :func:`run_epochs` — the one stream-writer setup; every ``stream_*``
  wrapper keeps its start-time validation and epoch closure and
  returns this (the ``pool_mark``/``release_since`` bracket stays in
  each ``*_epoch`` function: the export runs several in one epoch);
- :class:`StoreMarker` — a store's format marker, declared once per
  store module, and its read-or-write handshake (``check``);
- :class:`EpochDirs` — the ``epoch=N`` layout of one store sub-dir:
  its fold, its history listing, its read and its epoch write.

The layout rules :class:`EpochDirs` owns, for every store:

- one ``epoch=N`` dir per micro-batch, written with overwrite: a
  failed epoch is replayed under its own id and rewrites its own dir
  instead of duplicating rows;
- history = committed epochs STRICTLY BELOW the current one. A
  replayed epoch's own rows already sit under ``epoch=N`` (a crash
  between the store write and Spark's streaming commit); reading them
  back would double-count the batch or strike it against itself.
  Folded generations are named by their max folded epoch, so the same
  rule covers them;
- an epoch ABOVE the current id means the streaming checkpoint was
  reset against a populated store (epoch ids are monotone; a
  legitimate replay is only ever of the store's max epoch): refuse
  before anything is written, since the new run would overwrite
  committed epochs one by one while reading only the remnant;
- a PARTITIONED sub-dir (``epoch=N/<col>=v``, so reads prune to the
  values an epoch needs) is written through
  ``sources.sinks.partitioned_overwrite`` — repartitioned on the key,
  static overwrite, so a replay occupying fewer values truncates
  instead of merging with stale value dirs; its history skips epochs
  that hold no data (an epoch whose rows were all struck writes only
  markers, and a read including it fails schema inference); and its
  multi-dir reads declare the sub-dir as ``basePath``;
- committed generations fold LSM-style through
  ``sources.sinks.fold_epoch_dirs`` with the sub-dir's own partition
  column and merge, once per epoch, before any read (a falsy
  threshold only recovers a crashed fold).

Markers are one-row JSON datasets (a directory holding one
``part-*.json`` line, the layout Spark's JSON writer produces and
``spark.read.json`` reads). They are read and written from the driver
through the Hadoop FS handle (fsutil.fs_read_json_row /
fs_write_json_row): a handshake costs a few FS calls, not a Spark job
per read and two per write, and every epoch of every store pays it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..fsutil import (
    fs_epoch_ids,
    fs_exists,
    fs_holds_data,
    fs_read_json_row,
    fs_write_json_row,
)
from ..sources.sinks import fold_epoch_dirs, partitioned_overwrite


def run_epochs(
    stream_df: DataFrame,
    epoch_fn: Callable[[DataFrame, int], object],
    checkpoint: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``stream_df`` with ``epoch_fn(batch_df, epoch_id)`` as its
    ``foreachBatch`` under ``checkpoint`` — drained once and stopped
    when ``available_now``, else on the default trigger. A failed
    epoch is replayed from the checkpoint on restart, which is why
    every epoch function writes epoch-suffixed overwrites."""
    writer = stream_df.writeStream.foreachBatch(epoch_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def await_or_die(q: StreamingQuery, timeout_s: int) -> None:
    """``awaitTermination(t)`` returns False on timeout WITHOUT raising;
    proceeding would read partial or absent epoch output and fail
    confusingly downstream. Stop the query and fail loudly instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query did not finish within {timeout_s}s "
            f"(status: {q.status})"
        )


@dataclass(frozen=True)
class StoreMarker:
    """A store's format marker, declared once per store module.
    ``schema`` is the marker's DDL (first field MUST be
    ``format_version INT``); ``noun`` and ``mismatch_hint`` word the
    refusals. ``free_fields`` names fields that are STORE STATE rather
    than caller input (the bucketed stores' bucket counts, fixed at
    store creation): an existing marker's value wins over the
    caller's, which only seeds a fresh store. Every free field is a
    positive int."""

    schema: str
    noun: str
    mismatch_hint: str
    free_fields: tuple = ()

    def check(
        self,
        spark: SparkSession,
        store_path: str,
        want: tuple,
        init: bool = True,
    ) -> dict:
        """Read-or-write the marker under ``store_path``. ``want`` is
        the full value tuple in schema order. An existing marker must
        match ``want`` on every field not in ``free_fields``; a store
        directory without a marker refuses (pre-versioning or
        corrupted); a fresh path writes the marker, unless
        ``init=False`` (the read-only handshake for paths that must
        never create a store), which refuses instead. A non-positive
        free field refuses: the caller's seed before anything is read
        or written, the stored value on read. Returns the marker's
        field dict (the existing marker's values, or ``want`` for a
        fresh store)."""
        marker = f"{store_path}/format"
        fields = [f.split()[0] for f in self.schema.split(",")]
        if init:
            for f, w in zip(fields, want):
                if f in self.free_fields and w < 1:
                    raise ValueError(f"{f} must be >= 1, got {w}")
        if fs_exists(spark, marker):
            row = fs_read_json_row(spark, marker, self.schema)
            if row is None or row["format_version"] is None:
                raise ValueError(
                    f"{self.noun} marker at {marker} exists but is "
                    "unreadable — wipe the store before continuing."
                )
            pinned = [f for f in fields if f not in self.free_fields]
            found = tuple(row[f] for f in pinned)
            need = tuple(
                w for f, w in zip(fields, want) if f not in self.free_fields
            )
            if found != need:
                raise ValueError(
                    f"{self.noun} at {store_path} has format "
                    f"({', '.join(pinned)})={found}, but this run needs "
                    f"{need}. {self.mismatch_hint} — wipe the store or "
                    "rerun with its parameters."
                )
            for f in self.free_fields:
                if row[f] is None or row[f] < 1:
                    raise ValueError(
                        f"{self.noun} marker at {marker} carries no valid "
                        f"{f} — wipe the store and re-ingest."
                    )
            return {f: row[f] for f in fields}
        if fs_exists(spark, store_path):
            raise ValueError(
                f"{self.noun} at {store_path} exists but has no format "
                "marker — it predates store versioning or is corrupted. "
                "Wipe it before continuing."
            )
        if not init:
            raise ValueError(
                f"no {self.noun} at {store_path} (missing format marker)"
            )
        fs_write_json_row(spark, marker, self.schema, tuple(want))
        return dict(zip(fields, want))


@dataclass(frozen=True)
class EpochDirs:
    """The ``epoch=N`` generations of one store sub-dir (the layout
    rules in the module docstring). ``noun`` and
    ``overwrite_consequence`` word the reset-ahead refusal;
    ``partition_col`` makes the sub-dir partitioned; ``merge`` is the
    fold's associative reducer (see ``fold_epoch_dirs``)."""

    root: str
    noun: str
    overwrite_consequence: str
    partition_col: str | None = None
    merge: Callable[[DataFrame], DataFrame] | None = None

    def path(self, epoch_id: int) -> str:
        return f"{self.root}/epoch={epoch_id}"

    def fold(
        self, spark: SparkSession, epoch_id: int, min_dirs: int | None
    ) -> bool:
        """Recover a crashed fold, then fold the committed generations
        below ``epoch_id`` once ``min_dirs`` accumulate (``None`` or
        ``0``: recover only)."""
        return fold_epoch_dirs(
            spark, self.root, below_epoch=epoch_id, min_dirs=min_dirs,
            partition_col=self.partition_col, merge=self.merge,
        )

    def history(self, spark: SparkSession, epoch_id: int) -> list[int]:
        """Committed epoch ids strictly below ``epoch_id`` (those with
        data, when partitioned); raises if an epoch above it exists."""
        all_epochs = fs_epoch_ids(spark, self.root)
        ahead = [e for e in all_epochs if e > epoch_id]
        if ahead:
            raise ValueError(
                f"{self.noun} at {self.root} already holds epochs "
                f"{sorted(ahead)} above the current epoch {epoch_id} — "
                "the streaming checkpoint was reset against a populated "
                "store. Resume with the original checkpoint, or wipe the "
                "store (and its outputs) to start over; "
                f"{self.overwrite_consequence}."
            )
        below = [e for e in all_epochs if e < epoch_id]
        return self.with_data(spark, below) if self.partition_col else below

    def with_data(self, spark: SparkSession, epochs: list[int]) -> list[int]:
        """Of ``epochs``, those whose dir holds data (fsutil
        ``fs_holds_data``)."""
        return [e for e in epochs if fs_holds_data(spark, self.path(e))]

    def read(self, spark: SparkSession, epochs: list[int]) -> DataFrame:
        """One read over the ``epochs`` dirs; a partitioned sub-dir
        also surfaces its partition column (and ``epoch``)."""
        reader = spark.read
        if self.partition_col:
            reader = reader.option("basePath", self.root)
        return reader.parquet(*[self.path(e) for e in epochs])

    def write(
        self, df: DataFrame, epoch_id: int, n_parts: int | None = None
    ) -> None:
        """Overwrite ``epoch=<epoch_id>`` with ``df``; a partitioned
        sub-dir writes one file per value (in ``n_parts`` tasks when
        given)."""
        if self.partition_col:
            writer = partitioned_overwrite(
                df, self.partition_col, n_parts=n_parts
            )
        else:
            writer = df.write.mode("overwrite")
        writer.parquet(self.path(epoch_id))


_OUT_MARKER_SCHEMA = "out_version INT, columns STRING"


def validate_or_init_out_schema(
    spark: SparkSession,
    out_path: str,
    columns: list,
    version: int,
    legacy_hint: str = "it predates output versioning",
) -> None:
    """Pin a stream wrapper's survivor schema under
    ``out_path/_schema`` (hoisted from near_dedup in round 9 when the
    image stream needed the identical guard): the store format marker
    protects ``store_path``, but without this an out_path written
    under one column set could be resumed with another, mixing schemas
    across epoch dirs with no runtime guard. Same commit-order
    discipline as the store marker — written before the first epoch,
    refused on mismatch or on a pre-existing non-empty unversioned
    out_path."""
    marker = f"{out_path}/_schema"
    want = ",".join(columns)
    if fs_exists(spark, marker):
        row = fs_read_json_row(spark, marker, _OUT_MARKER_SCHEMA)
        if row is None or row["out_version"] is None:
            raise ValueError(
                f"survivor-output marker at {marker} exists but is "
                "unreadable — wipe the output dir (and re-export) before "
                "continuing."
            )
        if (row["out_version"], row["columns"]) != (version, want):
            raise ValueError(
                f"survivor output at {out_path} was written with "
                f"(version, columns)=({row['out_version']}, "
                f"{row['columns']!r}), but this run writes "
                f"({version}, {want!r}) — resuming would mix "
                "schemas across epoch dirs. Wipe the output dir (and "
                "re-export) or rerun with the original columns."
            )
        return
    if fs_epoch_ids(spark, out_path):
        raise ValueError(
            f"survivor output at {out_path} holds epoch dirs but no "
            f"_schema marker — {legacy_hint}. Wipe it (and re-export) "
            "before continuing; mixing schemas across epochs corrupts "
            "readers."
        )
    fs_write_json_row(spark, marker, _OUT_MARKER_SCHEMA, (version, want))
