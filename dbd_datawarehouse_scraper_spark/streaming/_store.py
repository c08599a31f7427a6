"""Shared epoch-store protocol pieces for the incremental operators.

Every incremental store in this package (segments, substrings,
near-dup, semantic, contamination) follows the same integrity rules —
format marker pinning parameters, strictly-below history reads,
checkpoint-reset-ahead refusal, epoch-suffixed replay-idempotent
overwrites. The rules were originally hand-replicated per module; the
round-8 review counted three near-verbatim copies and this module is
the single home for the two generic pieces (the marker shapes that
carry module-specific payloads — e.g. the semantic store's centers —
stay local):

- :func:`validate_or_init_marker` — the format-marker handshake;
- :func:`committed_epochs_below` — the history listing with the
  reset-ahead refusal.

Markers are one-row JSON datasets (a directory holding one
``part-*.json`` line, the layout Spark's JSON writer produces and
``spark.read.json`` reads). They are read and written from the driver
through the Hadoop FS handle (fsutil.fs_read_json_row /
fs_write_json_row): a handshake costs a few FS calls, not a Spark job
per read and two per write, and every epoch of every store pays it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..fsutil import (
    fs_exists,
    fs_list_names,
    fs_read_json_row,
    fs_write_json_row,
)


def validate_or_init_marker(
    spark: SparkSession,
    store_path: str,
    schema: str,
    want: tuple,
    noun: str,
    mismatch_hint: str,
    free_fields: tuple = (),
    init: bool = True,
) -> dict:
    """Read-or-write the store's format marker. ``schema`` is the
    marker's DDL (first field MUST be ``format_version INT``); ``want``
    is the full value tuple in schema order. An existing marker must
    match ``want`` exactly on every field NOT named in ``free_fields``;
    a store directory without a marker refuses (pre-versioning or
    corrupted); a fresh path writes the marker (unless ``init=False``
    — the read-only handshake for paths that must never create a
    store, which raises on a missing marker instead).

    ``free_fields`` names fields that are STORE STATE rather than
    caller input (e.g. a bucket count fixed at store creation): an
    existing marker's value wins and is returned; the ``want`` value
    only seeds a fresh store. Returns the marker's field dict (the
    existing marker's values, or ``want`` for a fresh store)."""
    marker = f"{store_path}/format"
    fields = [f.split()[0] for f in schema.split(",")]
    if fs_exists(spark, marker):
        row = fs_read_json_row(spark, marker, schema)
        if row is None or row["format_version"] is None:
            raise ValueError(
                f"{noun} marker at {marker} exists but is unreadable — "
                "wipe the store before continuing."
            )
        pinned = [f for f in fields if f not in free_fields]
        found = tuple(row[f] for f in pinned)
        need = tuple(
            w for f, w in zip(fields, want) if f not in free_fields
        )
        if found != need:
            raise ValueError(
                f"{noun} at {store_path} has format "
                f"({', '.join(pinned)})={found}, but this run needs "
                f"{need}. {mismatch_hint} — wipe the store or "
                "rerun with its parameters."
            )
        return {f: row[f] for f in fields}
    if fs_exists(spark, store_path):
        raise ValueError(
            f"{noun} at {store_path} exists but has no format marker — "
            "it predates store versioning or is corrupted. Wipe it "
            "before continuing."
        )
    if not init:
        raise ValueError(
            f"no {noun} at {store_path} (missing format marker)"
        )
    fs_write_json_row(spark, marker, schema, tuple(want))
    return dict(zip(fields, want))


def committed_epochs_below(
    spark: SparkSession,
    root: str,
    epoch_id: int,
    noun: str,
    overwrite_consequence: str,
) -> list[int]:
    """Committed epoch ids STRICTLY below ``epoch_id`` under ``root``
    (``epoch=N`` directories). A committed epoch ABOVE the current id
    means the streaming checkpoint was reset against a populated store
    — refuse loudly (streaming epoch ids are monotone; a legitimate
    replay is only ever of the store's max epoch). The replaying
    epoch's own directory is excluded — reading it would double-count
    the replayed batch."""
    if not fs_exists(spark, root):
        return []
    all_epochs = [
        int(n.split("=", 1)[1])
        for n in fs_list_names(spark, root)
        if n.startswith("epoch=")
    ]
    ahead = [e for e in all_epochs if e > epoch_id]
    if ahead:
        raise ValueError(
            f"{noun} at {root} already holds epochs {sorted(ahead)} "
            f"above the current epoch {epoch_id} — the streaming "
            "checkpoint was reset against a populated store. Resume "
            "with the original checkpoint, or wipe the store (and its "
            f"outputs) to start over; {overwrite_consequence}."
        )
    return [e for e in all_epochs if e < epoch_id]


def marker_positive_int(row: dict, field: str, store_path: str, noun: str) -> int:
    """Validate a free marker field that must be a positive int (the
    bucketed stores' bucket counts): free fields are store state the
    exact-match handshake doesn't cover, so each reader re-checks them
    — this is the one copy of that check (round-12 review)."""
    if row[field] is None or row[field] < 1:
        raise ValueError(
            f"{noun} marker at {store_path}/format carries no valid "
            f"{field} — wipe the store and re-ingest."
        )
    return int(row[field])


def epochs_with_partition_data(
    spark: SparkSession, root: str, epochs: list, prefix: str
) -> list:
    """Of ``epochs``, those whose ``epoch=N`` dir actually holds
    ``<prefix>…`` partition subdirs. An epoch all of whose rows were
    struck/dropped writes only its ``_SUCCESS`` commit marker
    (``partitionBy`` emits no files for zero rows) — reading a
    file-less dir fails schema inference, so every read of a
    bucket-partitioned store filters here (hoisted from the link-graph
    store when the sig store adopted the same layout, round 12)."""
    return [
        e
        for e in epochs
        if any(
            n.startswith(prefix)
            for n in fs_list_names(spark, f"{root}/epoch={e}")
        )
    ]


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
    if fs_exists(spark, out_path) and any(
        n.startswith("epoch=") for n in fs_list_names(spark, out_path)
    ):
        raise ValueError(
            f"survivor output at {out_path} holds epoch dirs but no "
            f"_schema marker — {legacy_hint}. Wipe it (and re-export) "
            "before continuing; mixing schemas across epochs corrupts "
            "readers."
        )
    fs_write_json_row(spark, marker, _OUT_MARKER_SCHEMA, (version, want))
