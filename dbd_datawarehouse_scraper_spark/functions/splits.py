"""[EXT] Leakage-safe train/validation/test splitting by content hash.

Random splits leak: the same document (or a near-copy that survived
dedup thresholds) can land in train AND test, and a re-run reshuffles
every assignment. The standard fix is to key the split on a CONTENT
fingerprint — identical content always lands in the same split, on any
cluster, any partitioning, any rerun, and growing the corpus never
reassigns existing documents (the property that makes incremental
training sets auditable).

Mechanism: the first 8 hex chars of the sha256 fingerprint (already
computed corpus-wide by ``doc_fingerprint``) are an integer uniform on
[0, 2^32); ``bucket = that % buckets`` (default 10,000) and cumulative
fraction thresholds assign the label. sha256 hex is byte-identical in
Spark and DuckDB, so the whole assignment is oracle-checkable — unlike
engine-native hash functions (Spark xxhash64 vs DuckDB's hash), which
never agree.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_FRACTIONS: dict[str, float] = {"train": 0.9, "val": 0.05, "test": 0.05}

_BUCKETS = 10_000

# a label names an output directory (``split=<label>``) in both
# exporters and a SQL string literal in the DuckDB mirror, so it is
# restricted to characters that need no escaping in either
_LABEL = re.compile(r"[A-Za-z0-9_-]+")


def _thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """THE one check of a split spec (every split path goes through
    it): labels match ``[A-Za-z0-9_-]+``, fractions are finite and
    non-negative and sum to 1. Returns (label, cumulative bucket bound)
    in insertion order."""
    if not isinstance(fractions, dict):
        raise ValueError(
            f"split fractions must be a {{label: fraction}} dict, got {fractions!r}"
        )
    for label, frac in fractions.items():
        if not isinstance(label, str) or not _LABEL.fullmatch(label):
            raise ValueError(
                f"split label {label!r} must match [A-Za-z0-9_-]+ "
                f"(it names the split=<label> output directory)"
            )
        if (
            isinstance(frac, bool)
            or not isinstance(frac, (int, float))
            or not math.isfinite(frac)
            or frac < 0
        ):
            raise ValueError(
                f"split fraction for {label!r} must be a finite number "
                f">= 0, got {frac!r}"
            )
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    out, acc = [], 0.0
    for label, frac in fractions.items():
        acc += frac
        out.append((label, int(round(acc * _BUCKETS))))
    out[-1] = (out[-1][0], _BUCKETS)  # absorb rounding in the last label
    return out


def content_split(
    fingerprint: Column, fractions: dict[str, float] | None = None
) -> Column:
    """Split label column from a sha256-hex fingerprint column.
    ``fractions`` is an ordered {label: fraction} dict summing to 1
    (insertion order defines the bucket ranges — keep it stable across
    runs, it is part of the assignment)."""
    buckets = F.conv(F.substring(fingerprint, 1, 8), 16, 10).cast("long") % _BUCKETS
    expr = None
    for label, upper in _thresholds(fractions or DEFAULT_FRACTIONS):
        cond = buckets < upper
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr


def split_labels(fractions: dict[str, float] | None = None) -> tuple[str, ...]:
    """The checked labels of a split spec, in bucket order — what the
    exporters iterate and report on. Raises like :func:`content_split`,
    so an exporter calling it first refuses a bad spec before any
    work."""
    return tuple(label for label, _ in _thresholds(fractions or DEFAULT_FRACTIONS))


def split_sql(fingerprint_expr: str, fractions: dict[str, float] | None = None) -> str:
    """DuckDB mirror of :func:`content_split` over a SQL expression
    that yields the sha256 hex fingerprint."""
    bucket = (
        f"(CAST(('0x' || substr({fingerprint_expr}, 1, 8)) AS UBIGINT) % {_BUCKETS})"
    )
    parts = []
    for label, upper in _thresholds(fractions or DEFAULT_FRACTIONS):
        parts.append(f"WHEN {bucket} < {upper} THEN '{label}'")
    return "CASE " + " ".join(parts) + " END"
