"""Deterministic content-derived identity.

The reference mints fresh uuid4 node IDs per run (reference:
utils/database.py:85,105), so re-running duplicates the graph. A
resumable pipeline needs idempotent materialization, so every node id
here is a pure function of its content coordinates: re-running any
stage produces byte-identical ids, and MERGE-like semantics become
``dropDuplicates`` + overwrite.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def node_id(*cols: Column | str) -> Column:
    """64-bit deterministic id from the given coordinate columns."""
    return F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])


def bucket(col: Column | str, n_buckets: int = 32) -> Column:
    """Stable hash bucket for partitioned writes (Iceberg
    ``bucket(N, id)`` equivalent on plain parquet)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def content_fingerprint(*cols: str) -> tuple[Column, Column]:
    """Order-insensitive content fingerprint of the given columns, as
    the aggregates ``(fingerprint, row_count)``: the ``decimal(38,0)``
    SUM of a per-row xxhash64 plus the row count.

    Each column is hashed next to its null flag: xxhash64 skips nulls,
    so ``(null, "x")`` and ``("x", null)`` would otherwise hash alike.
    Values are hashed natively, not cast to string (the cast made the
    pipeline's lineage flush ~1.4x slower); map columns, which xxhash64
    rejects, need a cast by the caller. SUM, not bit_xor: xor cancels
    any row whose multiplicity changes by an even amount, so a
    duplicated row pair fingerprints like its absence, while a multiset
    sum always moves. The sum runs in decimal(38,0), so ANSI mode
    cannot overflow an int64 accumulator. Pass columns in a fixed order
    (e.g. sorted) for a schema-order-insensitive value."""
    h = F.xxhash64(*[x for c in cols for x in (F.col(c), F.col(c).isNull())])
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        F.coalesce(F.sum(h.cast("decimal(38,0)")), zero).alias("fingerprint"),
        F.count(F.lit(1)).alias("row_count"),
    )
