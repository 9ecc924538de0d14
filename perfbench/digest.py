"""The benchmark's clock consumer: a one-row digest of a DataFrame that
Catalyst cannot prune.

``count()`` lets the optimizer drop aggregates and eliminate joins whose
output columns are never read. The digest reads every column: it hashes
each row with ``xxhash64`` over all columns and folds the hashes with
``bit_xor`` (``sum`` overflows under ANSI mode). Because two equal rows
cancel under XOR, it also sums the low 32 bits of each hash and counts
rows. ``xxhash64`` rejects MAP columns, so maps, at any depth, are
hashed as their entries sorted by key.

The digest is taken with ``collect()``: ``first()`` would plan a new
``limit`` query and leave only the analysis phase on the executed
``QueryExecution``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def _has_map(t: DataType) -> bool:
    if isinstance(t, MapType):
        return True
    if isinstance(t, ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def hashable(c: Column, t: DataType) -> Column:
    """``c`` rewritten so that ``xxhash64`` accepts it."""
    if not _has_map(t):
        return c
    if isinstance(t, MapType):
        entries = F.transform(
            F.map_entries(c),
            lambda e: F.struct(
                hashable(e["key"], t.keyType).alias("key"),
                hashable(e["value"], t.valueType).alias("value"),
            ),
        )
        return F.array_sort(entries)
    if isinstance(t, ArrayType):
        return F.transform(c, lambda x: hashable(x, t.elementType))
    assert isinstance(t, StructType)
    return F.struct(*[hashable(c[f.name], f.dataType).alias(f.name) for f in t.fields])


def digest_frame(df: DataFrame) -> DataFrame:
    """One row: (xor of row hashes, sum of their low 32 bits, row count)."""
    cols = [hashable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    return df.select(h.alias("h")).agg(
        F.bit_xor("h").alias("xor"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.count(F.lit(1)).alias("n"),
    )


def take_digest(df: DataFrame) -> tuple[tuple[int, int, int], DataFrame]:
    """Run the digest action; returns ((xor, lo, n), the executed frame)."""
    d = digest_frame(df)
    row = d.collect()[0]
    return (row["xor"] or 0, row["lo"] or 0, row["n"]), d
