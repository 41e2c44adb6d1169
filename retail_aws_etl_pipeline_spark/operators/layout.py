"""Multi-column data layout: Z-order (Morton) clustering for scans.

Range-sorting a table on ONE key gives every file a tight min-max on
that key and nothing on any other (tests/test_layout.py pins the
single-key lever). Real 100 TB tables are queried on more than one
column; the standard public technique (Morton/Z-order curves — the same
layout Delta Lake's OPTIMIZE ZORDER BY and many warehouses use) maps
each clustering column to a fixed-width integer, bit-interleaves them
into one key, and range-sorts on that key. Files then cover compact
hyper-rectangles of the value space, so parquet footer statistics stay
tight on EVERY clustering column at once and a filter on any of them
skips most files.

Everything here is pure Column algebra (shift/mask/interleave — no UDF)
plus one bounded min/max aggregate per write. The z-key is a LAYOUT
hint only: it never appears in results, so the double-precision scaling
inside the key is not correctness-bearing — query results are identical
under any layout (pinned by test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bits per column in the interleaved key. 12 bits = 4096 distinct cells
#: per axis — far more than any realistic file count, so the curve order,
#: not the quantization, decides file boundaries.
ZORDER_BITS = 12


def _scale_expr(col: Column, mn, mx, bits: int) -> Column:
    """Linear map of a numeric column onto [0, 2^bits) as a long.

    Double math is fine here: the result only orders rows for layout;
    no query result ever depends on it.

    An entirely-NULL column aggregates ``min``/``max`` of NULL — treated
    like the constant-column (span<=0) case: a zero-bit axis. Row-level
    NULLs scale to the axis minimum (cell 0 on that axis) so every row
    lands in a real grid cell instead of a NULL key routing the row to
    ``__HIVE_DEFAULT_PARTITION__``; parquet min/max footer stats exclude
    NULLs, so co-locating them with the axis minimum costs no stat
    tightness on the non-NULL values (ADVICE r9).
    """
    top = (1 << bits) - 1
    if mn is None or mx is None:
        return F.lit(0).cast("long")
    span = float(mx) - float(mn)
    if span <= 0:
        return F.lit(0).cast("long")
    scaled = ((col.cast("double") - float(mn)) / span) * top
    clamped = F.least(F.lit(top), F.greatest(F.lit(0), scaled.cast("long")))
    return F.coalesce(clamped, F.lit(0).cast("long"))


def zorder_key(scaled: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Bit-interleave per-column [0, 2^bits) longs into one Morton key.

    Bit b of column i lands at position ``b * n_cols + i`` — the
    canonical Z-curve, built as a sum of shifted masked bits (bits ×
    n_cols terms of pure long arithmetic, one whole-stage-codegen
    expression)."""
    n = len(scaled)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(scaled):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + i)
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = ZORDER_BITS,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve over ``cols``.

    One aggregate computes every clustering column's min/max (a bounded
    driver collect of 2×|cols| scalars — the only non-scan-side work),
    the Morton key is built scan-side, and the frame is range-partitioned
    + sorted on it, then the key is dropped before the write (projection
    preserves the per-partition order).

    File boundaries SNAP TO THE CURVE'S OWN GRID: the table is written
    **directory-partitioned by the top ``log2(n_files)`` bits of the
    key** (``n_files`` rounds up to a power of two), one directory = one
    aligned hyper-rectangle of the value space — e.g. 16 cells over 2
    columns is exactly the 4×4 quadrant grid. Two earlier drafts routed
    files with (raw-key, then cell-keyed) ``repartitionByRange``:
    RangePartitioner places boundaries from a runtime SAMPLE, so file
    contents straddled grid cells nondeterministically and the pruning
    gates flaked across sessions. ``partitionBy`` is exact: every row's
    directory is a pure function of its values. Each cell is hashed
    wholly into one task first, so a cell is one file; rows within sort
    by the full key for tight row-group stats.

    The cell id is a VISIBLE partition column (``__zcell``) on the
    written table — the standard layout-column trade (same as date
    partitioning), and it buys static partition pruning on the cell in
    addition to footer min-max pruning on every clustering column — the
    multi-column data-skipping lever single-key sorting cannot provide.
    """
    k = max(1, (n_files - 1).bit_length())  # ceil(log2(n_files))
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    scaled = [
        _scale_expr(F.col(c), row[f"__mn_{c}"], row[f"__mx_{c}"], bits) for c in cols
    ]
    z = zorder_key(scaled, bits)
    cell = F.shiftright(z, bits * len(cols) - k)
    (
        df.withColumn("__z", z)
        .withColumn("__zcell", cell)
        .repartition(1 << k, "__zcell")
        .sortWithinPartitions("__zcell", "__z")
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy("__zcell")
        .parquet(path)
    )
