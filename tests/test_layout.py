"""Z-order layout (operators/layout.py): multi-column data skipping.

Verified from the actual parquet footers, not timings, like the
single-key lever (test_sorted_layout_enables_stats_pruning, at the end):
a Z-ordered table must keep min-max tight on EVERY clustering column,
where a single-key sort is tight on its key and useless on everything
else. Results must be layout-invariant.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators.layout import zorder_key, zorder_write


def _overlapping_files(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    n_overlap, n_files = 0, 0
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        n_files += 1
        for rg in range(md.num_row_groups):
            c = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == col
            )
            st = c.statistics
            if st.min <= hi and st.max >= lo:
                n_overlap += 1
                break
    return n_overlap, n_files


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    df = (
        spark.range(0, 100_000)
        .withColumn("a", (F.col("id") * 48271) % 100_000)
        .withColumn("b", (F.col("id") * 69621) % 100_000)
        .withColumn("payload", F.md5(F.col("id").cast("string")))
    )
    a_dir = str(tmp_path / "sorted_a")
    z_dir = str(tmp_path / "zorder_ab")
    (
        df.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.parquet(a_dir)
    )
    zorder_write(df, z_dir, ["a", "b"], n_files=16)

    lo, hi = 41_000, 41_500  # 0.5% of either axis

    # single-key layout: tight on a, blind on b
    a_on_a, n1 = _overlapping_files(a_dir, "a", lo, hi)
    a_on_b, _ = _overlapping_files(a_dir, "b", lo, hi)
    assert n1 == 16
    assert a_on_a <= 2
    assert a_on_b == 16, "a-sorted layout cannot skip anything on b"

    # z-order: tight on BOTH. Files are grid-aligned by construction
    # (one directory per top-bit cell), so a 0.5%-of-axis range lies in
    # ONE strip of the 4x4 grid -> exactly 4 cells overlap per axis.
    # Deterministic: partitionBy routing is a pure function of values
    # (two repartitionByRange drafts flaked here on sampling).
    z_on_a, n2 = _overlapping_files(z_dir, "a", lo, hi)
    z_on_b, _ = _overlapping_files(z_dir, "b", lo, hi)
    assert n2 == 16
    assert z_on_a <= 4, f"z-layout should confine a to one grid strip, got {z_on_a}"
    assert z_on_b <= 4, f"z-layout should confine b to one grid strip, got {z_on_b}"

    # results are layout-invariant and the filter reaches the scan
    pred = (F.col("b") >= lo) & (F.col("b") <= hi)
    got_z = spark.read.parquet(z_dir).filter(pred)
    got_a = spark.read.parquet(a_dir).filter(pred)
    plan = got_z._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(b" in plan
    rz = sorted(r["id"] for r in got_z.collect())
    ra = sorted(r["id"] for r in got_a.collect())
    assert rz == ra and rz


def test_zorder_key_interleaves_bits(spark):
    """Exact Morton property on handcrafted values: key bits alternate
    between the two inputs (bit b of col i at position 2b + i)."""
    rows = [(0b1011, 0b0110)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        zorder_key([F.col("x"), F.col("y")], bits=4).alias("z")
    ).collect()[0]["z"]

    def ref(x, y, bits=4):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == ref(0b1011, 0b0110)


def test_zorder_constant_column_degenerates_safely(spark, tmp_path):
    """A constant clustering column contributes zero bits (span == 0)
    instead of dividing by zero; the write still succeeds and the other
    column still prunes."""
    df = (
        spark.range(0, 10_000)
        .withColumn("a", (F.col("id") * 48271) % 10_000)
        .withColumn("c", F.lit(7))
    )
    out = str(tmp_path / "z_const")
    zorder_write(df, out, ["a", "c"], n_files=8)
    # the constant axis contributes zero bits, so only the varying
    # axis's top bits produce distinct cells (fewer, non-empty dirs)
    hit, total = _overlapping_files(out, "a", 100, 150)
    assert 1 <= total <= 8 and hit < total
    assert spark.read.parquet(out).count() == 10_000


def test_zorder_null_values_route_to_real_cells(spark, tmp_path):
    """NULL handling (ADVICE r9): an entirely-NULL clustering column
    degenerates to a zero-bit axis instead of TypeError(float(None)),
    and row-level NULLs scale to the axis minimum — every row lands in
    a real grid cell, never __HIVE_DEFAULT_PARTITION__."""
    # (1) entirely-NULL column: must not crash, other axis still prunes.
    df = (
        spark.range(0, 10_000)
        .withColumn("a", (F.col("id") * 48271) % 10_000)
        .withColumn("c", F.lit(None).cast("long"))
    )
    out = str(tmp_path / "z_allnull")
    zorder_write(df, out, ["a", "c"], n_files=8)
    assert spark.read.parquet(out).count() == 10_000
    assert not glob.glob(f"{out}/__HIVE_DEFAULT_PARTITION__*")
    hit, total = _overlapping_files(out, "a", 100, 150)
    assert 1 <= total <= 8 and hit < total

    # (2) sparse NULLs in one axis: rows keep their other-axis cell.
    df2 = (
        spark.range(0, 10_000)
        .withColumn("a", (F.col("id") * 48271) % 10_000)
        .withColumn(
            "b",
            F.when(F.col("id") % 100 == 0, F.lit(None)).otherwise(
                (F.col("id") * 16807) % 10_000
            ),
        )
    )
    out2 = str(tmp_path / "z_sparsenull")
    zorder_write(df2, out2, ["a", "b"], n_files=16)
    back = spark.read.parquet(out2)
    assert back.count() == 10_000
    assert back.filter(F.col("b").isNull()).count() == 100
    assert not glob.glob(f"{out2}/__HIVE_DEFAULT_PARTITION__*")


def test_zorder_pruning_stats_matches_oracle(spark):
    """The staged driver query: written-layout cell stats must equal the
    oracle's pure-arithmetic reconstruction (routing determinism), and
    each cell's extents must sit inside one aligned quadrant (the
    pruning statement itself)."""
    from retail_aws_etl_pipeline_spark.plans.extensions import (
        ZORDER_PRUNING_ORACLE,
        zorder_pruning_stats,
    )
    from tests.conftest import SF_ORACLE
    from tests.oracle import compare

    got = zorder_pruning_stats(spark, SF_ORACLE)
    res = compare(got, ZORDER_PRUNING_ORACLE, SF_ORACLE)
    assert res["ok"], res

    rows = got.collect()
    assert 1 <= len(rows) <= 16
    # Pruning: cell bit layout is (y11, x11, y10, x10) — each cell's x
    # extent lives in quadrant (x11 x10), y extent in (y11 y10), so a
    # filter on either axis overlaps only the 4 cells of one quadrant.
    for r in rows:
        xq = ((r.zcell >> 2) & 1) * 2 + (r.zcell & 1)
        yq = ((r.zcell >> 3) & 1) * 2 + ((r.zcell >> 1) & 1)
        # axis spans: x in [0,96], y in [0,88] -> quadrant width ~1/4.
        for lo, hi, q, span in (
            (r.min_x, r.max_x, xq, 96),
            (r.min_y, r.max_y, yq, 88),
        ):
            q_lo, q_hi = span * q / 4.0, span * (q + 1) / 4.0
            assert q_lo - 1 <= lo and hi <= q_hi + 1, (r, q_lo, q_hi)


def test_sorted_layout_enables_stats_pruning(spark, tmp_path):
    """The 100 TB data-layout lever: range-sorted writes give each file /
    row group a TIGHT min-max on the sort key, so a selective pushed
    filter lets the parquet reader skip almost everything; an unsorted
    layout interleaves the key everywhere and nothing can be skipped.
    Pinned via footer statistics (pyarrow) + pushed-filter plan check +
    result equality across layouts."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    df = (
        spark.range(0, 100_000)
        .withColumn("key", (F.col("id") * 48271) % 100_000)
        .withColumn("payload", F.md5(F.col("id").cast("string")))
    )
    sorted_dir = str(tmp_path / "sorted")
    unsorted_dir = str(tmp_path / "unsorted")
    df.repartitionByRange(10, "key").sortWithinPartitions("key").write.parquet(sorted_dir)
    df.repartition(10).write.parquet(unsorted_dir)

    def overlapping_files(path, lo, hi):
        import glob

        n_overlap, n_files = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            n_files += 1
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "key"
                )
                st = col.statistics
                if st.min <= hi and st.max >= lo:
                    n_overlap += 1
                    break
        return n_overlap, n_files

    lo, hi = 41_000, 41_500
    s_hit, s_total = overlapping_files(sorted_dir, lo, hi)
    u_hit, u_total = overlapping_files(unsorted_dir, lo, hi)
    assert s_total == u_total == 10
    assert s_hit <= 2, f"sorted layout should bound candidates, got {s_hit}"
    assert u_hit == u_total, "unsorted layout cannot skip anything"

    # the filter actually reaches the scan, and results agree across layouts
    pred = (F.col("key") >= lo) & (F.col("key") <= hi)
    got_s = spark.read.parquet(sorted_dir).filter(pred)
    got_u = spark.read.parquet(unsorted_dir).filter(pred)
    plan = got_s._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(key" in plan
    rows_s = sorted(r["id"] for r in got_s.collect())
    rows_u = sorted(r["id"] for r in got_u.collect())
    assert rows_s == rows_u and rows_s
