"""Deterministic HyperLogLog — the oracle-able form of the sketch family.

Spark's approx_count_distinct (HLL++) has an engine-private register
layout: no ANSI-SQL oracle can recompute it. This module implements HLL
(Flajolet et al. 2007) from scratch on the engine-portable md5 hash
family the repo already standardizes on (split_bucket / dsir_bucket),
with EVERY step integer-exact:

- hash: bucket = first 2 md5 hex chars (m = 256); w = next 13 hex chars
  (52 bits) — disjoint substrings both engines slice identically.
- rho = leading-zero count of w within 52 bits, + 1 (w = 0 -> 53),
  via a generated threshold CASE ladder (no libm log — the
  floor_log2_sq_sql discipline), CLAMPED to HLL_RHO_CAP.
- raw estimate alpha_m * m^2 / sum_j 2^(-M_j), computed as
  floor(N * ALPHA_PPM / D) / 1e6 with N = m^2 * 2^rc and
  D = sum_j 2^(rc - M_j): the nested-floor identity plus the repo's
  remainder-corrected division keep everything inside int64 — the
  HLL_RHO_CAP = 28 clamp bounds N at 2^44 and D at 2^36, capping the
  estimable cardinality at ~5e10 distinct (beyond any single corpus
  this engine targets; a crafted >28-leading-zero hash merely
  saturates its register instead of overflowing the arithmetic).
- small-range (linear counting) correction: when zero registers exist
  and 2*E <= 5*m, E = m * ln(m/V) — the one genuinely transcendental
  step — is a 255-entry INTEGER LITERAL table fitted in Python at
  import (the DSIR-LUT discipline), so both engines look it up instead
  of calling a libm whose rounding they may disagree on.

The result is a sketch estimate that is bit-identical across Spark and
DuckDB and therefore hash-gateable — the sketch surface re-enters the
driver proof regime that retirement took it out of. At 100 TB the
register table is the whole shuffle: <= m rows per partial aggregate,
merged by MAX — the same associative-partial shape as any SUM.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_BUCKETS = 256  # m (2 hex chars)
HLL_W_BITS = 52  # 13 hex chars
HLL_RHO_CAP = 28

#: alpha_256 = 0.7213 / (1 + 1.079/m), ppm-rounded once in Python so both
#: engines consume the same integer constant.
HLL_ALPHA_PPM = round(1_000_000 * 0.7213 / (1 + 1.079 / HLL_BUCKETS))

#: Linear-counting estimates round(m * ln(m / V)) for V = 1..m-1 zero
#: registers (V = m means an empty input: estimate 0). Integer literals
#: fitted at import — deterministic, engine-shared.
HLL_LC_TABLE = [
    round(HLL_BUCKETS * math.log(HLL_BUCKETS / v)) for v in range(1, HLL_BUCKETS)
]


def floor_log2_sql(x_expr: str, bits: int = HLL_W_BITS) -> str:
    """CASE ladder: floor(log2({x})) for integer 1 <= x < 2^bits — pure
    threshold compares, bit-identical on both engines."""
    whens = " ".join(
        f"WHEN {x_expr} >= {1 << t} THEN {t}" for t in range(bits - 1, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def hll_rho_sql(w_expr: str) -> str:
    """Clamped HLL register value for the 52-bit suffix ``w``:
    rho = 52 - floor(log2(w)) for w >= 1 (leading zeros + 1), 53 for
    w = 0, min'd with HLL_RHO_CAP."""
    fl2 = floor_log2_sql(w_expr)
    return (
        f"LEAST(CASE WHEN {w_expr} = 0 THEN {HLL_W_BITS + 1} "
        f"ELSE {HLL_W_BITS} - {fl2} END, {HLL_RHO_CAP})"
    )


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """(bucket, register) — at most HLL_BUCKETS rows. The per-bucket MAX
    is an associative partial aggregate, so the full-corpus sketch build
    exchanges <= m rows per partition however large the input.

    NULL keys are excluded INSIDE the kernel (ADVICE r13): md5(NULL) is
    NULL, which would otherwise land a NULL-bucket row whose NULL width
    the rho ladder's ELSE clamp turns into register 28, inflating
    n_present and the harmonic denominator for any caller that did not
    pre-filter."""
    hashed = df.filter(key.isNotNull()).select(
        F.md5(key.cast("string")).alias("__h")
    )
    parts = hashed.select(
        F.conv(F.substring("__h", 1, 2), 16, 10).cast("long").alias("bucket"),
        F.conv(F.substring("__h", 3, 13), 16, 10).cast("long").alias("__w"),
    )
    return parts.groupBy("bucket").agg(
        F.expr(f"CAST(MAX({hll_rho_sql('__w')}) AS BIGINT)").alias("register")
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One-row (hll_estimate, v_zero_registers, rc_max_register) from the
    register table — pure Column algebra, nothing collected. Empty
    buckets (absent rows) count toward the zero-register tally V and
    contribute 2^rc to the harmonic denominator.

    Single-pass (r16 optimization): dp = sum_j 2^(rc - M_j) needs the max
    register rc, which used to force a two-pass head → crossJoin →
    d_present chain (3 tiny jobs + 2 broadcasts per estimate). Instead
    aggregate the rc-independent dpc = sum_j 2^(CAP - M_j) alongside rc
    in ONE agg, then shift: every term has M_j <= rc <= CAP, so
    dpc = 2^(CAP - rc) * dp exactly and dp = dpc >> (CAP - rc) is an
    exact integer — bit-identical dp, one aggregate instead of three.
    Bounds: terms <= 2^(CAP-1) = 2^27, <= m = 256 rows, so
    dpc <= 2^35 — no overflow."""
    m = HLL_BUCKETS
    agg = regs.agg(
        F.coalesce(F.max("register"), F.lit(0)).cast("long").alias("rc"),
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, CAST({HLL_RHO_CAP} - register AS INT))")),
            F.lit(0),
        )
        .cast("long")
        .alias("__dpc"),
    )
    lc = ",".join(str(x) for x in HLL_LC_TABLE)
    return (
        agg.withColumn(
            "dp", F.expr(f"shiftright(__dpc, CAST({HLL_RHO_CAP} - rc AS INT))")
        )
        .withColumn("v", F.expr(f"{m}L - n_present"))
        .withColumn(
            "d", F.expr(f"dp + ({m}L - n_present) * shiftleft(1L, CAST(rc AS INT))")
        )
        # N = m^2 * 2^rc <= 2^44; Q = floor(N * ALPHA_PPM / D) via the
        # remainder-corrected split (both halves < ~5e16); E = Q div 1e6
        # (nested-floor identity).
        .withColumn("n_big", F.expr(f"{m}L * {m} * shiftleft(1L, CAST(rc AS INT))"))
        .withColumn(
            "e_raw",
            F.expr(
                f"((n_big div d) * {HLL_ALPHA_PPM}"
                f" + ((n_big % d) * {HLL_ALPHA_PPM}) div d) div 1000000"
            ),
        )
        .withColumn(
            "hll_estimate",
            F.expr(
                # linear counting when zero registers exist and the raw
                # estimate is in the small range (2E <= 5m); V = m means
                # empty input -> 0
                f"CASE WHEN v = {m} THEN 0L "
                f"WHEN v > 0 AND 2 * e_raw <= 5 * {m} "
                f"THEN element_at(array({lc}), CAST(v AS INT)) "
                f"ELSE e_raw END"
            ).cast("long"),
        )
        .select(
            "hll_estimate",
            F.col("v").alias("v_zero_registers"),
            F.col("rc").alias("rc_max_register"),
        )
    )


def hll_distinct(df: DataFrame, key: Column) -> DataFrame:
    """End-to-end: one row (hll_estimate, v_zero_registers,
    rc_max_register) for the key's distinct cardinality."""
    return hll_estimate(hll_registers(df, key))


def hll_overlap_split(df: DataFrame, key: Column, is_a: Column) -> DataFrame:
    """Sketch-algebra overlap estimate between the two halves of ONE frame
    split by the boolean ``is_a`` (rows where it is NULL belong to
    neither half): one row (est_a, est_b, est_union, est_overlap) with
    est_overlap = est_a + est_b - est_union (inclusion–exclusion).

    The overlap estimate is SIGNED and noisy when the true intersection
    is small relative to the sketch error (it can go negative — three
    estimates' errors stack); the consuming report pairs it with the
    exact intersection. Plan shape (r16): a SINGLE scan and a SINGLE
    <= m-row exchange — one groupBy(bucket) computes both halves'
    registers side by side (per-bucket conditional MAX), the union
    register is their per-bucket GREATEST (register union is elementwise
    MAX, which makes sketch(A) ⊔ sketch(B) == sketch(A ∪ B); registers
    are >= 1 so COALESCE 0 is neutral), and all three estimates are the
    single-pass :func:`hll_estimate` algebra as column expressions over
    one 1-row aggregate — no joins.
    """
    m = HLL_BUCKETS
    # is_a IS NULL rows belong to neither half (both filters drop them);
    # keeping them would mint a (reg_a NULL, reg_b NULL) bucket row that
    # inflates the union's n_present and poisons dpc_u with a register-0
    # term — caught by the hostile tri-table battery.
    hashed = df.filter(key.isNotNull() & is_a.isNotNull()).select(
        F.md5(key.cast("string")).alias("__h"), is_a.alias("__a")
    )
    parts = hashed.select(
        F.conv(F.substring("__h", 1, 2), 16, 10).cast("long").alias("bucket"),
        F.conv(F.substring("__h", 3, 13), 16, 10).cast("long").alias("__w"),
        "__a",
    )
    rho = hll_rho_sql("__w")
    regs = parts.groupBy("bucket").agg(
        F.expr(f"CAST(MAX(CASE WHEN __a THEN {rho} END) AS BIGINT)").alias("reg_a"),
        F.expr(f"CAST(MAX(CASE WHEN NOT __a THEN {rho} END) AS BIGINT)").alias(
            "reg_b"
        ),
    ).withColumn(
        "reg_u",
        F.greatest(
            F.coalesce(F.col("reg_a"), F.lit(0)), F.coalesce(F.col("reg_b"), F.lit(0))
        ).cast("long"),
    )
    agg = regs.agg(
        *[
            e
            for tag in ("a", "b", "u")
            for e in (
                F.expr(f"CAST(COALESCE(MAX(reg_{tag}), 0) AS BIGINT)").alias(
                    f"rc_{tag}"
                ),
                # count(col) skips NULLs: buckets this half actually hit
                F.expr(f"CAST(COUNT(reg_{tag}) AS BIGINT)").alias(f"np_{tag}"),
                F.expr(
                    f"CAST(COALESCE(SUM(CASE WHEN reg_{tag} IS NOT NULL THEN"
                    f" shiftleft(1L, CAST({HLL_RHO_CAP} - reg_{tag} AS INT))"
                    " END), 0) AS BIGINT)"
                ).alias(f"dpc_{tag}"),
            )
        ]
    )
    lc = ",".join(str(x) for x in HLL_LC_TABLE)
    out = agg
    for tag in ("a", "b", "u"):
        out = (
            out.withColumn(
                f"__dp_{tag}",
                F.expr(
                    f"shiftright(dpc_{tag}, CAST({HLL_RHO_CAP} - rc_{tag} AS INT))"
                ),
            )
            .withColumn(f"__v_{tag}", F.expr(f"{m}L - np_{tag}"))
            .withColumn(
                f"__d_{tag}",
                F.expr(
                    f"__dp_{tag} + ({m}L - np_{tag})"
                    f" * shiftleft(1L, CAST(rc_{tag} AS INT))"
                ),
            )
            .withColumn(
                f"__nbig_{tag}",
                F.expr(f"{m}L * {m} * shiftleft(1L, CAST(rc_{tag} AS INT))"),
            )
            .withColumn(
                f"__eraw_{tag}",
                F.expr(
                    f"((__nbig_{tag} div __d_{tag}) * {HLL_ALPHA_PPM}"
                    f" + ((__nbig_{tag} % __d_{tag}) * {HLL_ALPHA_PPM})"
                    f" div __d_{tag}) div 1000000"
                ),
            )
            .withColumn(
                f"__e_{tag}",
                F.expr(
                    f"CAST(CASE WHEN __v_{tag} = {m} THEN 0L"
                    f" WHEN __v_{tag} > 0 AND 2 * __eraw_{tag} <= 5 * {m}"
                    f" THEN element_at(array({lc}), CAST(__v_{tag} AS INT))"
                    f" ELSE __eraw_{tag} END AS BIGINT)"
                ),
            )
        )
    return out.select(
        F.col("__e_a").alias("est_a"),
        F.col("__e_b").alias("est_b"),
        F.col("__e_u").alias("est_union"),
        F.expr("__e_a + __e_b - __e_u").alias("est_overlap"),
    )
