"""Multi-dimensional data-layout optimization (Z-order clustering) [EXT].

Why this exists at 100 TB: parquet scans skip row groups whose footer
min/max stats exclude the pushed predicate. A linear sort clusters ONE
column — filters on any other column scan everything. Interleaving the
bits of several columns' bucket ranks (a Morton / Z-order curve) gives
every participating column locality, so selective predicates on ANY of
them prune files and row groups. This is the same layout strategy as
Delta Lake's OPTIMIZE ZORDER BY and is a pure re-expression: bucketize
-> bit-interleave -> range-repartition -> sort within partitions. All
of it is JVM-side integer arithmetic inside whole-stage codegen; the
only driver-side step is the optional quantile-boundary sample (bounded:
``bits`` boundaries per column via approxQuantile).

Two bucketizers:

- ``uniform_bucket``: fixed [lo, hi) range split into 2^bits equal
  cells. Deterministic given the bounds — the oracle-able path (the
  ``layout_zorder_key`` query hash-matches DuckDB on the same
  arithmetic) — but skew-sensitive: a hot cell defeats pruning.
- ``quantile_buckets``: boundaries from ``approxQuantile`` so every
  cell holds ~equal rows regardless of skew. The production path for
  unknown distributions; approximate boundaries are fine because the
  curve only needs balance, not exact ranks.

Exactness note: ``uniform_bucket`` is floor((v-lo)/step) clamped to
[0, 2^bits), spelled identically in Spark and the DuckDB oracle —
IEEE double division and floor agree bit-for-bit, so the bucket (and
therefore the interleaved key) hash-matches.

The payoff is measured, not asserted: tests/test_layout.py writes the
same rows in natural, linearly-sorted, and z-ordered layouts and counts
parquet files whose footer stats survive a two-sided rectangle
predicate — z-order prunes on BOTH dimensions, linear sort only on its
sort column. A Hilbert curve would cluster marginally better (no long
diagonal jumps) at the cost of a far bigger bit-twiddling expression;
Z-order's prune factor is what the production systems ship, so that is
what this module ships.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def uniform_bucket(col: Column | str, lo: float, hi: float, bits: int) -> Column:
    """Rank ``col`` into [0, 2^bits) uniform cells over [lo, hi).

    floor((v - lo) / step) clamped into range; NULL maps to cell 0 (the
    curve start) so NULL rows cluster together instead of killing the
    file's stats range.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = 1 << bits
    step = (hi - lo) / n
    raw = F.floor((c.cast("double") - F.lit(float(lo))) / F.lit(step))
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")
    return F.coalesce(clamped, F.lit(0).cast("long"))


def quantile_buckets(
    df: DataFrame, col: str, bits: int, rel_err: float | None = None
) -> Column:
    """Rank ``col`` into ~equal-population cells via sampled quantile
    boundaries (skew-robust). Driver memory is bounded: 2^bits - 1
    boundary doubles per column. The bucket index is computed as the
    count of boundaries <= v — an O(2^bits) fold over an array literal,
    JVM-side, no UDF.

    ``rel_err`` defaults to 1/(8 * 2^bits): the boundary rank error must
    be small RELATIVE TO A CELL (width 1/2^bits of the rank space) or
    cell populations vary by integer factors and the downstream curve
    segments cover uneven value ranges. The Greenwald-Khanna sketch
    behind approxQuantile grows ~1/rel_err * log(rel_err * N) entries —
    still a bounded single-pass aggregate at any scale."""
    n = 1 << bits
    if rel_err is None:
        rel_err = 1.0 / (8 * n)
    probs = [i / n for i in range(1, n)]
    bounds = df.stat.approxQuantile(col, probs, rel_err)
    # Heavy ties produce repeated boundaries; the fold then skips
    # straight past them (fewer distinct cells, which is fine).
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    c = F.col(col).cast("double")
    idx = F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(c >= b, 1).otherwise(0),
    )
    return F.coalesce(idx, F.lit(0).cast("long"))


def zorder_key(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of each bucket rank into one
    Morton key: output bit ``j*k + i`` is bit ``j`` of column ``i``.
    Pure shift/mask/or expressions — whole-stage codegen keeps this in
    registers. ``len(bucket_cols) * bits`` must be <= 63."""
    k = len(bucket_cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long key")
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, b in enumerate(bucket_cols):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


def optimize_layout(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 8,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Cluster ``df`` along the Z-order curve of ``cols``: compute the
    Morton key (uniform cells when ``bounds`` gives a column's [lo, hi),
    sampled quantile cells otherwise), split the curve into ``num_files``
    EQUAL-LENGTH segments (file f = keys in [f, f+1) * 2^(k*bits) /
    num_files), range-partition on that file number, and sort within
    each partition so row groups inside a file are tight too. Write the
    result with any sink; the key columns are dropped before return.

    The explicit file number matters: range-partitioning directly on the
    raw key draws its boundaries from a ~100-rows-per-partition sample,
    so file boundaries land mid-block and every file straddles two curve
    blocks (measured: mean per-file column span ~45% of the range vs
    ~25% ideal for 16 files / 2 dims). Aligning boundaries to fixed
    curve segments makes each file exactly one block; the remaining
    range exchange only has to separate ``num_files`` distinct values.
    File POPULATIONS stay balanced whenever the key is ~uniform over its
    range — guaranteed by quantile bucketing (the default); with
    ``bounds`` + skewed data, sizes follow the skew (the documented
    trade-off of uniform cells).

    One shuffle total (the range repartition); the quantile sketch adds
    one narrow aggregation per unbounded column.
    """
    buckets = []
    for c in cols:
        if bounds and c in bounds:
            lo, hi = bounds[c]
            buckets.append(uniform_bucket(c, lo, hi, bits))
        else:
            buckets.append(quantile_buckets(df, c, bits))
    key_bits = len(cols) * bits
    key_space = 1 << key_bits
    if key_bits + int(num_files).bit_length() <= 63:
        # exact long arithmetic (div is integer division, / would go
        # through double and lose exactness past 2^53)
        zfile = F.expr(f"(__zkey * {int(num_files)}) div {key_space}L")
    else:
        # exact decimal integer division. The divisor is built from a
        # string: 2^63 (3 cols x 21 bits) overflows the long an int
        # literal is sent to the JVM as. ``/`` would round the quotient
        # to scale 6, so keys just below 2^63 landed in file num_files.
        zfile = F.expr(
            f"(CAST(__zkey AS DECIMAL(38,0)) * {int(num_files)}) "
            f"div CAST('{key_space}' AS DECIMAL(38,0))"
        )
    keyed = df.withColumn("__zkey", zorder_key(buckets, bits)).withColumn(
        "__zfile", zfile
    )
    return (
        keyed.repartitionByRange(num_files, "__zfile")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", "__zfile")
    )


def zorder_key_sql(
    cols: list[tuple[str, float, float]], bits: int
) -> str:
    """The ANSI-SQL spelling of ``uniform_bucket`` + ``zorder_key`` for
    the DuckDB oracle: the exact same floor/clamp/shift arithmetic, so
    the interleaved key hash-matches bit-for-bit."""
    k = len(cols)
    bucket_exprs = []
    for name, lo, hi in cols:
        n = 1 << bits
        step = (hi - lo) / n
        # decimal-point literals default to DECIMAL in DuckDB — cast them
        # to DOUBLE so the division is IEEE, same as the Spark side
        bucket_exprs.append(
            f"COALESCE(LEAST(GREATEST(CAST(FLOOR((CAST({name} AS DOUBLE)"
            f" - CAST({lo!r} AS DOUBLE)) / CAST({step!r} AS DOUBLE))"
            f" AS BIGINT), 0), {n - 1}), 0)"
        )
    terms = []
    for j in range(bits):
        for i, b in enumerate(bucket_exprs):
            terms.append(f"((({b} >> {j}) & 1) << {j * k + i})")
    return " | ".join(terms)
