"""Sketch operators (HyperLogLog, Count-Min) for corpus-scale summaries.

At 100 TB, COUNT(DISTINCT url) / COUNT(DISTINCT fingerprint) per source is
a shuffle of every distinct key; an HLL register table is a fixed
2^p-bucket aggregate that map-side-combines (max per bucket) and answers
the same question within ~1.04/sqrt(2^p) relative error (Flajolet et al.
2007, AofA; the LinearCounting small-range correction per the HLL paper's
§4 / Heule et al. 2013 practice).

PORTABILITY SPEC (same philosophy as dedup.minhash_bands' md5 spec):
hash = first 15 hex chars of md5(value) parsed base-16 (60 bits, fits
BIGINT in any engine); bucket = top p bits; rho = leading-zero count of
the remaining (60-p)-bit word + 1, computed via the INTEGER identity
rho = (60-p) - length(bin(w)) + 1 (bin() = minimal binary string, no
float log2 anywhere). The register sum stages as an exact BIGINT —
sum(2^(50-rho)) with rho <= 49 — so bucket-order float drift cannot move
the estimate; the only floats are the final division and (in the
small-range branch) one ln(), rounded before cross-engine hashing.

Register tables are also MERGEABLE (max per bucket) — union two corpora's
registers and re-estimate without touching the data, the property that
makes the sketch shippable across snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    """HLL bias constant (Flajolet et al. 2007 §4)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 12,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The 2^p-bucket register table: (group_cols..., bucket, register).

    One groupBy — the max() per bucket is map-side combinable, so a hot
    value (or a skewed group) collapses before the shuffle. Only occupied
    buckets appear (empty buckets are implicit zeros, reconstructed at
    estimate time)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    w_bits = 60 - p
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
               16, 10).cast("long")
    # top-p-bits bucket via shiftright — EXACT on the 60-bit hash; a
    # double division (h / 2^w_bits) would round h's low bits (values
    # exceed 2^53) and could flip a bucket at a boundary, silently
    # diverging from the oracle's exact integer division
    bucket = F.shiftright(h, w_bits)
    w = h % F.lit(2 ** w_bits)
    rho = (
        F.when(w == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - F.length(F.bin(w)) + 1)
    ).cast("int")
    gcols = list(group_cols or [])
    return (
        df.select(*gcols, bucket.alias("bucket"), rho.alias("_rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("_rho").alias("register"))
    )


def hll_estimate(
    registers: DataFrame,
    p: int = 12,
    group_cols: list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Estimate distinct counts from a register table: (group_cols...,
    n_buckets_used, estimate). Applies the LinearCounting small-range
    correction (estimate <= 2.5m with empty buckets present)."""
    m = 2 ** p
    alpha = _alpha(m)
    gcols = list(group_cols or [])
    # exact integer register sum: sum(2^-rho) * 2^50, rho in [1, 60-p+1]
    # (pow(2.0, k) is exact in double for k <= 50; the cast and the sum
    # are integer-exact, so bucket order cannot perturb the estimate)
    term = F.pow(F.lit(2.0), F.lit(50) - F.col("register")).cast("long")
    agg = registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.sum(term).alias("_s_used"),
    )
    zeros = F.lit(m) - F.col("n_buckets_used")
    s = F.col("_s_used") + zeros * F.lit(2 ** 50)
    raw = F.lit(alpha * m * m * float(2 ** 50)) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *gcols, "n_buckets_used",
        F.round(est, round_to).alias("estimate"))


def hll_distinct(
    df: DataFrame,
    col: str,
    p: int = 12,
    group_cols: list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """registers + estimate in one call: approximate COUNT(DISTINCT col)
    [per group]. See module docstring for the portability spec."""
    regs = hll_registers(df, col, p=p, group_cols=group_cols)
    return hll_estimate(regs, p=p, group_cols=group_cols, round_to=round_to)


def count_min_table(
    df: DataFrame,
    col: str,
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """Count-Min sketch counter table (Cormode & Muthukrishnan 2005):
    (row, bucket, cnt) with d hash rows of w counters — a fixed d*w-cell
    frequency summary of an unbounded value stream.

    Same portability spec as hll_registers: hash row r of value v buckets
    at (md5-60-bit of "r:"||v) % w — integer arithmetic end to end, so
    the oracle recomputes the table cell-for-cell. Build is ONE groupBy
    on (row, bucket): map-side partial sums absorb hot values before the
    shuffle (the sketch's whole point at 100 TB — frequency without a
    per-key shuffle). Tables are MERGEABLE: cell-wise SUM combines
    snapshots."""
    if w < 2 or d < 1:
        raise ValueError(f"need w >= 2, d >= 1; got w={w}, d={d}")

    def bucket(r: int):
        h = F.conv(F.substring(F.md5(
            F.concat(F.lit(f"{r}:"), F.col(col).cast("string"))), 1, 15),
            16, 10).cast("long")
        return (h % w).cast("long")

    rows = F.array(*[bucket(r) for r in range(d)])
    return (
        df.select(F.posexplode(rows).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def count_min_estimate(
    counters: DataFrame,
    queries: DataFrame,
    query_col: str,
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """Point-query the sketch: estimate(v) = min over the d rows of the
    counter at that row's bucket for v — an upper bound on the true count
    (>= true, within eps*N with probability 1-delta for w=ceil(e/eps),
    d=ceil(ln 1/delta)). `queries` is a (small) DataFrame of values;
    missing cells count 0. Returns (query_col, estimate)."""

    def bucket(r: int):
        h = F.conv(F.substring(F.md5(
            F.concat(F.lit(f"{r}:"), F.col(query_col).cast("string"))),
            1, 15), 16, 10).cast("long")
        return (h % w).cast("long")

    probes = queries.select(
        query_col,
        F.posexplode(F.array(*[bucket(r) for r in range(d)])
                     ).alias("row", "bucket"))
    return (
        probes.join(counters, ["row", "bucket"], "left")
        .groupBy(query_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long")
             .alias("estimate"))
    )


def bloom_bits(
    df: DataFrame,
    col: str,
    m: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Bloom filter bit-set (Bloom 1970) as a one-column DataFrame of SET
    bit positions: value v sets bits (md5-60-bit of "r:"||v) % m for r in
    0..k-1 — the same portable spec as the other sketches, so an oracle
    reproduces the bit-set (and therefore the exact same false positives).

    Stored sparse (only set positions, distinct) — at most min(k*N, m)
    rows; broadcast it to prune a big join/scan before the shuffle (the
    classic semi-join pruning shape). Bit-sets from two corpora merge by
    plain union+distinct."""
    if m < 2 or k < 1:
        raise ValueError(f"need m >= 2, k >= 1; got m={m}, k={k}")

    def pos(r: int):
        h = F.conv(F.substring(F.md5(
            F.concat(F.lit(f"{r}:"), F.col(col).cast("string"))), 1, 15),
            16, 10).cast("long")
        return (h % m).cast("long")

    return (
        df.select(F.explode(F.array(*[pos(r) for r in range(k)]))
                  .alias("bit"))
        .distinct()
    )


def bloom_might_contain(
    probes: DataFrame,
    bits: DataFrame,
    col: str,
    m: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Probe the filter: might_contain(v) = all k of v's bit positions
    are set. No false negatives; false-positive rate ~ (1 - e^(-kN/m))^k.
    Returns `probes` + a boolean `might_contain` column.

    Plan shape: explode each probe to its k positions, LEFT join the
    (broadcastable) bit-set, AND-reduce per probe — the big probe side
    shuffles on nothing when `bits` broadcasts. Probes are treated as a
    SET (the AND-reduce groups by the full probe row; duplicates
    collapse)."""

    def pos(r: int):
        h = F.conv(F.substring(F.md5(
            F.concat(F.lit(f"{r}:"), F.col(col).cast("string"))), 1, 15),
            16, 10).cast("long")
        return (h % m).cast("long")

    cols = probes.columns
    exploded = probes.select(
        *cols, F.explode(F.array(*[pos(r) for r in range(k)])).alias("bit"))
    marked = exploded.join(
        bits.select("bit", F.lit(True).alias("_set")), "bit", "left")
    return (
        marked.groupBy(*cols)
        .agg((F.sum(F.coalesce(F.col("_set").cast("int"), F.lit(0)))
              == F.lit(k)).alias("might_contain"))
    )
