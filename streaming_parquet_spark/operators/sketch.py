"""Fixed-memory frequency/cardinality/quantile sketches, built
deterministically from portable arithmetic so the DuckDB oracle
reproduces every register and counter bit-for-bit (public algorithms:
Flajolet et al. 2007 HyperLogLog; Cormode & Muthukrishnan 2005
count-min; two-pass equi-width histogram quantiles as in classic
parallel DBMS estimators).

Why sketches at 100 TB: COUNT(DISTINCT x) shuffles every distinct
value; a HLL register file is 64 integers per group no matter how many
distinct values exist, and registers MERGE by max — so partial
aggregation collapses each map task to one register set before the
exchange. Likewise a count-min sketch answers frequency queries from
d*w counters instead of a corpus-wide groupBy(term) — and counters
merge by addition, so partials combine map-side too.

Determinism: Spark's own approx_count_distinct is deterministic but
its hash is JVM-internal — no oracle could check it. These sketches
use the repo's md5-based 32-bit hash (functions.portable.hex_to_i32)
and universal-hash coefficients, both expressible in ANSI SQL, so the
correctness gate verifies the SKETCH ITSELF, not just a tolerance.

Reference parity: none (SURVEY §2.11 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from streaming_parquet_spark.functions.portable import (
    round_to_col,
    MERSENNE31,
    _coeff_a,
    _coeff_b,
)

#: HLL bias-correction constant for m=64 registers (Flajolet et al.)
_HLL_ALPHA_64 = 0.709


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    hash_col: str,
    p: int = 6,
) -> DataFrame:
    """HLL register file per group from a 32-bit ``hash_col`` in
    [0, 2^32): bucket = low p bits, rho = leading-zero count of the
    remaining (32-p) bits + 1 (0 for empty buckets, handled at
    estimate time). One groupBy — and max() partial-aggregates, so
    each map task emits <= 2^p rows per group regardless of input
    size. That IS the sketch property."""
    m = 1 << p
    bits = 32 - p
    w = f"CAST(floor({hash_col} / {m}) AS BIGINT)"
    rho = (
        f"CASE WHEN {w} = 0 THEN {bits + 1} "
        f"ELSE {bits} - length(bin({w})) + 1 END"
    )
    return (
        df.select(
            *group_cols,
            F.expr(f"CAST({hash_col} % {m} AS INT)").alias("bucket"),
            F.expr(rho).cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Harmonic-mean HLL estimate per group from a register file.
    The indicator sum uses exact integers (2^(maxrho - rho) per
    register, empty registers contribute 2^maxrho), so the only FP op
    is one final division of exact operands — bit-identical in any
    engine. No small/large-range corrections (they need ln(); the raw
    estimator keeps the oracle exact and is accurate in the fixture's
    range)."""
    if p != 6:
        raise ValueError("alpha constant tabulated for p=6 (m=64) only")
    m = 1 << p
    maxrho = 32 - p + 1
    numer = _HLL_ALPHA_64 * m * m * (1 << maxrho)
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {maxrho} - rho)"
    )
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.sum(term).alias("__s"),
            F.count(F.lit(1)).alias("__nb"),
        )
        .select(
            *group_cols,
            round_to_col(
                F.lit(numer)
                / (
                    F.col("__s")
                    + (F.lit(m) - F.col("__nb"))
                    * F.lit(1 << maxrho).cast("long")
                ),
                2,
            ).alias("hll_est"),
        )
    )


def cms_counters(
    df: DataFrame,
    hash_col: str,
    d: int = 3,
    w: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min counter table (row, bucket, c) over item occurrences:
    row i uses the universal hash (A_i*x + B_i) mod (2^31-1) mod w.
    One groupBy over the exploded (row, bucket) pairs; counters
    partial-aggregate map-side, and the whole table is d*w rows —
    broadcastable no matter the corpus size.

    ``weight_col``: build the same counters from a PRE-AGGREGATED
    relation of (hash, occurrence_count) rows instead of one row per
    occurrence. The bucket is a function of the hash alone, so summing
    the counts per (row, bucket) yields counter-for-counter identical
    output — but the d-way explode and the md5 hashing upstream run
    over the vocabulary, not the corpus."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    F.expr(
                        f"CAST((({_coeff_a(i)} * {hash_col}"
                        f" + {_coeff_b(i)}) % {MERSENNE31}) % {w} AS INT)"
                    ).alias("bucket"),
                )
                for i in range(d)
            ]
        )
    )
    weight = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    )
    sel = ["rb.row", "rb.bucket"] + (
        [weight_col] if weight_col is not None else []
    )
    return (
        df.select(rows.alias("rb"), *(
            [F.col(weight_col)] if weight_col is not None else []
        ))
        .select(*sel)
        .groupBy("row", "bucket")
        .agg(weight.alias("c"))
    )


def cms_join_size(
    counters_a: DataFrame, counters_b: DataFrame, d: int = 3
) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches over
    the join keys: |A JOIN B| ~= min over rows of the bucket-wise
    inner product sum(cA * cB) (Cormode & Muthukrishnan 2005, §4.2 —
    the AMS-style inner-product estimate, upward-biased by hash
    collisions). One row out: (join_size_est).

    This is what a cost-based planner wants BEFORE running a join: the
    sketches are d*w rows each regardless of table size, merge by
    addition across partitions/partial loads, and the estimate is a
    broadcast-joinable aggregate — no scan of either table at
    planning time.

    SIZE w TO THE WORKLOAD: the additive error is ~|A|*|B|/w per row
    (min over d rows tightens the constant, not the rate), so w must
    exceed |A|*|B| / (acceptable absolute error). The probe-side
    default w=1024 is far too small for join estimation over
    10^4-row-plus tables — pass the same larger w to both
    cms_counters calls (sketch size is still d*w rows; w=2^20 is 3 MB
    of counters and resolves joins of 10^5-row tables to ~10%)."""
    a = counters_a.select("row", "bucket", F.col("c").alias("ca"))
    b = counters_b.select("row", "bucket", F.col("c").alias("cb"))
    # DOUBLE accumulator: a hot CMS cell's count approaches the table
    # size, so ca*cb wraps int64 once both sides pass ~3e9 rows —
    # exactly the tables worth sketching.  double * bigint products
    # (no int64 intermediate); the estimate is collision-biased anyway,
    # so >2^53 exactness loss is far below the sketch's own error.
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("ca").cast("double") * F.col("cb")).alias("ip"))
    )
    return per_row.agg(
        F.floor(F.min("ip")).cast("bigint").alias("join_size_est")
    )


def cms_probe(
    counters: DataFrame,
    candidates: DataFrame,
    hash_col: str,
    d: int = 3,
    w: int = 1024,
) -> DataFrame:
    """Estimate each candidate's frequency: min over the d counters its
    hashes select. Broadcast the counter table (d*w rows); the join is
    a d-way explode + equi-join + min_by aggregate. Estimates
    overcount only (collisions add, never subtract) — the classic CMS
    one-sided guarantee, which the parity test asserts."""
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    F.expr(
                        f"CAST((({_coeff_a(i)} * {hash_col}"
                        f" + {_coeff_b(i)}) % {MERSENNE31}) % {w} AS INT)"
                    ).alias("bucket"),
                )
                for i in range(d)
            ]
        )
    )
    keep = [c for c in candidates.columns]
    # LEFT join: a probed bucket with NO counter row proves count 0
    # (stronger than any collision-inflated counter) — an inner join
    # would silently drop such candidates from the output entirely.
    return (
        candidates.withColumn("pr", probes)
        .select(*keep, "pr.row", "pr.bucket")
        .join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy(*keep)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
    )


def histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    fixed_col: str,
    percents: list[int],
    bins: int = 64,
    scale: int = 100,
) -> DataFrame:
    """Per-group quantile estimates from a two-pass equi-width
    histogram over an INTEGER fixed-point column (e.g. cents) — the
    mergeable alternative to exact sort-based percentiles
    (``rel_percentiles``) and to approx_percentile (whose KLL internals
    are JVM-private and thus un-oracle-able).

    Pass 1 computes per-group (min, max, n) — a narrow partial-
    aggregated shuffle of one row per group, broadcast back. Pass 2
    buckets every value into ``bins`` equi-width bins over
    [min, max] with pure integer arithmetic::

        bin = ((v - mn) * bins) DIV (mx - mn + 1)

    and counts per (group, bin) — partial-aggregated, so each map task
    emits <= bins rows per group no matter the input size; bin counts
    MERGE BY ADDITION across partitions/loads given a shared grid.
    That is the sketch property: at 100 TB the exchange carries
    groups x bins integers, not the corpus, and no global sort exists.

    The estimate for percent p is rank r = ceil(p*n/100) (exact
    integer: ``(p*n + 99) DIV 100``), located in the first bin whose
    cumulative count reaches r (a window over <= ``bins`` rows per
    group — group-local, never corpus-wide), then linearly
    interpolated inside the bin on the exact rational::

        est = (mn + width*(bin*cnt + r - cum_before) / (bins*cnt)) / scale

    with width = mx - mn + 1. Every operand is an exact integer and
    the two divisions are the only FP ops, so any engine reproduces
    the estimate bit-for-bit. Exactness bound: the interpolation
    numerator must fit int64 — width * bins * per-bin-count < 2^63,
    i.e. ~1.4e10 rows per (group, bin) at cent-scale widths; raise
    ``bins`` (shrinking per-bin counts) if a group ever approaches it.
    The bound is ENFORCED, not just documented: the estimate raises
    (raise_error, checked in float so the check itself cannot
    overflow) when width * bins * count exceeds ~2^62 — past it both
    engines would go wrong identically, so the oracle gate could
    never catch a silent overflow.

    Output: group_cols, pct (int), n, est (rounded to 4 places in
    original units).
    """
    from pyspark.sql import Window as W

    bounds = df.groupBy(*group_cols).agg(
        F.min(fixed_col).alias("__mn"),
        F.max(fixed_col).alias("__mx"),
        F.count(F.lit(1)).alias("__n"),
    )
    binned = df.join(F.broadcast(bounds), group_cols).select(
        *group_cols,
        F.expr(
            f"CAST((({fixed_col} - __mn) * {bins})"
            f" DIV (__mx - __mn + 1) AS INT)"
        ).alias("__bin"),
    )
    counts = (
        binned.groupBy(*group_cols, "__bin")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .join(F.broadcast(bounds), group_cols)
    )
    w = W.partitionBy(*group_cols).orderBy("__bin")
    cum = counts.withColumn("__cum", F.sum("__cnt").over(w)).withColumn(
        "__cumb", F.col("__cum") - F.col("__cnt")
    )
    qs = F.explode(
        F.array(*[F.lit(int(p)).cast("int") for p in percents])
    ).alias("pct")
    # rows = groups x occupied-bins x |percents| — still sketch-sized.
    picked = (
        cum.select("*", qs)
        .withColumn(
            "__rank", F.expr("(pct * __n + 99) DIV 100")
        )
        .filter(
            (F.col("__cumb") < F.col("__rank"))
            & (F.col("__rank") <= F.col("__cum"))
        )
    )
    est = round_to_col(
        (
            F.col("__mn")
            + (
                (F.col("__mx") - F.col("__mn") + F.lit(1))
                * (
                    F.col("__bin") * F.col("__cnt")
                    + F.col("__rank")
                    - F.col("__cumb")
                )
            ).cast("double")
            / (F.lit(bins) * F.col("__cnt"))
        )
        / F.lit(scale),
        4,
    )
    # Enforce the documented int64 interpolation bound. The check runs
    # in double (no overflow while checking); 4e18 < 2^62 leaves margin
    # for the float compare itself. Embedded in the output column so
    # column pruning can never drop it.
    overflow = (
        (F.col("__mx") - F.col("__mn") + F.lit(1)).cast("double")
        * F.lit(float(bins))
        * F.col("__cnt").cast("double")
        > F.lit(4.0e18)
    )
    est = F.when(
        overflow,
        F.expr(
            "CAST(raise_error('histogram_quantiles: (mx-mn+1)*bins*count"
            " exceeds the int64 interpolation bound; raise bins')"
            " AS DOUBLE)"
        ),
    ).otherwise(est)
    return picked.select(
        *group_cols,
        "pct",
        F.col("__n").alias("n"),
        est.alias("est"),
    )


def histogram_quantiles_oracle_sql(
    source_sql: str,
    group_col: str,
    fixed_expr: str,
    percents: list[int],
    bins: int = 64,
    scale: int = 100,
) -> str:
    """DuckDB SQL reproducing histogram_quantiles bit-for-bit over
    ``source_sql`` (must yield ``group_col`` and the raw value the
    caller turns into an integer via ``fixed_expr``)."""
    pcts = ", ".join(f"({int(p)})" for p in percents)
    return f"""
    WITH src AS ({source_sql}),
    vals AS (
      SELECT {group_col} AS g, {fixed_expr} AS v FROM src
    ),
    bounds AS (
      SELECT g, MIN(v) AS mn, MAX(v) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM vals GROUP BY 1
    ),
    counts AS (
      SELECT v.g,
             CAST(((v.v - b.mn) * {bins}) // (b.mx - b.mn + 1) AS INT)
               AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM vals v JOIN bounds b ON v.g = b.g
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT c.g, c.bin, c.cnt, b.mn, b.mx, b.n,
             SUM(c.cnt) OVER (PARTITION BY c.g ORDER BY c.bin) AS cm
      FROM counts c JOIN bounds b ON c.g = b.g
    ),
    picked AS (
      SELECT g, bin, cnt, mn, mx, n, cm, cm - cnt AS cmb,
             pct, (pct * n + 99) // 100 AS r
      FROM cum, (VALUES {pcts}) q(pct)
      WHERE cm - cnt < (pct * n + 99) // 100
        AND (pct * n + 99) // 100 <= cm
    )
    SELECT g AS {group_col}, CAST(pct AS INTEGER) AS pct, n,
           floor(((mn + CAST((mx - mn + 1) * (bin * cnt + r - cmb)
                 AS DOUBLE) / ({bins} * cnt)) / {scale}) * 1e4 + 5e-1) / 1e4 AS est
    FROM picked
    """
