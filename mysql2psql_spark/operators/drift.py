"""Population-stability (PSI) drift primitives shared by the batch query
(`queries/events_q.py::profile_drift_psi`) and its streaming gate
(`streaming/events.py::drift_counts_foreach_batch`).

The decomposition is chosen for streaming associativity: everything up
to the (dim, bucket, period) COUNT is row-local given a frozen bounds
frame, counts are associative across any partitioning of the rows (so a
sum over micro-batch count frames equals the one-shot batch counts
EXACTLY), and the PSI tail is a deterministic function of the summed
counts. That is the equivalence the streaming test pins frame-for-frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def drift_bounds(ev: DataFrame) -> DataFrame:
    """1-row (mn, mx, vmn, vmx) bounds frame over (et, value) — the bin
    definition. Batch derives it from the full window; a production
    stream FREEZES it from the reference corpus (bins must not move
    between triggers or the counts stop being associative)."""
    return ev.agg(
        F.min("et").alias("mn"),
        F.max("et").alias("mx"),
        F.min("value").alias("vmn"),
        F.max("value").alias("vmx"),
    )


def drift_tagged(ev: DataFrame, bounds: DataFrame) -> DataFrame:
    """(period, dim, bucket) per input row x dimension: period by the
    midpoint of [mn, mx], value deciled into 10 fixed bins over
    [vmn, vmx]; the dim fan-out is a literal-array explode so the input
    scans ONCE."""
    decile = F.least(
        F.floor(
            (F.col("value") - F.col("vmn")) * 10 / (F.col("vmx") - F.col("vmn"))
        ).cast("bigint"),
        F.lit(9).cast("bigint"),
    ).cast("string")
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("et") * 2 <= F.col("mn") + F.col("mx"), 0)
        .otherwise(1)
        .alias("period"),
        F.col("event_type"),
        decile.alias("decile"),
    )
    return tagged.select(
        "period",
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_type").alias("dim"),
                    F.col("event_type").alias("bucket"),
                ),
                F.struct(
                    F.lit("value_decile").alias("dim"), F.col("decile").alias("bucket")
                ),
            )
        ).alias("db"),
    ).select(F.col("db.dim").alias("dim"), F.col("db.bucket").alias("bucket"), "period")


def drift_counts(tagged: DataFrame) -> DataFrame:
    """(dim, bucket, period, n) — the associative partial every arm
    reduces to (map-side combined; output O(buckets))."""
    return tagged.groupBy("dim", "bucket", "period").agg(
        F.count("*").cast("bigint").alias("n")
    )


def drift_psi_tail(counts: DataFrame) -> DataFrame:
    """The PSI computation over summed (dim, bucket, period, n) counts:
    pivot periods to n_a/n_b, window the per-dim totals, emit shares +
    the Laplace-smoothed PSI term. Deterministic in the counts alone.

    The batch query's midpoint split guarantees both periods whenever
    mn < mx (min-et lands in period a, max-et in period b), but the
    streaming gate does NOT inherit that guarantee: a stream arriving in
    time order has only period-0 counts until it crosses the frozen
    midpoint, so a mid-stream summary read sees tot_b = 0. A dim with a
    zero period total gets NULL share/psi_term for that side — a partial
    profile, not a failure — instead of tripping ANSI division by zero.
    Once both periods have counts the output is bit-identical to the
    unguarded form, so the batch oracle is unaffected."""
    nb_counts = counts.groupBy("dim", "bucket").agg(
        F.sum(F.when(F.col("period") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("period") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    w = W.partitionBy("dim")
    tot_a = F.sum("n_a").over(w)
    tot_b = F.sum("n_b").over(w)
    nb = F.count("*").over(w)
    pa = (F.col("n_a") + 1).cast("double") / (tot_a + nb)
    pb = (F.col("n_b") + 1).cast("double") / (tot_b + nb)
    return nb_counts.select(
        "dim",
        "bucket",
        "n_a",
        "n_b",
        F.when(
            tot_a > 0, F.round(F.col("n_a").cast("double") / tot_a, 6)
        ).alias("share_a"),
        F.when(
            tot_b > 0, F.round(F.col("n_b").cast("double") / tot_b, 6)
        ).alias("share_b"),
        F.when(
            (tot_a > 0) & (tot_b > 0),
            F.round((pa - pb) * F.log(pa / pb), 6),
        ).alias("psi_term"),
    )


def ks_two_sample(
    ev: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-key two-sample Kolmogorov-Smirnov drift statistic between
    the first and second TIME HALVES of the stream (the same midpoint
    split as the PSI gate: period a iff et*2 <= mn+mx) — the
    continuous-value companion of PSI: PSI needs bins and misses
    within-bin shifts; KS compares the full empirical CDFs.

    Integer-exact cross-engine: the statistic is reported as the
    NUMERATOR of sup_x |F_a(x) - F_b(x)| over the common denominator
    n_a*n_b, i.e. max over observed values of
    |cum_a(x)*n_b - cum_b(x)*n_a| — pure counts, no division, so Spark
    and any SQL oracle agree bit-for-bit (the consumer divides by
    n_a*n_b when it wants the classical D in [0,1]). Products are
    computed in decimal(38,0), so they cannot silently wrap; the final
    BIGINT cast is exact while n_a*n_b < 2^63 (~3e9 rows per side per
    key) and RAISES beyond (ks_tail guards the cast — a bare non-ANSI
    cast would go NULL and the argmax would silently understate) —
    loud, never silently wrong. A 100 TB deployment past that bound
    should KS a per-key quantile sketch instead of raw values.

    Scale shape: the (key, value) count agg is map-side combined (the
    only corpus-sized work; output = per-key distinct values); the ECDF
    window partitions by key over the aggregated value table — the
    events_changepoint class (post-agg-sized, one task per key); the
    argmax window sees the same rows. A key whose distinct-value table
    outgrows one task decomposes by the w7 two-phase pattern (bucket
    partial ECDFs, then stitch offsets) — not needed at fixture scale.
    """
    bounds = ev.agg(F.min("et").alias("mn"), F.max("et").alias("mx"))
    return ks_tail(
        ks_value_counts(ks_tagged(ev, bounds, key_col, value_col)),
        key_col=key_col,
        value_col=value_col,
    )


def ks_tagged(
    ev: DataFrame,
    bounds: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """(key, value, period) per input row given a FROZEN 1-row (mn, mx)
    bounds frame — row-local, the drift_tagged discipline: bounds must
    not move between micro-batches or the counts stop being
    associative."""
    return ev.crossJoin(F.broadcast(bounds)).select(
        key_col,
        value_col,
        F.when(F.col("et") * 2 <= F.col("mn") + F.col("mx"), 0)
        .otherwise(1)
        .alias("period"),
    )


def ks_value_counts(
    tagged: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """(key, value, period, n) — the associative KS partial (map-side
    combined; output = per-key distinct values x 2, sublinear in the
    stream). A sum of these frames over ANY micro-batch partitioning of
    the rows equals the one-shot counts EXACTLY, which is what makes
    the streaming gate's summary bit-identical to the batch statistic."""
    return tagged.groupBy(key_col, value_col, "period").agg(
        F.count("*").cast("bigint").alias("n")
    )


def ks_tail(
    counts: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """The KS computation over summed (key, value, period, n) counts:
    pivot periods, cumulative ECDF sums in value order, max
    |cum_a*n_b - cum_b*n_a| with the argmax at the smallest value on
    ties. Deterministic in the counts alone. A mid-stream read that has
    only seen one period yields ks_num = 0 for every key (the empty
    side's ECDF is identically zero) — a defined partial, not an
    error."""
    # SQL text: one parsed expression per output column
    vc = counts.groupBy(key_col, value_col).agg(
        F.expr("CAST(sum(CASE WHEN period = 0 THEN n ELSE 0 END) AS BIGINT) AS ca"),
        F.expr("CAST(sum(CASE WHEN period = 1 THEN n ELSE 0 END) AS BIGINT) AS cb"),
    )
    wcum = f"OVER (PARTITION BY {key_col} ORDER BY {value_col})"
    wall = f"OVER (PARTITION BY {key_col})"
    dec = "DECIMAL(38,0)"
    cum = vc.selectExpr(
        key_col,
        value_col,
        f"CAST(sum(ca) {wcum} AS {dec}) AS cum_a",
        f"CAST(sum(cb) {wcum} AS {dec}) AS cum_b",
        f"CAST(sum(ca) {wall} AS {dec}) AS n_a",
        f"CAST(sum(cb) {wall} AS {dec}) AS n_b",
        f"CAST(count(*) {wall} AS BIGINT) AS n_values",
    )
    # |cum_a*n_b - cum_b*n_a| is exact in decimal(38,0); the bigint cast
    # is exact while it fits and must RAISE beyond (r16, ADVICE): under
    # non-ANSI Spark an overflowing cast yields NULL, and the argmax
    # window (diff DESC, nulls last) would then silently return the
    # largest NON-overflowed diff — understating ks_num instead of
    # failing. Reachable only past n_a*n_b >= 2^63 (~3e9 rows per side
    # per key); such a deployment should KS a quantile sketch instead.
    diff_dec = "abs(cum_a * n_b - cum_b * n_a)"
    overflow = (
        "raise_error(concat('ks_tail: |cum_a*n_b - cum_b*n_a| overflows bigint "
        f"(n_a*n_b >= 2^63) for key ', CAST({key_col} AS STRING),"
        " ' — KS a per-key quantile sketch at this scale'))"
    )
    d = cum.selectExpr(
        key_col,
        value_col,
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "n_values",
        f"CASE WHEN {diff_dec} <= CAST('9223372036854775807' AS {dec})"
        f" THEN CAST({diff_dec} AS BIGINT) ELSE CAST({overflow} AS BIGINT) END AS diff",
    )
    return (
        d.withColumn(
            "rn",
            F.expr(f"row_number() OVER (PARTITION BY {key_col} ORDER BY diff DESC, {value_col})"),
        )
        .filter("rn = 1")
        .selectExpr(
            key_col, "n_a", "n_b", "n_values", "diff AS ks_num", f"{value_col} AS ks_at_value"
        )
    )
