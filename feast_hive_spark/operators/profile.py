"""Column-profiling operator: the ANALYZE/data-quality shape every
training-data pipeline runs before ingest (null rates, cardinalities,
ranges per column).

One pass, one aggregate row, unpivoted to a row per column with
``stack`` — the scan reads only the profiled columns and every stat is
a codegen'd aggregate; no per-column jobs, no Python."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_hive_spark.plans.local import local_frame


def profile_columns(df: DataFrame, numeric_cols: Sequence[str]) -> DataFrame:
    """Per-column stats for numeric columns: row count, nulls, distinct
    count, min/max/mean (mean rounded to 4 for cross-engine parity).

    Output: (column, n_rows, n_null, n_distinct, min_val, max_val,
    mean_val) — one row per profiled column, computed in a SINGLE
    aggregate over a single scan however many columns are profiled."""
    if not numeric_cols:
        raise ValueError("profile_columns requires at least one column")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in numeric_cols:
        col = F.col(c).cast("double")
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__null_{c}"),
            F.countDistinct(col).alias(f"__dist_{c}"),
            F.min(col).alias(f"__min_{c}"),
            F.max(col).alias(f"__max_{c}"),
            F.round(F.avg(col), 4).alias(f"__mean_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = []
    for c in numeric_cols:
        stack_args.append(f"'{c}', __null_{c}, __dist_{c}, __min_{c}, __max_{c}, __mean_{c}")
    stacked = one.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(numeric_cols)}, {', '.join(stack_args)}) AS "
            "(column_name, n_null, n_distinct, min_val, max_val, mean_val)"
        ),
    )
    return stacked.select(
        "column_name",
        "n_rows",
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
        "mean_val",
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference slice and a
    current slice of a numeric feature — the standard train/serve
    drift monitor (rule of thumb: PSI < 0.1 stable, > 0.25 shifted).

    Bin edges come from the REFERENCE distribution only (equal-width
    over its [min, max], the value_histogram grid formula); current
    values outside the reference range clamp into the edge bins, which
    is exactly the drift signal PSI should see. Per-bin proportions
    are Laplace-smoothed ((n + 0.5) / (N + 0.5 * bins)) so empty bins
    stay finite, and each bin's contribution ``(p - q) * ln(p / q)``
    is fixed to nano-units BEFORE any summation — the total PSI is an
    order-independent integer sum, bit-identical cross-engine.

    Scale shape: one 1-row bounds broadcast, one bin-keyed count per
    side (partial agg collapses map-side), a bins-sized assembly join.
    Output: ``(bin, n_ref, n_cur, contrib_e9)``; total PSI =
    sum(contrib_e9) / 1e9.
    """
    spark = ref.sparkSession
    mm = ref.agg(
        F.min(value_col).alias("mn"), F.max(value_col).alias("mx")
    )

    def binned_counts(df: DataFrame, out: str) -> DataFrame:
        # NULL values are EXCLUDED, not binned: Spark's least()/
        # greatest() skip nulls, so a null value would otherwise land
        # silently in the TOP bin and masquerade as a mass shift. A
        # null-RATE drift is a different monitor (profile_columns
        # reports it); PSI here compares the distributions of present
        # values.
        df = df.filter(F.col(value_col).isNotNull())
        b = F.when(
            F.col("mx") > F.col("mn"),
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col(value_col) - F.col("mn"))
                        / (F.col("mx") - F.col("mn")).cast("double")
                        * n_bins
                    ).cast("long"),
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))
        return (
            df.crossJoin(F.broadcast(mm))
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    r = binned_counts(ref, "n_ref")
    c = binned_counts(cur, "n_cur")
    # n_bins-row table cached (r13, guide §1.3): joined feeds the
    # totals scalar AND the contribution readout — uncached, both
    # side scans (and the reference bounds under them) executed twice
    joined = (
        bins.join(r, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .cache()
    )
    totals = joined.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * n_bins)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * n_bins)
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round((p - q) * F.log(p / q) * 1e9)
            .cast("long")
            .alias("contrib_e9"),
        )
    )


def ols_fit_2feature(
    df: DataFrame,
    x1: "F.Column",
    x2: "F.Column",
    y: "F.Column",
    names: "tuple[str, str]" = ("x1", "x2"),
) -> DataFrame:
    """One-pass OLS fit of ``y ~ b0 + b1*x1 + b2*x2`` via normal
    equations + Cramer's rule — the closed-form distributed linear
    fit: ONE scan aggregates the 9 sufficient statistics (map-side
    partials, a 1-row exchange), then the 3x3 solve runs on the
    driver in arbitrary-precision Python integers. No iteration at
    any scale, and — unlike an in-plan decimal(38,0) solve, which the
    10x scale harness caught overflowing at ~6M rows (determinant
    terms are PRODUCTS of three sums, ~n^3) — the bignum solve has no
    magnitude ceiling; only the SUMS must fit decimal(38,0), which
    holds to ~1e20 rows at these fixed-point units.

    Inputs must be INTEGER-valued columns (pre-scaled to fixed-point
    units by the caller): sums and determinants are then exact, and
    only the final ``det_j / det`` double division is floating point,
    rounded to 6dp — bit-identical to the HUGEINT SQL twin.

    Output: ``(term, coef)`` rows — 'intercept', names[0], names[1];
    coef NULL (both engines) for a singular system (det = 0).
    """
    from feast_hive_spark.plans.memo import job_memo

    d38 = "decimal(38,0)"
    stats = df.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(x1.cast(d38)).alias("s1"),
        F.sum(x2.cast(d38)).alias("s2"),
        F.sum((x1 * x1).cast(d38)).alias("s11"),
        F.sum((x1 * x2).cast(d38)).alias("s12"),
        F.sum((x2 * x2).cast(d38)).alias("s22"),
        F.sum(y.cast(d38)).alias("sy"),
        F.sum((x1 * y).cast(d38)).alias("s1y"),
        F.sum((x2 * y).cast(d38)).alias("s2y"),
    )
    # memo keyed by the STATS plan (not just df): it encodes the
    # column expressions too, and it is the build-time plan the
    # audit captures (memo.capture_buildtime_plans)
    row = job_memo(
        df.sparkSession,
        stats,
        ("ols_fit_2feature", names),
        lambda: stats.first(),
    )
    n, s1, s2, s11, s12, s22, sy, s1y, s2y = (
        int(row[c] or 0)
        for c in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
    )
    # Cramer on M = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], rhs =
    # [sy, s1y, s2y] — exact bignum, so the algebraic form is free to
    # differ from the SQL twin's
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    if det:
        det0 = (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        )
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        det2 = (
            n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        )
        coefs = [
            round(float(dj) / float(det), 6) for dj in (det0, det1, det2)
        ]
    else:
        coefs = [None, None, None]
    rows = list(zip(("intercept", names[0], names[1]), coefs))
    return local_frame(df.sparkSession, rows, "term string, coef double")
#: fixed-point scale for logreg weights/features (1e6 = 1.0)
_LR_MICRO = 1_000_000


def logreg_train(
    df: DataFrame,
    feature_cols,
    label_col: "F.Column",
    iters: int = 3,
) -> "list[int]":
    """Full-batch gradient-descent training of a logistic-regression
    classifier, the distributed-ML-101 shape: per iteration ONE
    aggregate job computes the exact gradient (map-side partials, a
    1-row exchange carrying d sums), the d-dimensional weight update
    happens on the driver, and the new weights re-enter the next
    iteration as literals. Driver state is d integers; nothing
    corpus-sized ever leaves the executors, so the per-iteration cost
    is one scan at any corpus size (cache the feature projection for
    multi-epoch runs).

    Cross-engine-exact arithmetic (same discipline as kmeans/OLS):
    features and weights are fixed-point micro longs; z = sum(w*x) is
    exact integer (< 2^53, so the double conversion before the
    sigmoid is exact); the sigmoid output is rounded to micro BEFORE
    entering the gradient, whose per-row terms and sums are then
    exact integers (decimal(38,0) — no float summation order anywhere);
    the update w -= floor(G / (n * 1e6)) is mathematical floor
    division (lr = 1 in micro units). The SQL twin replays every
    round bit-for-bit.

    ``feature_cols``: integer micro-unit Columns (include the bias as
    a literal 1e6). ``label_col``: 0/1 integer Column. Returns the
    final weight list (micro units) — pair with
    :func:`logreg_score_expr` to score.
    """
    d38 = "decimal(38,0)"
    feats = [c.cast("long").alias(f"__x{j}") for j, c in enumerate(feature_cols)]
    base = df.select(
        *feats, (label_col.cast("long") * _LR_MICRO).alias("__y")
    )
    k = len(feature_cols)
    w = [0] * k
    for _ in range(iters):
        z_num = " + ".join(f"{w[j]}L * __x{j}" for j in range(k))
        p = (
            f"CAST(round({_LR_MICRO} / "
            f"(1.0 + exp(-(CAST({z_num} AS DOUBLE) / 1e12)))) AS LONG)"
        )
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(F.expr(f"CAST(({p} - __y) * __x{j} AS {d38})")).alias(
                f"__g{j}"
            )
            for j in range(k)
        ]
        row = base.agg(*aggs).first()
        n = row["__n"]
        if not n:
            return w
        w = [
            w[j] - int(row[f"__g{j}"]) // (n * _LR_MICRO)
            for j in range(k)
        ]
    return w


def logreg_weights_df(
    df: DataFrame,
    feature_cols,
    names: "list[str]",
    label_col: "F.Column",
    iters: int = 3,
) -> DataFrame:
    """:func:`logreg_train` exposed as a (term, weight_micro) result
    set — the certifiable artifact of the training run. Memoized per
    input plan (plans/memo.py): the GD rounds run eagerly at build
    time."""
    from feast_hive_spark.plans.memo import plan_memo

    def build() -> DataFrame:
        w = logreg_train(df, feature_cols, label_col, iters=iters)
        rows = [(nm, int(wj)) for nm, wj in zip(names, w)]
        return local_frame(
            df.sparkSession, rows, "term string, weight_micro long"
        )

    return plan_memo(
        df.sparkSession,
        df,
        ("logreg_weights_df", tuple(names), iters),
        build,
    )
