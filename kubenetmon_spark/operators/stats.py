"""Statistical aggregates: Welch's t-test, Pearson correlation, Shannon
entropy — the ClickHouse ``welchTTest`` / ``corr`` / ``entropy``
aggregate-function family.

Portability design: every statistic is computed FROM EXACT INTEGER SUMS
(counts, sum x, sum x^2, sum xy over fixed-point values). The only
floating-point steps are the final divisions/sqrt/log over those
integers — IEEE-754 operations are correctly rounded, so two engines
given identical integer inputs and the identical expression shape
produce identical doubles. (Spark's built-in ``corr``/``stddev``
accumulate floats in shuffle order and are NOT deterministic — never
use them where results are compared across runs or engines.)

Plan shape: each statistic is one hash aggregation with map-side
combine; integer partial sums are associative, so any partitioning
yields the same sums. Overflow: sum of x^2 must fit int64 — for cents
values |x| <= 1e6 that allows ~1e6 rows per group at worst; rescale the
fixed point for bigger groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def welch_t_test(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    variant_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Welch's unequal-variance t statistic per group between two
    variants of ``variant_col``; ``value_col`` must be integer
    fixed-point. Returns n/mean per variant and ``t_stat``
    (null when either side has < 2 rows or zero variance on both)."""
    x = F.col(value_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(F.col(variant_col) == control, 1)).alias("n1"),
        F.sum(F.when(F.col(variant_col) == control, x)).alias("sx1"),
        F.sum(F.when(F.col(variant_col) == control, x * x)).alias("sxx1"),
        F.count(F.when(F.col(variant_col) == treatment, 1)).alias("n2"),
        F.sum(F.when(F.col(variant_col) == treatment, x)).alias("sx2"),
        F.sum(F.when(F.col(variant_col) == treatment, x * x)).alias("sxx2"),
    )
    # var_i = (sxx - sx^2/n) / (n - 1); se^2 = var1/n1 + var2/n2
    def var(sxx, sx, n):
        return (F.col(sxx) - F.col(sx) * F.col(sx) / F.col(n)) / (F.col(n) - 1)

    v1, v2 = var("sxx1", "sx1", "n1"), var("sxx2", "sx2", "n2")
    m1 = F.col("sx1") / F.col("n1")
    m2 = F.col("sx2") / F.col("n2")
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    t = F.when(
        (F.col("n1") >= 2) & (F.col("n2") >= 2) & (se2 > 0),
        (m1 - m2) / F.sqrt(se2),
    )
    return agg.select(
        *group_cols,
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_control"),
        F.round(m2, 6).alias("mean_treatment"),
        F.round(t, 6).alias("t_stat"),
    )


def pearson_corr_exact(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    out_col: str = "corr",
) -> DataFrame:
    """Pearson correlation from exact integer sums:
    (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2)).
    Both columns must be integer fixed-point; null when either side is
    constant."""
    x, y = F.col(x_col), F.col(y_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # dx * dy can overflow int64 — convert each exact factor to double
    # FIRST (identical IEEE conversion in any engine), then multiply
    r = F.when(
        (dx > 0) & (dy > 0),
        num / F.sqrt(dx.cast("double") * dy.cast("double")),
    )
    return agg.select(
        *group_cols, "n", F.round(r, 6).alias(out_col)
    )


def shannon_entropy(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str = "entropy_bits",
) -> DataFrame:
    """Shannon entropy (bits) of ``value_col``'s distribution per group
    — ClickHouse ``entropy``. Two-level aggregation: exact (group,
    value) counts first, then H = log2(N) - sum(c*log2(c))/N, which
    uses only the integer counts so every engine computes identical
    doubles."""
    counts = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    agg = counts.groupBy(*group_cols).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * F.log2("_c")).alias("_clogc"),
    )
    h = F.log2("_n") - F.col("_clogc") / F.col("_n")
    return agg.select(*group_cols, F.round(h, 6).alias(out_col))


def mann_whitney_u(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    variant_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Mann-Whitney U (ClickHouse ``mannWhitneyUTest``) with midrank tie
    handling, EXACT: doubled midranks are integers (rank sums stay in
    int64), so U is computed without any float until the final z
    statistic. Returns n1, n2, u1 (doubled-U halved via exact division
    by 2 — doubled U is always even), and z (normal approximation with
    tie correction, rounded; null for degenerate groups).

    Plan: one shuffle+sort of the pooled values per group (the rank
    window), then a hash agg — rank windows and aggregation share the
    partitioning.
    """
    from pyspark.sql.window import Window

    # rank over ONLY the two compared variants: a third variant's rows
    # in the same group would otherwise pollute the pooled ranking and
    # silently corrupt U/z while n1/n2 still look correct
    df = df.filter(F.col(variant_col).isin(control, treatment))
    x = F.col(value_col)
    w = Window.partitionBy(*group_cols).orderBy(x)
    # doubled midrank = rank_first + rank_last = 2*rank + (ties-1)
    r_lo = F.rank().over(w)
    cnt_eq = F.count(F.lit(1)).over(
        Window.partitionBy(*group_cols, value_col)
    )
    dbl_midrank = 2 * r_lo + (cnt_eq - 1)
    is1 = F.col(variant_col) == control
    is2 = F.col(variant_col) == treatment
    agg = (
        df.withColumn("_dmr", dbl_midrank)
        .withColumn("_eq", cnt_eq)
        .groupBy(*group_cols)
        .agg(
            F.count(F.when(is1, 1)).alias("n1"),
            F.count(F.when(is2, 1)).alias("n2"),
            F.sum(F.when(is1, F.col("_dmr"))).alias("dblr1"),
            # sum over rows of (t^2 - 1) = sum over tie groups of
            # t*(t^2-1) = the sum(t^3 - t) the tie correction needs
            F.sum((F.col("_eq") * F.col("_eq") - 1)).alias("tie3"),
        )
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    # U1 = R1 - n1(n1+1)/2 with R1 = dblr1/2 (dblr1 always even in sum)
    u1 = (F.col("dblr1") - n1 * (n1 + 1)) / 2
    mu = n1 * n2 / 2
    tie_term = F.col("tie3").cast("double") / (n * (n - 1))
    sigma2 = (n1 * n2).cast("double") / 12 * ((n + 1).cast("double") - tie_term)
    z = F.when((n1 > 0) & (n2 > 0) & (sigma2 > 0), (u1 - mu) / F.sqrt(sigma2))
    return agg.select(
        *group_cols,
        "n1",
        "n2",
        u1.cast("double").alias("u1"),
        F.round(z, 6).alias("z"),
    )


def spearman_rank_corr(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    out_col: str = "rho",
) -> DataFrame:
    """Spearman rank correlation (ClickHouse ``rankCorr``) with midrank
    ties, EXACT until the final division: doubled midranks are integers
    whose per-group mean is exactly n+1, so the CENTERED doubled
    midranks (dmr - (n+1)) are integers summing to zero and
    rho = sum(cx*cy) / sqrt(sum(cx^2) * sum(cy^2)) needs no mean
    subtraction at float time. |cx| < n, so sum(cx*cy) <= n^3 — fits
    int64 to ~2M rows/group; beyond that pre-bucket the values.

    Plan: two rank windows (one sort per axis) sharing the group
    partitioning, then one hash agg."""
    from pyspark.sql.window import Window

    def dmr(col: str) -> Column:
        w = Window.partitionBy(*group_cols).orderBy(F.col(col))
        ties = Window.partitionBy(*group_cols, col)
        return 2 * F.rank().over(w) + F.count(F.lit(1)).over(ties) - 1

    n = F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    centered = df.select(
        *group_cols,
        (dmr(x_col) - (n + 1)).alias("_cx"),
        (dmr(y_col) - (n + 1)).alias("_cy"),
    )
    agg = centered.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_cx") * F.col("_cy")).alias("sxy"),
        F.sum(F.col("_cx") * F.col("_cx")).alias("sxx"),
        F.sum(F.col("_cy") * F.col("_cy")).alias("syy"),
    )
    rho = F.when(
        (F.col("sxx") > 0) & (F.col("syy") > 0),
        F.col("sxy")
        / F.sqrt(F.col("sxx").cast("double") * F.col("syy").cast("double")),
    )
    return agg.select(*group_cols, "n", F.round(rho, 6).alias(out_col))


def cramers_v(
    df: DataFrame,
    group_cols: list[str],
    a_col: str,
    b_col: str,
    out_col: str = "v",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Cramér's V association between two categorical columns per group
    (ClickHouse ``cramersV``), DETERMINISTIC: chi^2 = n * (S - 1) with
    S = sum over observed cells of o^2/(row_total*col_total), and each
    cell term is computed as integer division (o*o*scale) div (ra*cb) —
    identical in any engine, so the "float sum order" hazard never
    arises (the sum is over int64). Truncation error <= cells/scale,
    far below the 6-digit rounding. o^2*scale must fit int64: cell
    counts up to ~3000 at scale=1e9; shrink ``scale`` for hotter cells.

    Plan: one exact cell-count agg, two window sums for the margins
    (sharing the group partitioning), one final agg."""
    from pyspark.sql.window import Window

    cells = df.groupBy(*group_cols, a_col, b_col).agg(
        F.count(F.lit(1)).alias("_o")
    )
    ra = F.sum("_o").over(Window.partitionBy(*group_cols, a_col))
    cb = F.sum("_o").over(Window.partitionBy(*group_cols, b_col))
    terms = cells.select(
        *group_cols,
        a_col,
        b_col,
        "_o",
        (F.col("_o") * F.col("_o") * F.lit(scale)).alias("_num"),
        (ra * cb).alias("_den"),
    ).withColumn("_t", F.expr("_num div _den"))
    agg = terms.groupBy(*group_cols).agg(
        F.sum("_o").alias("n"),
        F.sum("_t").alias("s_scaled"),
        F.count_distinct(F.col(a_col)).alias("ka"),
        F.count_distinct(F.col(b_col)).alias("kb"),
    )
    chi2 = F.col("n") * (
        F.col("s_scaled").cast("double") / F.lit(float(scale)) - 1.0
    )
    denom = F.col("n") * (F.least(F.col("ka"), F.col("kb")) - 1)
    v = F.when(denom > 0, F.sqrt(F.greatest(chi2, F.lit(0.0)) / denom))
    return agg.select(
        *group_cols, "n", "ka", "kb", F.round(v, 6).alias(out_col)
    )


def simple_linear_regression(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Ordinary least squares y = slope*x + intercept per group
    (ClickHouse ``simpleLinearRegression``) from exact integer sums:
    slope = (n*sxy - sx*sy) / (n*sxx - sx^2), intercept =
    (sy - slope*sx) / n. Both columns must be integer fixed-point;
    null slope when x is constant. One hash agg with map-side combine."""
    x, y = F.col(x_col), F.col(y_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        dx > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / dx,
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return agg.select(
        *group_cols,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def skew_kurtosis(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Population skewness and excess-free kurtosis per group
    (ClickHouse ``skewPop`` / ``kurtPop``) from exact integer raw
    moments sum(x..x^4): m2/m3/m4 are derived with one fixed
    expression shape, so engines given the same integer sums agree
    bit-for-bit. |x|^4 * rows must fit int64 — |x| <= 300 allows ~1e9
    rows/group; rescale the fixed point above that."""
    x = F.col(value_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1") / n
    m2 = F.col("s2") / n - m * m
    m3 = F.col("s3") / n - 3 * m * (F.col("s2") / n) + 2 * m * m * m
    m4 = (
        F.col("s4") / n
        - 4 * m * (F.col("s3") / n)
        + 6 * m * m * (F.col("s2") / n)
        - 3 * m * m * m * m
    )
    # m2*sqrt(m2) rather than pow(m2, 1.5): sqrt/mul are IEEE
    # correctly-rounded everywhere, pow is libm-dependent
    skew = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    kurt = F.when(m2 > 0, m4 / (m2 * m2))
    return agg.select(
        *group_cols,
        "n",
        F.round(m, 6).alias("mean"),
        F.round(skew, 6).alias("skew_pop"),
        F.round(kurt, 6).alias("kurt_pop"),
    )


def ks_test(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    variant_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D (ClickHouse
    ``kolmogorovSmirnovTest``), exact: the ECDF sup-difference is
    max |c1*n2 - c2*n1| over pooled points with integer cumulative
    counts, divided by n1*n2 only at the end — the argmax is over
    exact int64 values, so D is identical in any engine.
    """
    from pyspark.sql.window import Window

    is1 = (F.col(variant_col) == control).cast("long")
    is2 = (F.col(variant_col) == treatment).cast("long")
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("_x")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    stepped = (
        df.select(
            *group_cols,
            F.col(value_col).alias("_x"),
            is1.alias("_i1"),
            is2.alias("_i2"),
        )
        # RANGE frame: all rows sharing a value get the FULL cumulative
        # count at that value — the ECDF evaluated at the step, in any
        # tie order
        .withColumn("_c1", F.sum("_i1").over(wcum))
        .withColumn("_c2", F.sum("_i2").over(wcum))
        .withColumn("_n1", F.sum("_i1").over(wtot))
        .withColumn("_n2", F.sum("_i2").over(wtot))
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.max("_n1").alias("n1"),
        F.max("_n2").alias("n2"),
        F.max(
            F.abs(F.col("_c1") * F.col("_n2") - F.col("_c2") * F.col("_n1"))
        ).alias("dnum"),
    )
    d = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0),
        F.col("dnum").cast("double")
        / (F.col("n1") * F.col("n2")).cast("double"),
    )
    return agg.select(*group_cols, "n1", "n2", F.round(d, 6).alias("d_stat"))


def association_measures(
    df: DataFrame,
    group_cols: list[str],
    a_col: str,
    b_col: str,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """ClickHouse ``theilsU`` / ``contingency`` / ``cramersVBiasCorrected``
    in one pass over the contingency cells.

    All three derive from the same exact integer cell counts:
    - Theil's U(a|b) = I(a;b) / H(a), with every entropy term computed
      from sum(o * log2(margin-or-cell count)) — the identity
      sum_a ra*log2(ra) = sum_cells o*log2(ra) lets one aggregate over
      cells (margins attached by window) produce H(a), H(b), H(a,b).
    - contingency coefficient = sqrt(chi2 / (chi2 + n)).
    - bias-corrected Cramér's V (Bergsma): phi2' = max(0, phi2 -
      (ka-1)(kb-1)/(n-1)), k' = k - (k-1)^2/(n-1), V = sqrt(phi2' /
      min(ka'-1, kb'-1)).
    chi2 uses the same integer-division cell-term trick as
    ``cramers_v`` (deterministic); the entropy sums are float but over
    integer counts, rounded well inside their error (q129 precedent).

    Plan: one cell-count agg (the only data-volume shuffle), two margin
    windows and one final agg — all on one row per contingency cell.
    """
    from pyspark.sql.window import Window

    cells = df.groupBy(*group_cols, a_col, b_col).agg(
        F.count(F.lit(1)).alias("_o")
    )
    ra = F.sum("_o").over(Window.partitionBy(*group_cols, a_col))
    cb = F.sum("_o").over(Window.partitionBy(*group_cols, b_col))
    m = cells.select(
        *group_cols,
        a_col,
        b_col,
        "_o",
        ra.alias("_ra"),
        cb.alias("_cb"),
        (F.col("_o") * F.col("_o") * F.lit(scale)).alias("_num"),
        (ra * cb).alias("_den"),
    ).withColumn("_t", F.expr("_num div _den"))
    agg = m.groupBy(*group_cols).agg(
        F.sum("_o").alias("n"),
        F.sum("_t").alias("s_scaled"),
        F.count_distinct(F.col(a_col)).alias("ka"),
        F.count_distinct(F.col(b_col)).alias("kb"),
        F.sum(F.col("_o") * F.log2("_o")).alias("_slo"),
        F.sum(F.col("_o") * F.log2("_ra")).alias("_sla"),
        F.sum(F.col("_o") * F.log2("_cb")).alias("_slb"),
    )
    n = F.col("n").cast("double")
    h_a = F.log2("n") - F.col("_sla") / n
    h_b = F.log2("n") - F.col("_slb") / n
    h_ab = F.log2("n") - F.col("_slo") / n
    mi = h_a + h_b - h_ab
    theils_u = F.when(h_a > 0, mi / h_a).otherwise(F.lit(0.0))
    chi2 = F.col("n") * (
        F.col("s_scaled").cast("double") / F.lit(float(scale)) - 1.0
    )
    chi2 = F.greatest(chi2, F.lit(0.0))
    contingency = F.sqrt(chi2 / (chi2 + n))
    phi2 = chi2 / n
    ka, kb = F.col("ka").cast("double"), F.col("kb").cast("double")
    phi2c = F.greatest(
        phi2 - (ka - 1) * (kb - 1) / (n - 1), F.lit(0.0)
    )
    kac = ka - (ka - 1) * (ka - 1) / (n - 1)
    kbc = kb - (kb - 1) * (kb - 1) / (n - 1)
    denom = F.least(kac, kbc) - 1
    v_corr = F.when(denom > 0, F.sqrt(phi2c / denom)).otherwise(F.lit(0.0))
    return agg.select(
        *group_cols,
        "n",
        "ka",
        "kb",
        F.round(theils_u, 6).alias("theils_u"),
        F.round(contingency, 6).alias("contingency_coef"),
        F.round(v_corr, 6).alias("cramers_v_corr"),
    )


def student_t_test(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    variant_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """ClickHouse ``studentTTest``: equal-variance (pooled) two-sample t
    statistic from exact integer sums; the Welch sibling is
    ``welch_t_test``. Null when either side has < 2 rows or the pooled
    variance is zero."""
    x = F.col(value_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(F.col(variant_col) == control, 1)).alias("n1"),
        F.sum(F.when(F.col(variant_col) == control, x)).alias("sx1"),
        F.sum(F.when(F.col(variant_col) == control, x * x)).alias("sxx1"),
        F.count(F.when(F.col(variant_col) == treatment, 1)).alias("n2"),
        F.sum(F.when(F.col(variant_col) == treatment, x)).alias("sx2"),
        F.sum(F.when(F.col(variant_col) == treatment, x * x)).alias("sxx2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("sx1") / n1
    m2 = F.col("sx2") / n2
    ss1 = F.col("sxx1") - F.col("sx1") * F.col("sx1") / n1
    ss2 = F.col("sxx2") - F.col("sx2") * F.col("sx2") / n2
    sp2 = (ss1 + ss2) / (n1 + n2 - 2)
    se2 = sp2 * (1.0 / n1 + 1.0 / n2)
    t = F.when((n1 >= 2) & (n2 >= 2) & (se2 > 0), (m1 - m2) / F.sqrt(se2))
    return agg.select(
        *group_cols,
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_control"),
        F.round(m2, 6).alias("mean_treatment"),
        F.round(t, 6).alias("t_stat"),
    )


def covariance_exact(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """ClickHouse ``covarPop`` / ``covarSamp`` from exact integer sums:
    pop = (n*sxy - sx*sy) / n^2, samp = (n*sxy - sx*sy) / (n*(n-1)).
    Never Spark's built-in covar_* (float accumulation in shuffle
    order). n*sxy must fit int64 — same fixed-point bounds as
    ``pearson_corr_exact``."""
    x, y = F.col(x_col), F.col(y_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    n = F.col("n")
    pop = num / (n * n).cast("double")
    samp = F.when(n >= 2, num / (n * (n - 1)).cast("double"))
    return agg.select(
        *group_cols,
        "n",
        F.round(pop, 6).alias("covar_pop"),
        F.round(samp, 6).alias("covar_samp"),
    )


def variance_exact(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """ClickHouse ``varPop`` / ``varSamp`` / ``stddevPop`` /
    ``stddevSamp`` from exact integer sums: SS = n*sxx - sx^2 (int64),
    then var_pop = SS/n^2, var_samp = SS/(n*(n-1)) — one float division
    each, sqrt for the stddevs. n*sxx must fit int64 (same fixed-point
    bounds as ``pearson_corr_exact``)."""
    x = F.col(value_col)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    ss = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    n = F.col("n")
    vp = ss / (n * n).cast("double")
    vs = F.when(n >= 2, ss / (n * (n - 1)).cast("double"))
    return agg.select(
        *group_cols,
        "n",
        F.round(vp, 6).alias("var_pop"),
        F.round(vs, 6).alias("var_samp"),
        F.round(F.sqrt(vp), 6).alias("stddev_pop"),
        F.round(F.sqrt(vs), 6).alias("stddev_samp"),
    )


def _q_tag(p: float) -> str:
    """Column tag for a quantile level: integral percents keep the
    classic form ('50' for 0.5 -> p50_*); non-integral levels use
    basis points with a 'bp' suffix ('5010bp' for 0.501), correctly
    rounded — never float-truncated."""
    pct = p * 100
    if abs(pct - round(pct)) < 1e-9:
        return str(int(round(pct)))
    return f"{int(round(p * 10000))}bp"


def quantile_definitions(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    levels: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """The ClickHouse exact-quantile definition family in one sorted
    pass: for each level p, ``quantileExactLow`` (value at
    floor(p*(n-1))), ``quantileExactHigh`` (at ceil(p*(n-1))), and the
    Excel/R-7 style interpolated ``quantileExactInclusive``.

    The rank positions come from one row_number window per group (ties
    land on equal values, so the picked VALUE is deterministic in any
    tie order); low/high are exact integers, the interpolation is the
    single float step. floor/ceil of p*(n-1) use one IEEE multiply —
    identical in any engine given the same p literal.

    Plan: one shuffle+sort per group (the rank window) and one hash agg
    sharing that partitioning; each level adds expressions, not passes.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(value_col)
    wn = Window.partitionBy(*group_cols)
    ranked = df.select(
        *group_cols,
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    aggs = [F.max("_n").alias("n")]
    outs = []
    # integral-percent levels keep their classic tags (p50_*); others
    # get basis-point tags (p5010bp_*). str(int(p*100)) both mislabeled
    # non-integral floats (int(0.29*100) == 28 -> p28_*) and COLLIDED
    # for two levels in the same percent (ambiguous-reference crash).
    tags = [_q_tag(p) for p in levels]
    if len(set(tags)) != len(tags):
        raise ValueError(
            f"quantile levels collide at 4-decimal resolution: {levels}"
        )
    for p, tag in zip(levels, tags):
        h = F.lit(p) * (F.col("_n") - 1)
        lo_idx = F.floor(h) + 1
        hi_idx = F.ceil(h) + 1
        aggs += [
            F.min(F.when(F.col("_rn") == lo_idx, F.col("_x"))).alias(f"_lo{tag}"),
            F.min(F.when(F.col("_rn") == hi_idx, F.col("_x"))).alias(f"_hi{tag}"),
            # h - floor(h) is the same double in every engine
            F.min(F.when(F.col("_rn") == lo_idx, h - F.floor(h))).alias(
                f"_fr{tag}"
            ),
        ]
    agg = ranked.groupBy(*group_cols).agg(*aggs)
    cols = [*group_cols, "n"]
    for tag in tags:
        lo, hi, fr = F.col(f"_lo{tag}"), F.col(f"_hi{tag}"), F.col(f"_fr{tag}")
        cols += [
            lo.alias(f"p{tag}_low"),
            hi.alias(f"p{tag}_high"),
            F.round(lo + fr * (hi - lo), 6).alias(f"p{tag}_inc"),
        ]
    return agg.select(*cols)


def corr_matrix(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """ClickHouse ``corrMatrix``: all pairwise Pearson correlations of
    ``value_cols`` per group, from exact integer sums in ONE hash
    aggregation (k columns -> k + k(k+1)/2 sums, one pass, map-side
    combined — never k² separate scans).

    Output: one row per (group, i, j) with i <= j, ``corr`` rounded at
    1e-6 (the only float step is the q128-precedent sqrt/divide).
    Columns must be integer fixed-point.
    """
    # DECIMAL(38,0) sums, not BIGINT: Σx² and the n·Σxy − Σx·Σy cross
    # terms overflow int64 once values reach ~1e7 at 100 TB row counts
    # (found by the sf1 scaling sweep); DuckDB's SUM(BIGINT) already
    # returns HUGEINT, so the oracle needs no change and values are
    # identical wherever int64 sufficed.
    def _d(c):
        return c.cast("decimal(38, 0)")

    k = len(value_cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(value_cols):
        aggs.append(F.sum(_d(F.col(c))).alias(f"s{i}"))
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(
                    _d(F.col(value_cols[i]).cast("decimal(19, 0)")
                       * F.col(value_cols[j]).cast("decimal(19, 0)"))
                ).alias(f"p{i}_{j}")
            )
    agg = df.groupBy(*group_cols).agg(*aggs)

    # ALL pairs emitted from one projection over the single agg — an
    # array-of-structs explode, NOT a union of k(k+1)/2 selects (a
    # union re-plans the aggregation once per branch: k=3 measured 6
    # exchanges before this; one after)
    cells = []
    for i in range(k):
        for j in range(i, k):
            nn = _d(F.col("n"))
            num = nn * F.col(f"p{i}_{j}") - F.col(f"s{i}") * F.col(f"s{j}")
            di = nn * F.col(f"p{i}_{i}") - F.col(f"s{i}") * F.col(f"s{i}")
            dj = nn * F.col(f"p{j}_{j}") - F.col(f"s{j}") * F.col(f"s{j}")
            r = F.when(
                (di > 0) & (dj > 0),
                num.cast("double")
                / F.sqrt(di.cast("double") * dj.cast("double")),
            )
            cells.append(
                F.struct(
                    F.lit(i).alias("i"),
                    F.lit(j).alias("j"),
                    F.round(r, 6).alias("corr"),
                )
            )
    return agg.select(
        *group_cols, F.explode(F.array(*cells)).alias("_c")
    ).select(*group_cols, "_c.i", "_c.j", "_c.corr")


def mean_z_test(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    side_col: str,
    pop_var_x: int,
    pop_var_y: int,
) -> DataFrame:
    """ClickHouse ``meanZTest(pop_var_x, pop_var_y, conf)``'s statistic:
    z = (mean_x - mean_y) / sqrt(var_x/n_x + var_y/n_y) with KNOWN
    population variances. ``side_col`` = 'x'/'y' membership.

    Means come from exact integer sums; the z expression is written as
    one sqrt over a float sum of two exact ratios — the oracle mirrors
    the same shape, rounded at 1e-6 (q127 precedent).
    """
    agg = df.groupBy(*group_cols).agg(
        F.sum(
            F.when(F.col(side_col) == "x", F.col(value_col))
        ).alias("sx"),
        F.count(F.when(F.col(side_col) == "x", 1)).alias("nx"),
        F.sum(
            F.when(F.col(side_col) == "y", F.col(value_col))
        ).alias("sy"),
        F.count(F.when(F.col(side_col) == "y", 1)).alias("ny"),
    )
    mx = F.col("sx").cast("double") / F.col("nx")
    my = F.col("sy").cast("double") / F.col("ny")
    se = F.sqrt(
        F.lit(float(pop_var_x)) / F.col("nx")
        + F.lit(float(pop_var_y)) / F.col("ny")
    )
    return agg.select(
        *group_cols,
        "nx",
        "ny",
        F.round((mx - my) / se, 6).alias("z"),
    )


def exact_auc(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """ClickHouse ``arrayAUC`` as a grouped aggregate: the exact area
    under the ROC curve of integer scores against binary labels.

    AUC is the Mann-Whitney U statistic normalized: with doubled
    midranks (integers — ties handled exactly, same device as
    mann_whitney_u above), ``AUC = (dblR1 - n1*(n1+1)) / (2*n1*n0)``
    where dblR1 sums the positives' doubled midranks. Everything up to
    the final division is int64, so the oracle reproduces it bit-for-
    bit; ties contribute the standard half credit.

    Plan: one shuffle+sort per group for the rank window, one hash agg.
    Returns n_pos, n_neg, auc (null when a class is empty).
    """
    from pyspark.sql.window import Window

    s = F.col(score_col)
    w = Window.partitionBy(*group_cols).orderBy(s)
    r_lo = F.rank().over(w)
    cnt_eq = F.count(F.lit(1)).over(Window.partitionBy(*group_cols, score_col))
    dmr = 2 * r_lo + (cnt_eq - 1)
    pos = F.col(label_col) == 1
    agg = (
        df.withColumn("_dmr", dmr)
        .groupBy(*group_cols)
        .agg(
            F.count(F.when(pos, 1)).alias("n_pos"),
            F.count(F.when(~pos, 1)).alias("n_neg"),
            F.sum(F.when(pos, F.col("_dmr"))).alias("dblr1"),
        )
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (F.col("dblr1") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
            "double"
        )
        / (2 * F.col("n_pos") * F.col("n_neg")),
    )
    return agg.select(
        *group_cols, "n_pos", "n_neg", F.round(auc, 6).alias("auc")
    )


def ols2_exact(
    df: DataFrame,
    group_cols: list[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Two-feature linear regression y ~ b0 + b1*x1 + b2*x2 per group,
    solved EXACTLY via the normal equations on centered integer sums
    (ClickHouse ships this surface as stochasticLinearRegression; for
    p=2 the closed form needs no descent and no floats).

    With n-scaled centered second moments
      Cab = n*Sum(a*b) − Sum(a)*Sum(b)        (integers),
    Cramer's rule gives
      b1 = (C1y*C22 − C2y*C12) / D,  b2 = (C2y*C11 − C1y*C12) / D,
      D  = C11*C22 − C12²,
      b0 = (Sy*D − N1*S1 − N2*S2) / (n*D).
    The moments are int64-safe; their PRODUCTS are not (n² amplifies
    them), so the determinant algebra runs in DECIMAL(38,0) — exact in
    both Spark and any int128/decimal engine. Results are emitted as
    exact integer strings (num/den pairs hash identically across
    engines) plus convenience float betas.

    Overflow contract (ENFORCED, fail-loud): with Mx = max(|x1|, |x2|)
    and My = max|y| per group, the binding term is
      |b0_num| = |Sy·D − N1·S1 − N2·S2| ≤ 24·n⁵·Mx⁴·My
    (D ≤ 8n⁴Mx⁴, N1/N2 ≤ 8n⁴Mx³My, each |S| ≤ nM — a rigorous worst
    case, derived term-by-term). A per-group tripwire raises a clear
    rescale message when that bound exceeds 5e37 (2× inside the
    decimal(38,0) ceiling) instead of an opaque
    NUMERIC_VALUE_OUT_OF_RANGE mid-plan (non-ANSI engines would
    silently NULL the betas — worse). Tracking the FEATURE scale
    separately from the TARGET scale matters: the single-M form of
    this bound (~n·M ≤ 2e7) rejected realistic fixed-point targets
    (y ~ 1e4 cents over 2e4 rows) whose x-moments were tiny and whose
    algebra fit with 4 digits to spare. One hash-agg shuffle;
    everything else is per-group scalar algebra on one row per group.
    """
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.greatest(F.max(F.abs(x1)), F.max(F.abs(x2))).alias("_mx"),
        F.max(F.abs(y)).alias("_my"),
    )
    D38 = "decimal(38,0)"

    def dec(c):
        return F.col(c).cast(D38)

    n = dec("n")
    c11 = n * dec("s11") - dec("s1") * dec("s1")
    c22 = n * dec("s22") - dec("s2") * dec("s2")
    c12 = n * dec("s12") - dec("s1") * dec("s2")
    c1y = n * dec("s1y") - dec("s1") * dec("sy")
    c2y = n * dec("s2y") - dec("s2") * dec("sy")
    det = c11 * c22 - c12 * c12
    n1 = c1y * c22 - c2y * c12
    n2 = c2y * c11 - c1y * c12
    n0 = dec("sy") * det - n1 * dec("s1") - n2 * dec("s2")
    # fail-loud tripwire BEFORE the decimal algebra can overflow: the
    # guard column is referenced by det's branch so it evaluates first.
    # Bound computed in doubles — n⁵·Mx⁴·My tops out near 1e190 for
    # int64 inputs, far inside double range, and a worst-case ESTIMATE
    # only needs ~1 ulp of accuracy against a 2× margin.
    bound = (
        F.pow(F.col("n").cast("double"), F.lit(5.0))
        * F.pow(F.col("_mx").cast("double"), F.lit(4.0))
        * F.col("_my").cast("double")
        * F.lit(24.0)
    )
    guard = F.when(
        bound > F.lit(5e37),
        F.raise_error(
            F.concat(
                F.lit(
                    "ols2_exact: 24*n^5*Mx^4*My exceeds the "
                    "decimal(38,0) product budget (<= 5e37); rescale "
                    "the fixed point (divide values by 10^k) or split "
                    "groups. group n="
                ),
                F.col("n").cast("string"),
                F.lit(" max|x|="),
                F.col("_mx").cast("string"),
                F.lit(" max|y|="),
                F.col("_my").cast("string"),
            )
        ).cast(D38),
    )
    det = F.coalesce(guard, det)
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        det.cast("string").alias("det"),
        n1.cast("string").alias("b1_num"),
        n2.cast("string").alias("b2_num"),
        n0.cast("string").alias("b0_num"),
        (n * det).cast("string").alias("b0_den"),
        F.when(det != 0, (n1 / det).cast("double")).alias("b1"),
        F.when(det != 0, (n2 / det).cast("double")).alias("b2"),
        F.when(det != 0, (n0 / (n * det)).cast("double")).alias("b0"),
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo_p: float = 0.1,
    hi_p: float = 0.9,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization (robust clamping for feature
    normalization / outlier-tamed aggregates): values are clamped to
    the group's exact [p_lo, p_hi] quantiles, both taken by the
    ``quantileExactLow`` definition (value at floor(p*(n-1)) of the
    sorted run) so the bounds are actual data values and every engine
    lands on the same integers.

    Plan: reuses quantile_definitions' one sorted pass per group to
    get bounds (a #groups-row table), then a broadcast join + clamp
    expression — the fact table is touched once for the bounds and
    once for the clamp, never sorted twice.
    """
    out_col = out_col or f"{value_col}_wins"
    q = quantile_definitions(
        df, group_cols, value_col, levels=(lo_p, hi_p)
    )
    lo_tag, hi_tag = _q_tag(lo_p), _q_tag(hi_p)
    bounds = q.select(
        *group_cols,
        F.col(f"p{lo_tag}_low").alias("_wlo"),
        F.col(f"p{hi_tag}_low").alias("_whi"),
    )
    x = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(
            out_col,
            F.when(x < F.col("_wlo"), F.col("_wlo"))
            .when(x > F.col("_whi"), F.col("_whi"))
            .otherwise(x),
        )
        .drop("_wlo", "_whi")
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    score_scale: int = 10000,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier (the
    eval loop behind every quality-scorer threshold choice): scores
    are integer-scaled in [0, score_scale]; bin b covers
    [b/n, (b+1)/n) with the top edge closed. Per bin: count, positive
    count, mean score and positive rate in basis points (exact
    integer sums, floor division).

    Also useful as the input to ECE: sum over bins of
    n_b * |pos_rate − mean_score| / N — derivable from these columns
    without another pass. One hash agg; bins are the fixed keyspace.
    """
    s = F.col(score_col)
    b = F.least(
        F.floor(s * n_bins / score_scale).cast("int"), F.lit(n_bins - 1)
    )
    y = F.col(label_col).cast("long")
    keys = [*(group_cols or []), "bin"]
    return (
        df.withColumn("bin", b)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(y).alias("n_pos"),
            # integer `div`, not double /: sum(s)*10000 over ~2^52
            # loses double precision and can floor off-by-one vs an
            # exact oracle; int64 div is exact to 9.2e18
            F.expr(
                f"(sum({score_col}) * 10000)"
                f" div (count(*) * {int(score_scale)})"
            )
            .cast("long")
            .alias("mean_score_bp"),
            F.expr(
                f"(sum(cast({label_col} as long)) * 10000) div count(*)"
            )
            .cast("long")
            .alias("pos_rate_bp"),
        )
        .orderBy(*keys)
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa between two categorical raters — the annotation-
    QA statistic for labeled training data (rater agreement beyond
    chance). EXACT integer arithmetic end to end:

        kappa = (po − pe) / (1 − pe)
              = (n·Σ_diag − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k)

    where a_k, b_k are the raters' marginal counts — one cross-
    multiplication removes every division. Emits the numerator/
    denominator pair plus kappa in basis points (floor toward −inf;
    kappa can be negative).

    One pass: the confusion cells, both marginals, and n all come from
    a single groupBy over the (a, b) pair (marginals by re-aggregating
    the already-tiny cell table — label-space sized, never row-sized).
    """
    # Materialize the tiny cell table eagerly (label-space sized):
    # persist() alone during lazy plan construction caches nothing, and
    # an unpersist() before the action would drop it before use — so the
    # four derived branches (n, diag, both marginals) each recompute the
    # full confusion aggregation. localCheckpoint(eager=True) runs the
    # one row-sized pass now; the branches below read the cached cells.
    cells = (
        df.groupBy(
            F.col(rater_a_col).alias("_a"), F.col(rater_b_col).alias("_b")
        )
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=True)
    )
    n = cells.agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("n"))
    diag = cells.filter(F.col("_a") == F.col("_b")).agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("s_diag")
    )
    am = cells.groupBy("_a").agg(F.sum("_c").alias("_an"))
    bm = cells.groupBy("_b").agg(F.sum("_c").alias("_bn"))
    pe_num = (
        am.join(bm, am["_a"] == bm["_b"])
        .agg(F.coalesce(F.sum(F.col("_an") * F.col("_bn")), F.lit(0)).alias("s_e"))
    )
    out = (
        n.crossJoin(diag)
        .crossJoin(pe_num)
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("s_diag").cast("long").alias("s_diag"),
            F.col("s_e").cast("long").alias("s_e"),
            (F.col("n") * F.col("s_diag") - F.col("s_e"))
            .cast("long")
            .alias("kappa_num"),
            (F.col("n") * F.col("n") - F.col("s_e"))
            .cast("long")
            .alias("kappa_den"),
        )
        .withColumn(
            "kappa_bp",
            F.when(
                F.col("kappa_den") != 0,
                F.floor(
                    F.col("kappa_num").cast("double")
                    * 10000
                    / F.col("kappa_den")
                ).cast("long"),
            ),
        )
    )
    return out


def logistic_regression_gd(
    df: DataFrame,
    x_cols: list[str],
    y_col: str,
    iterations: int = 8,
    lr_num: int = 1,
    lr_den: int = 1,
) -> list[int]:
    """Full-batch logistic-style regression by gradient descent — the
    ClickHouse ``stochasticLogisticRegression`` surface, made
    BIT-EXACT for distributed/cross-engine execution: the sigmoid is
    the HARD sigmoid σ̂(z) = clamp(1/2 + z/4, 0, 1) (the standard
    piecewise-linear surrogate from quantized/efficient training), so
    with weights in integer micro-units every per-row gradient term is
    a pure INTEGER —

        σ̂_micro(z) = clamp(500000 + ⌊z_micro/4⌋, 0, 1e6)
        g_j = Σ_i x_ij · (1e6·y_i − σ̂_micro(z_i))      (exact int64)
        w_j += (lr_num · g_j) // (lr_den · n · 1e0)     (floor)

    No float exists anywhere in the loop, so there is no accumulation-
    order or libm dependence at all — a smooth-sigmoid variant diverges
    across engines at the ulp level and AMPLIFIES through iterations
    (measured: 3 micro after 6 rounds), which is exactly why the hard
    surrogate is the right distributed choice.

    Returns the weight vector (intercept first) in micro-units.
    Scale: one hash-agg per iteration over the fact table; driver
    holds only the p+1 weights. Keep |x| ≤ ~1e3 so gradient sums fit
    int64 comfortably.
    """
    import pyspark.sql.functions as SF

    p = len(x_cols)
    w = [0] * (p + 1)  # micro-units, intercept first
    n = df.count()
    for _ in range(iterations):
        z = SF.lit(w[0]).cast("long")
        for j, c in enumerate(x_cols):
            z = z + SF.lit(w[j + 1]) * SF.col(c).cast("long")
        sig = SF.greatest(
            SF.lit(0).cast("long"),
            SF.least(
                SF.lit(1_000_000).cast("long"),
                SF.lit(500_000)
                + SF.floor(z.cast("double") / 4).cast("long"),
            ),
        )
        resid = SF.col(y_col).cast("long") * 1_000_000 - sig
        aggs = [SF.sum(resid).alias("g0")]
        for j, c in enumerate(x_cols):
            aggs.append(
                SF.sum(SF.col(c).cast("long") * resid).alias(f"g{j + 1}")
            )
        g = df.agg(*aggs).collect()[0]
        for j in range(p + 1):
            w[j] = w[j] + (lr_num * g[f"g{j}"]) // (lr_den * n)
    return w


def kaplan_meier(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator per group (user churn /
    connection lifetime analysis over the events table):
    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i) with d_i deaths at t_i and n_i
    at risk (duration ≥ t_i); ``event_col`` = 1 for an observed event,
    0 for right-censored.

    Engine-exact trick (q129 precedent): each step's log term
    ln(1 − d/n) is MICRO-ROUNDED to an integer, then the cumulative
    log-survival is an integer RUNNING SUM over the time-ordered steps
    — deterministic under any partitioning, and two engines disagree
    only if a correctly-rounded ln lands within 5e-7 of a micro
    boundary (q129 odds). A step where everyone at risk dies
    (d = n, survival hits exactly 0) carries the −1e12 sentinel.

    Returns one row per (group, step): duration, n_risk, d_events,
    s_log_micro (exact integer), survival (double convenience).

    Plan: one hash agg to (group, duration) step counts, then two
    windows over the SAME (group, duration) sort — reverse running sum
    for n_risk, forward running sum for the log — one Exchange+Sort.
    """
    from pyspark.sql.window import Window

    steps = df.groupBy(*group_cols, duration_col).agg(
        F.count("*").alias("_c"),
        F.sum(F.col(event_col).cast("long")).alias("d_events"),
    )
    w_desc = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(duration_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_asc = (
        Window.partitionBy(*group_cols)
        .orderBy(duration_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = steps.withColumn("n_risk", F.sum("_c").over(w_desc))
    term = F.when(
        F.col("d_events") >= F.col("n_risk"), F.lit(-1_000_000_000_000)
    ).otherwise(
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d_events").cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1_000_000,
            0,
        ).cast("long")
    )
    out = stepped.withColumn("_term", term).withColumn(
        "s_log_micro", F.sum("_term").over(w_asc)
    )
    return out.select(
        *group_cols,
        F.col(duration_col).alias("duration"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_events").cast("long").alias("d_events"),
        F.col("s_log_micro").cast("long").alias("s_log_micro"),
        F.exp(F.col("s_log_micro").cast("double") / 1_000_000).alias(
            "survival"
        ),
    )


#: fixed-design z constants (alpha=0.05 two-sided, power=0.8) — written
#: as exact literals so every engine computes the identical doubles
Z_ALPHA_2 = 1.9599639845400545
Z_POWER = 0.8416212335729143


def min_sample_sizes(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    success_col: str,
    mde_conv: float = 0.02,
    mde_cont_rel: float = 0.01,
) -> DataFrame:
    """A/B test planning (ClickHouse ``minSampleSizeConversion`` /
    ``minSampleSizeContinuous``) at alpha=0.05 / power=0.8 — the
    metering-analytics question "how long must this experiment run".

    Per group, from EXACT integer sums (integral value columns; a
    fractional value column sums through double — see the Σx² note):
      conversion: n = (z_a*sqrt(2*p̄(1−p̄)) + z_p*sqrt(p1(1−p1)+p2(1−p2)))²
                      / mde²,  p2 = p1 − mde, p̄ = (p1+p2)/2
      continuous: n = 2*(z_a+z_p)²·σ̂² / (mde_rel·mean)²
    The doubles derive from identical integer inputs through one fixed
    expression shape, so engines agree bit-for-bit; ceil() lands on the
    same integer (a flip needs the true value within ~1e-10 of an
    integer). Null when the group is degenerate (p1 ≤ mde, zero mean
    or variance).
    """
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    x = F.col(value_col)
    s = F.col(success_col).cast("long")
    # Σx² for INTEGRAL inputs rides DECIMAL(38,0): int64 Σx² overflows
    # once |x|~1e6 meets sf10 row counts (caught by the r6 sf10 sweep —
    # the same class as the r2 q100/q170 overflows; DuckDB's
    # SUM(BIGINT) is HUGEINT, so the oracle was safe all along). The
    # cast rides BEFORE the multiply — x*x itself already overflows
    # long. A FRACTIONAL value column must NOT take that path: casting
    # to decimal(19,0) rounds each value to an integer and corrupts
    # the variance (r6 advisor catch) — fractional inputs square
    # through double, which is what their downstream arithmetic is
    # anyway. Either way the same value reaches the same double, so
    # hashes for integral callers (q218) are unchanged.
    vtype = df.schema[value_col].dataType
    integral = isinstance(
        vtype, (ByteType, ShortType, IntegerType, LongType)
    ) or (isinstance(vtype, DecimalType) and vtype.scale == 0)
    if integral:
        xd = x.cast("decimal(19,0)")
        sxx = F.sum(xd * xd)
    else:
        sxx = F.sum(x.cast("double") * x.cast("double"))
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(s).alias("npos"),
        F.sum(x).alias("sx"),
        sxx.alias("sxx"),
    )
    n = F.col("n").cast("double")
    p1 = F.col("npos") / n
    p2 = p1 - F.lit(mde_conv)
    pbar = (p1 + p2) / 2
    conv = (
        (
            F.lit(Z_ALPHA_2) * F.sqrt(2 * pbar * (1 - pbar))
            + F.lit(Z_POWER)
            * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
        )
        / F.lit(mde_conv)
    )
    n_conv = F.when(
        (p2 > 0) & (p1 < 1), F.ceil(conv * conv).cast("long")
    )
    mean = F.col("sx") / n
    # square sx through DOUBLE exactly like the oracle's
    # CAST(sx AS DOUBLE) * sx — long*long overflows at the same scale
    # the Σx² fix above addresses
    var = (
        F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / n
    ) / (n - 1)
    mde_abs = F.lit(mde_cont_rel) * mean
    n_cont = F.when(
        (F.col("n") > 1) & (var > 0) & (mean != 0),
        F.ceil(
            2
            * F.lit((Z_ALPHA_2 + Z_POWER) ** 2)
            * var
            / (mde_abs * mde_abs)
        ).cast("long"),
    )
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.col("npos").cast("long").alias("npos"),
        n_conv.alias("n_conversion"),
        n_cont.alias("n_continuous"),
    )


def anova_exact(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA (ClickHouse ``analysisOfVariance`` / ``anova``) as
    an ENGINE-EXACT integer surrogate (the q196/q274 idiom): the
    between/within sums of squares and the F statistic are computed
    from exact integer group moments with floor division at the two
    places real ANOVA divides, so every engine and partitioning
    produces identical values.

        ssw_g = n_g * Q_g - S_g^2            (exact, per group)
        SSW   = sum_g  ssw_g div n_g         (floor per group)
        SSB   = (n * sum_g (S_g^2 div n_g) - S^2) div n
        f_bp  = (SSB * (n - k) * 10000) div (SSW * (k - 1))

    ``value_col`` must be a NON-NEGATIVE bounded long (callers pmod) so
    n_g*Q_g stays in int64/decimal range at scale and ``div`` (truncate)
    equals floor on both engines. The floor errors are <k units of the
    sums — invisible at 4 decimal places of F — and deterministic,
    which is the point: a float ANOVA hashes differently per
    partitioning; this one never does.

    One aggregation to k group-moment rows, then scalar algebra over
    those k rows — fact data is touched exactly once.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(x).alias("_s"),
        F.sum(x * x).alias("_q"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("_n").alias("n"),
        F.sum("_s").alias("s"),
        F.sum(F.expr("(_n * _q - _s * _s) div _n")).alias("ssw"),
        F.sum(F.expr("(_s * _s) div _n")).alias("_sb"),
    )
    return tot.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("(n * _sb - s * s) div n").cast("string").alias("ssb"),
        F.col("ssw").cast("string").alias("ssw"),
        # nullif: k=1 (no between-group df) or ssw=0 (zero within-group
        # variance) yields NULL F instead of an ANSI DIVIDE_BY_ZERO
        # killing the job — the convention of average_precision_exact
        F.expr(
            "(((n * _sb - s * s) div n) * (n - k) * 10000)"
            " div nullif(ssw * (k - 1), 0)"
        )
        .cast("bigint")
        .alias("f_bp"),
    )


def average_precision_exact(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact average precision (the step-interpolated area under the
    precision-recall curve — ClickHouse ``arrayAUCPR``, sklearn
    ``average_precision_score``) as a grouped aggregate on integer
    scores, in parts-per-million so every engine agrees bit-for-bit.

    Thresholds sweep the DISTINCT scores descending (ties form one
    block, the standard definition):

        AP = sum_k (TP_k - TP_{k-1}) / n_pos * TP_k / (TP_k + FP_k)

    Integer surrogate: each precision term floors to ppm BEFORE the
    outer sum, then the recall normalization floors once at the end —
    ``ap_ppm = (sum_k dTP * ((TP_k * 1e6) div N_k)) div n_pos`` — all
    int64, truncating division in both engines (operands non-negative).
    The surrogate is within n_distinct_scores/1e6 of the real AP.

    Plan: one partial-agg shuffle to (group, score) blocks, one rank
    window per group over the (small) distinct-score table, one hash
    agg — the raw rows shuffle once, pre-aggregated map-side.
    """
    from pyspark.sql.window import Window

    pos = F.col(label_col) == 1
    blocks = (
        df.groupBy(*group_cols, score_col)
        .agg(
            F.count(F.when(pos, 1)).alias("_p"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = blocks.select(
        *group_cols,
        F.col("_p").alias("_dtp"),
        F.sum("_p").over(w).alias("_tp"),
        F.sum("_n").over(w).alias("_cum"),
    )
    term = F.col("_dtp") * F.expr("(_tp * 1000000) div _cum")
    agg = cum.groupBy(*group_cols).agg(
        F.sum("_dtp").alias("n_pos"),
        F.sum(term).alias("_num"),
    )
    return agg.select(
        *group_cols,
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.expr("_num div nullif(n_pos, 0)").cast("bigint").alias("ap_ppm"),
    ).orderBy(*group_cols)
