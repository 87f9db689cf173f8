"""Distribution-drift checks (PSI / KS / JS / W1 / CvM on binned numerics,
Pearson chi-square on categories) — north-rule requirement with no
reference counterpart (SURVEY.md §2.8).

Every statistic is computed from *histograms* built with pure DataFrame
math (one aggregation pass per segment, mergeable, no per-row Python):
PSI, JS and chi-square are closed-form sums over matched buckets; KS, W1
and CvM fold |ECDF_a - ECDF_b| over bucket boundaries via window
cumulative sums. Histograms are a few KB regardless of input scale, so the
final arithmetic is negligible — the cost is one scan + one tiny shuffle
per segment, which survives 100x scale-up.

Shared pieces, each written once and reused by the streaming monitors:
``bucket`` (the clamped fixed-width bucket expression), ``psi_term`` /
``js_term`` / ``chi2_cell`` (the per-bucket formulas) and ``group_grid``
(the persisted group x key grid behind every ``*_by_group`` statistic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..cache import persist_tracked

EPS = 1e-6


def bucket(value_col: str, width: float, n: int) -> Column:
    """Fixed-width bucket of ``value_col`` clamped to [0, n-1]. GREATEST /
    LEAST skip NULLs, so a NULL value lands in bucket 0, not NULL: callers
    must filter NULL *values* (not NULL buckets) first."""
    return F.least(
        F.greatest(F.floor(F.col(value_col) / F.lit(width)), F.lit(0)),
        F.lit(n - 1),
    ).cast("int")


def psi_term(p: Column, q: Column) -> Column:
    """One bucket's PSI contribution (p - q) * ln(p / q), proportions
    clamped to EPS so empty buckets stay finite."""
    p, q = F.greatest(p, F.lit(EPS)), F.greatest(q, F.lit(EPS))
    return (p - q) * F.log(p / q)


def js_term(p: Column, q: Column) -> Column:
    """One bucket's Jensen-Shannon contribution 0.5*p*ln(p/m) +
    0.5*q*ln(q/m), m = (p+q)/2, over the same EPS-clamped proportions."""
    p, q = F.greatest(p, F.lit(EPS)), F.greatest(q, F.lit(EPS))
    m = (p + q) / 2
    return 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)


def chi2_cell(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """One category row of a 2-column contingency table: counts (a, b)
    against column totals (ta, tb), expectations from the margins.
    Returns (a - ea)^2/ea + (b - eb)^2/eb."""
    row = a + b
    colsum = ta + tb
    ea = row * ta / colsum
    eb = row * tb / colsum
    return (a - ea) ** 2 / ea + (b - eb) ** 2 / eb


def histogram(df: DataFrame, value_col: str, bucket_width: float, n_buckets: int) -> DataFrame:
    """(bucket, n) counts of non-NULL ``value_col``."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(bucket(value_col, bucket_width, n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _spine(spark: SparkSession, n: int, name: str) -> DataFrame:
    """The dense 0..n-1 bucket column."""
    return spark.range(0, n).select(F.col("id").cast("int").alias(name))


def _joined_hist(hist_a: DataFrame, hist_b: DataFrame) -> DataFrame:
    a = hist_a.select("bucket", F.col("n").alias("na"))
    b = hist_b.select("bucket", F.col("n").alias("nb"))
    return a.join(b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )


def _wall() -> Window:
    """Whole-relation window for the totals of a joined histogram (bucket,
    na, nb): over its <= n_buckets rows, rather than a separate aggregate +
    cross join — the latter re-plans the histogram's entire subtree,
    doubling the number of source scans."""
    return Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def _ecdf_diff() -> Column:
    """ECDF_a - ECDF_b at each bucket's upper boundary."""
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = _wall()
    return (
        F.sum("na").over(wcum) / F.sum("na").over(wall)
        - F.sum("nb").over(wcum) / F.sum("nb").over(wall)
    )


def _sum_terms(j: DataFrame, term_fn, name: str, round_to: int) -> DataFrame:
    """One row (name): the rounded sum over buckets of ``term_fn(p, q)``,
    p and q the two sides' bucket proportions."""
    wall = _wall()
    term = term_fn(F.col("na") / F.sum("na").over(wall), F.col("nb") / F.sum("nb").over(wall))
    return j.select(term.alias("term")).agg(F.round(F.sum("term"), round_to).alias(name))


def psi_joined(j: DataFrame, round_to: int = 4) -> DataFrame:
    """PSI over a joined histogram (bucket, na, nb):
    sum((p - q) * ln(p / q)) with epsilon-clamped proportions.
    Returns a single row (psi)."""
    return _sum_terms(j, psi_term, "psi", round_to)


def ks_joined(j: DataFrame, round_to: int = 4) -> DataFrame:
    """KS over a joined histogram (bucket, na, nb): max |ECDF_a - ECDF_b|
    over bucket boundaries. (Exact for the bucketed distributions; bucket
    width bounds the error vs the continuous statistic.)
    Returns a single row (ks)."""
    d = F.abs(_ecdf_diff())
    return j.select(d.alias("d")).agg(F.round(F.max("d"), round_to).alias("ks"))


def js_joined(j: DataFrame, round_to: int = 4) -> DataFrame:
    """Jensen-Shannon divergence over a joined histogram (bucket, na, nb):
    0.5*KL(p||m) + 0.5*KL(q||m) with m = (p+q)/2, natural log, the same
    epsilon-clamped proportions as ``psi_joined``. Bounded [0, ln 2] and
    symmetric — the drift score to use when PSI's unboundedness on
    vanishing buckets is unwanted. Returns a single row (js)."""
    return _sum_terms(j, js_term, "js", round_to)


def w1_joined(
    j: DataFrame, n_buckets: int, bucket_width: float = 1.0, round_to: int = 4
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance over a joined histogram
    (bucket, na, nb): for 1-D distributions W1 = integral |CDF_a - CDF_b|,
    which on fixed-width buckets is ``bucket_width * sum over ALL buckets
    of |cum_a/tot_a - cum_b/tot_b|``. The joined histogram omits buckets
    empty on BOTH sides, and unlike KS (a max, constant across such gaps) a
    SUM must count them — e.g. two point masses at buckets 0 and 19 are
    W1 = 19*width, not 1*width — so the 0..n_buckets-1 grid is densified
    first. Exact for the bucketed distributions, no epsilon clamps (W1 is
    finite on disjoint supports). Returns one row (w1)."""
    full = _spine(j.sparkSession, n_buckets, "bucket")
    dj = full.join(j, "bucket", "left").fillna(0, ["na", "nb"])
    return dj.select(F.abs(_ecdf_diff()).alias("d")).agg(
        F.round(F.sum("d") * F.lit(float(bucket_width)), round_to).alias("w1")
    )


def cvm_joined(j: DataFrame, round_to: int = 4) -> DataFrame:
    """Two-sample Cramér-von Mises criterion over a joined histogram
    (bucket, na, nb): omega^2 = sum_b w_b * (F_a(b) - F_b(b))^2 with
    w_b = (na_b + nb_b) / (N_a + N_b) — the squared ECDF difference
    integrated against the POOLED empirical distribution (the binned form
    of the classic two-sample CvM integrand; Anderson 1962 is the public
    reference). Where KS reacts to the single worst ECDF gap, CvM
    accumulates drift spread across the whole distribution.

    Shape: identical to ``ks_joined`` — windows over the <= n_buckets-row
    joined histogram, one tiny final reduce. Returns a single row (cvm)."""
    wall = _wall()
    w = (F.col("na") + F.col("nb")) / (F.sum("na").over(wall) + F.sum("nb").over(wall))
    return (
        j.select((w * F.pow(_ecdf_diff(), F.lit(2))).alias("term"))
        .agg(F.round(F.sum("term"), round_to).alias("cvm"))
    )


def chi2_joined(counts: DataFrame, round_to: int = 4) -> DataFrame:
    """Pearson chi-square statistic for a (category, na, nb) contingency
    table — the categorical drift test PSI/KS can't express (they need an
    ordered or binned domain). chi2 = sum over cells (obs - exp)^2 / exp
    with exp from the row/column margins; dof = (n_categories - 1) * (2 - 1).
    All arithmetic happens on the |categories|-row aggregate (broadcast
    totals, no second data scan). Returns one row (chi2, dof)."""
    tot = counts.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    term = chi2_cell(F.col("na"), F.col("nb"), F.col("ta"), F.col("tb"))
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.round(F.sum(term), round_to).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
    )


def psi(hist_a: DataFrame, hist_b: DataFrame, round_to: int = 4) -> DataFrame:
    """Population Stability Index between two separate histograms."""
    return psi_joined(_joined_hist(hist_a, hist_b), round_to)


def w1(
    hist_a: DataFrame,
    hist_b: DataFrame,
    n_buckets: int,
    bucket_width: float = 1.0,
    round_to: int = 4,
) -> DataFrame:
    """Wasserstein-1 distance between two separate histograms."""
    return w1_joined(_joined_hist(hist_a, hist_b), n_buckets, bucket_width, round_to)


def _split_counts(
    df: DataFrame, value_col: str, ts_col: str, key: Column, name: str
) -> DataFrame:
    """(name, na, nb): counts per ``key`` of rows with non-NULL
    ``value_col`` whose ts falls before / at-or-after the epoch midpoint
    ``round((min_epoch + max_epoch) / 2)``; NULL-ts rows fall in neither."""
    e = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    mid_df = df.agg(F.round((F.min(e) + F.max(e)) / 2).alias("_mid"))
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(key.alias(name), e.alias("_e"))
        .crossJoin(F.broadcast(mid_df))
        .groupBy(name)
        .agg(
            F.sum(F.when(F.col("_e") < F.col("_mid"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("_e") >= F.col("_mid"), 1).otherwise(0)).alias("nb"),
        )
    )


def split_histograms(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    bucket_width: float,
    n_buckets: int,
) -> DataFrame:
    """First-half/second-half histograms by epoch midpoint in ONE
    conditional aggregate over the data: returns (bucket, na, nb) where
    ``na``/``nb`` count value-buckets with ts before/after the midpoint
    ``round((min_epoch + max_epoch) / 2)``.

    Scale shape: the midpoint is a scalar aggregate subplan cross-joined in
    as a broadcast (no driver round-trip), and the data itself is scanned
    once for the split histogram — vs the naive min/max pass + two filtered
    half scans (three scans). The scalar pass reads only ``ts`` (column
    pruning), so total I/O is ~one scan of (value, ts). Rows with NULL ts
    fall in neither half; rows with NULL value are dropped — identical to
    histogram-after-filter semantics (and to the DuckDB oracle arithmetic)."""
    b = bucket(value_col, bucket_width, n_buckets)
    return _split_counts(df, value_col, ts_col, b, "bucket")


def split_category_counts(df: DataFrame, cat_col: str, ts_col: str) -> DataFrame:
    """First-half/second-half CATEGORY counts by epoch midpoint in one
    conditional aggregate — the categorical sibling of ``split_histograms``
    (same broadcast-scalar midpoint, same one-scan shape). NULL categories
    are dropped; NULL ts rows fall in neither half. Returns (cat, na, nb)."""
    return _split_counts(df, cat_col, ts_col, F.col(cat_col), "cat")


def chi2_drift(
    df: DataFrame, cat_col: str, ts_col: str, round_to: int = 4
) -> DataFrame:
    """split_category_counts + chi2_joined with the tiny count table
    persisted (tracked): chi2_joined reads it twice (margins + cells), and
    without the persist each branch re-executes the data aggregate."""
    counts = persist_tracked(split_category_counts(df, cat_col, ts_col))
    return chi2_joined(counts, round_to)


def group_grid(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key: Column,
    spine: DataFrame | None = None,
) -> DataFrame:
    """The per-group drift grid every ``*_by_group`` statistic folds:
    (grp, key, n, gn, tg, t) with ``n`` the group's count at ``key``,
    ``gn`` the whole-table baseline count at ``key``, ``tg`` the group
    total and ``t`` the grand total. Each group gets one row per baseline
    key — or per ``spine`` row (a one-column ``key`` frame, e.g. the dense
    bucket range) — so keys a group is MISSING still contribute (n = 0).

    Rows with a NULL ``value_col`` are dropped before ``key`` is evaluated:
    ``bucket`` maps NULL to bucket 0, so filtering NULL keys instead would
    count NULL values in bucket 0. A group whose values are all NULL is
    absent from the grid.

    Scale: the (grp, key) aggregate is partial+final and persisted
    (tracked). Four plan branches (baseline, per-group totals, grand total,
    grid join-back) read it; without the persist each re-plans the subtree
    from the SOURCE, so the fact table is physically scanned once per
    branch. The aggregate is |groups| x |keys| rows (KBs at any input
    scale), so caching it makes the whole grid ONE data scan + arithmetic
    on the cached relation, fully distributed, no per-row Python."""
    per = persist_tracked(
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), key.alias("key"))
        .groupBy("grp", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    glob = per.groupBy("key").agg(F.sum("n").alias("gn"))
    keys = glob if spine is None else spine.join(glob, "key", "left")
    tg = per.groupBy("grp").agg(F.sum("n").alias("tg"))
    tot = per.agg(F.sum("n").alias("t"))
    return (
        tg.crossJoin(F.broadcast(keys))
        .join(per, ["grp", "key"], "left")
        .fillna(0, ["n", "gn"])
        .crossJoin(F.broadcast(tot))
    )


def _fold(j: DataFrame, group_col: str, term: Column, *aggs: Column) -> DataFrame:
    """Fold one per-row statistic ``term`` of a ``group_grid`` into
    (group_col, n_rows, *aggs); ``aggs`` read it as column ``term``."""
    return (
        j.select("grp", "tg", term.alias("term"))
        .groupBy("grp")
        .agg(F.first("tg").alias("n_rows"), *aggs)
        .withColumnRenamed("grp", group_col)
    )


def _group_cdf_gap() -> Column:
    """|group CDF - baseline CDF| at each key, cumulated per group."""
    w = Window.partitionBy("grp").orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    return F.abs(F.sum("n").over(w) / F.col("tg") - F.sum("gn").over(w) / F.col("t"))


def psi_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    round_to: int = 4,
) -> DataFrame:
    """Per-partition drift: PSI of each group's value distribution against
    the whole-table baseline, from ONE scan (``group_grid``); buckets a
    group is missing still contribute (epsilon-clamped).
    Returns (group, n_rows, psi)."""
    j = group_grid(df, group_col, value_col, bucket(value_col, bucket_width, n_buckets))
    term = psi_term(F.col("n") / F.col("tg"), F.col("gn") / F.col("t"))
    return _fold(j, group_col, term, F.round(F.sum("term"), round_to).alias("psi"))


def ks_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    round_to: int = 4,
) -> DataFrame:
    """Per-partition KS: max |group ECDF - global ECDF| over bucket
    boundaries, same one-scan grid as ``psi_by_group`` (the grid is
    bucket-complete per group, so one window per group also accumulates the
    global ECDF). Returns (group, n_rows, ks)."""
    j = group_grid(df, group_col, value_col, bucket(value_col, bucket_width, n_buckets))
    return _fold(j, group_col, _group_cdf_gap(), F.round(F.max("term"), round_to).alias("ks"))


def js_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    round_to: int = 4,
) -> DataFrame:
    """Per-partition Jensen-Shannon divergence of each group's value
    distribution against the whole-table baseline — the same one-scan grid
    as ``psi_by_group``, with the bounded symmetric JS term instead of PSI.
    Returns (group, n_rows, js)."""
    j = group_grid(df, group_col, value_col, bucket(value_col, bucket_width, n_buckets))
    term = js_term(F.col("n") / F.col("tg"), F.col("gn") / F.col("t"))
    return _fold(j, group_col, term, F.round(F.sum("term"), round_to).alias("js"))


def w1_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: float,
    n_buckets: int,
    round_to: int = 4,
) -> DataFrame:
    """Per-partition Wasserstein-1 distance of each group's value
    distribution against the whole-table baseline. Same one-scan grid as
    ``psi_by_group``, but densified to the FULL 0..n_buckets-1 spine per
    group (W1 is a sum over the integral, so both-sides-empty gap buckets
    count — see ``w1_joined``); cumulative sums run on the tiny
    |groups| x n_buckets relation, windowed per group, never on the data.
    Returns (group, n_rows, w1)."""
    j = group_grid(
        df,
        group_col,
        value_col,
        bucket(value_col, bucket_width, n_buckets),
        _spine(df.sparkSession, n_buckets, "key"),
    )
    w1_agg = F.round(F.sum("term") * F.lit(float(bucket_width)), round_to).alias("w1")
    return _fold(j, group_col, _group_cdf_gap(), w1_agg)


def chi2_by_group(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Per-partition CATEGORICAL drift: Pearson chi-square of each group's
    category distribution against the whole-table baseline — the
    unordered-category member of the per-group family, same one-scan grid.

    For each group the 2 x |categories| contingency table is (group counts,
    global counts); chi2 = Σ cells (obs − exp)²/exp with expectations from
    the margins, over the full group x global-category grid so categories a
    group is MISSING still contribute (their group-cell expectation is
    nonzero). dof = categories in the baseline − 1, i.e. the group's grid
    rows − 1. NULL categories are dropped like ``split_category_counts``.
    Returns (group, n_rows, chi2, dof)."""
    j = group_grid(df, group_col, cat_col, F.col(cat_col))
    term = chi2_cell(F.col("n"), F.col("gn"), F.col("tg"), F.col("t"))
    return _fold(
        j,
        group_col,
        term,
        F.round(F.sum("term"), round_to).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
    )
