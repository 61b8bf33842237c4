"""Feature transforms / scorers: MAD, z-score, winsorize, bucketize, plus the
reference's two SQL-visible scalar UDFs (normalize, percentile) with
reference-exact semantics.

All are Catalyst column expressions over one or two tiny aggregates — the
per-row path never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

MAD_TO_ZSCORE = 1.4826  # consistency constant, legacy/.../stats/MAD.java:21


def mad_score(df: DataFrame, col: str, output_col: str = "_SCORE",
              exact: bool = True) -> DataFrame:
    """Median-absolute-deviation score |x − median| / (MAD·1.4826), with the
    reference's trimmed-mean fallback when MAD == 0.
    Reference: legacy/src/main/java/macrobase/analysis/stats/MAD.java:38-99.

    Two global aggregates (median, then median of |x−median|) + a projection.
    At 100 TB pass exact=False → percentile_approx (no global sort).
    """
    fn = "percentile" if exact else "percentile_approx"
    med = df.agg(F.expr(f"{fn}({col}, 0.5)").alias("m")).collect()[0]["m"]
    if med is None:  # empty / all-NULL column: no median, no scores
        return df.withColumn(output_col, F.lit(None).cast("double"))
    dev = df.select(F.abs(F.col(col) - F.lit(med)).alias("d"))
    mad = dev.agg(F.expr(f"{fn}(d, 0.5)").alias("m")).collect()[0]["m"]
    if mad == 0.0:
        # fallback: mean absolute deviation over the middle trimmed band
        lo, hi = dev.agg(
            F.expr(f"{fn}(d, 0.05)"), F.expr(f"{fn}(d, 0.95)")
        ).collect()[0]
        mad = (
            dev.filter((F.col("d") >= lo) & (F.col("d") <= hi))
            .agg(F.avg("d"))
            .collect()[0][0]
        ) or 1e-12
    return df.withColumn(
        output_col, F.abs(F.col(col) - F.lit(med)) / F.lit(mad * MAD_TO_ZSCORE)
    )


def zscore(df: DataFrame, col: str, output_col: str = "_SCORE") -> DataFrame:
    """(x − mean)/std. Reference: legacy/.../stats/ZScore.java."""
    s = df.agg(F.avg(col).alias("m"), F.stddev_pop(col).alias("s")).collect()[0]
    # constant column -> std 0: the reference's Java doubles give (x-m)/0.0 =
    # 0.0/0.0 = NaN for every row; a NaN denominator reproduces that exactly
    # where ANSI Spark would error on the division
    denom = s["s"] if s["s"] else float("nan")
    return df.withColumn(output_col, (F.col(col) - F.lit(s["m"])) / F.lit(denom))


def normalize_col(df: DataFrame, col: str, output_col: str | None = None) -> DataFrame:
    """normalize(col): shift-to-positive then divide by (max+offset).
    Reference-exact: lib/.../analysis/MBFunction.java:102-126 (offset =
    −min if min ≤ 0 else 0; norm = max + offset)."""
    s = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    if s["lo"] is None:  # empty / all-NULL column
        return df.withColumn(output_col or col, F.lit(None).cast("double"))
    offset = -float(s["lo"]) if float(s["lo"]) <= 0.0 else 0.0
    norm = float(s["hi"]) + offset
    if norm == 0.0:
        norm = float("nan")  # all-zero column: Java 0.0/0.0 = NaN per row
    return df.withColumn(output_col or col, (F.col(col) + F.lit(offset)) / F.lit(norm))


def percentile_col(df: DataFrame, col: str, output_col: str | None = None,
                   n_buckets: int | None = None) -> DataFrame:
    """percentile(col): per-value percentile = (1-indexed MIN rank)/n —
    ties share the min position of the tie group, so a unique max value gets
    exactly 1.0. Reference-exact: lib/.../analysis/MBFunction.java:128-161
    (the sorted-position map iterates downward, so the surviving entry per
    value is its smallest index + 1; NOT percent_rank, which is
    (rank−1)/(n−1), and NOT the max rank). NULL metric values get a NULL
    percentile and are excluded from both the ranks and n (the reference
    sorts raw Java doubles, where NaN lands last; SQL NULL ≠ NaN, so the
    explicit choice here is to keep NULLs out of the distribution entirely).

    Scale-safe plan, two phases and no global sort: (1) rank arithmetic runs
    on the per-VALUE aggregate (groupBy(col).count() — the min ascending
    rank of a tie group is the cumulative count through the previous value
    + 1); (2) the cumulative count itself is bucketed — distinct values are
    split at deterministic range boundaries (quantile sketch, driver-side
    literals), within-bucket running sums use a window PARTITIONED BY
    bucket, and the ≤ n_buckets per-bucket totals are cumulated on the
    driver into literal offsets. A continuous metric (distinct ≈ rows,
    the reference's own percentile(usage) case) therefore never funnels
    through a single-partition window at any scale."""
    spark = df.sparkSession
    n = df.agg(F.count(col).alias("n")).collect()[0]["n"]  # non-null count
    out_name = output_col or col
    if n == 0:
        return df.withColumn(out_name, F.lit(None).cast("double"))
    nb = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nonnull = df.filter(F.col(col).isNotNull())
    vals = nonnull.groupBy(F.col(col).alias("_v")).agg(F.count("*").alias("_c"))
    # deterministic split points over DISTINCT values (balanced windows even
    # when the raw data is skewed onto few hot values)
    probs = [i / nb for i in range(1, nb)]
    bounds = sorted(set(vals.approxQuantile("_v", probs, 0.01))) if probs else []
    bucket = F.lit(len(bounds))  # fallthrough: > last bound (and NaN-last)
    for i in range(len(bounds) - 1, -1, -1):
        bucket = F.when(F.col("_v") <= F.lit(bounds[i]), i).otherwise(bucket)
    b = vals.withColumn("_b", bucket)
    btot = {int(r["_b"]): float(r["_t"])
            for r in b.groupBy("_b").agg(F.sum("_c").alias("_t")).collect()}
    offs, running = {}, 0.0
    for k in sorted(btot):
        offs[k] = running
        running += btot[k]
    off = F.lit(0.0)
    for k, v in offs.items():
        off = F.when(F.col("_b") == k, F.lit(v)).otherwise(off)
    wb = (W.partitionBy("_b").orderBy(F.col("_v").asc())
          .rowsBetween(W.unboundedPreceding, 0))
    pct = b.select(
        "_v",
        ((off + F.sum("_c").over(wb) - F.col("_c") + F.lit(1.0))
         / F.lit(float(n))).alias("_pct"),
    )
    return (
        df.join(pct, df[col] == F.col("_v"), "left")
        .withColumn(out_name, F.col("_pct"))
        .drop("_v", "_pct")
    )


def winsorize(df: DataFrame, col: str, p: float = 1.0, exact: bool = True,
              output_col: str | None = None) -> DataFrame:
    """Clamp to [percentile(p), percentile(100−p)].
    Reference: legacy/.../stats/Winsorizer.java."""
    if exact:
        from macrobase_spark.operators.quantiles import exact_quantiles

        q = exact_quantiles(df, col, [p / 100.0, 1.0 - p / 100.0])
        lo, hi = q[p / 100.0], q[1.0 - p / 100.0]
    else:
        s = df.agg(
            F.expr(f"percentile_approx({col}, {p / 100.0})").alias("lo"),
            F.expr(f"percentile_approx({col}, {1 - p / 100.0})").alias("hi"),
        ).collect()[0]
        lo, hi = s["lo"], s["hi"]
    import math as _math

    if lo is None or hi is None or _math.isnan(lo) or _math.isnan(hi):
        return df  # empty / all-NULL column: no cutoffs, nothing to clamp
    return df.withColumn(
        output_col or col,
        F.least(F.greatest(F.col(col), F.lit(lo)), F.lit(hi)),
    )


def metric_bucketize(df: DataFrame, col: str, boundaries: list[float] | None = None,
                     pcts: tuple[float, ...] = (10.0, 90.0),
                     output_col: str | None = None,
                     as_index: bool = False) -> DataFrame:
    """Double column → categorical range-label buckets at percentile
    boundaries — makes a metric usable as an explanation attribute.
    Reference: lib/.../transform/MetricBucketTransformer.java:47-92.
    as_index=True emits the integer bucket ordinal instead of the
    "[lo,hi)" label (engine-agnostic for oracle comparison)."""
    if boundaries is None:
        qs = [p / 100.0 for p in pcts]
        row = df.agg(*[F.expr(f"percentile({col}, {q})").alias(f"q{i}")
                       for i, q in enumerate(qs)]).collect()[0]
        boundaries = [float(row[f"q{i}"]) for i in range(len(qs))]
    edges = [float("-inf")] + sorted(boundaries) + [float("inf")]
    expr = None
    for i in range(len(edges) - 1):
        label = i if as_index else f"{col}:[{edges[i]:.4g},{edges[i+1]:.4g})"
        cond = (F.col(col) >= F.lit(edges[i])) & (F.col(col) < F.lit(edges[i + 1]))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn(output_col or f"{col}_bucket", expr)


def grouped_mad_score(df: DataFrame, keys: list[str], col: str,
                      output_col: str = "_SCORE") -> DataFrame:
    """Per-group train-then-score: MAD fitted and applied within each group —
    the reference's MBGroupBy (one FeatureTransform instance per group,
    legacy/.../pipeline/operator/MBGroupBy.java:14-69).

    Spark plan: two grouped exact medians via percentile + a join back —
    all JVM-side; no per-group Python. (applyInPandas is the general form
    for arbitrary scorers; MAD doesn't need it.)
    """
    med = df.groupBy(*keys).agg(F.expr(f"percentile({col}, 0.5)").alias("_med"))
    j = df.join(F.broadcast(med), keys)
    mad = (
        j.groupBy(*keys)
        .agg(F.expr(f"percentile(abs({col} - _med), 0.5)").alias("_mad"))
    )
    out = j.join(F.broadcast(mad), keys).withColumn(
        output_col,
        F.abs(F.col(col) - F.col("_med"))
        / (F.when(F.col("_mad") > 0, F.col("_mad")).otherwise(1e-12) * MAD_TO_ZSCORE),
    )
    return out.drop("_med", "_mad")


def heavy_hitters(df: DataFrame, col: str, threshold_frac: float = 0.01,
                  exact: bool = True, sample_frac: float = 0.01) -> DataFrame:
    """Heavy-hitter detection: values of `col` occurring in ≥ threshold_frac
    of rows. The reference's AmortizedMaintenanceCounter role
    (legacy/.../count/AmortizedMaintenanceCounter.java:35-110).

    exact=True → full groupBy (map-side combined, cheap for hot keys);
    exact=False → sampled estimate (the 100 TB path, same shape as the
    index's detect_hot_terms)."""
    n = df.count()
    src = df if exact else df.sample(fraction=sample_frac, seed=1)
    scale = 1.0 if exact else 1.0 / sample_frac
    return (
        src.groupBy(col)
        .agg((F.count("*") * scale).cast("long").alias("est_count"))
        .filter(F.col("est_count") >= threshold_frac * n)
        .orderBy(F.col("est_count").desc(), F.col(col).asc())
    )


def weighted_reservoir_sample(df: DataFrame, frac: float, weight_col: str | None = None,
                              seed: int = 1) -> DataFrame:
    """Weighted sampling — the reference's AChao damped reservoir
    (legacy/.../sample/AChao.java:21-106) re-expressed as order-statistics
    sampling: key = rand^(1/w) (Efraimidis-Spirakis), keep top frac.
    Distributed: per-row keys, one global threshold (approx via sample)."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # weight 0: Java's rand^(1/0.0) = rand^Inf = 0 — the item can never be
    # sampled; ANSI Spark errors on 1/0, so map the key to 0 explicitly
    key = F.when(w == 0, F.lit(0.0)).otherwise(
        F.pow(F.rand(seed), F.lit(1.0) / w))
    keyed = df.withColumn("_k", key)
    thresh = keyed.approxQuantile("_k", [1.0 - frac], 0.001)[0]
    return keyed.filter(F.col("_k") >= thresh).drop("_k")


def low_metric_transform(df: DataFrame, col: str) -> DataFrame:
    """Reciprocal transform for low-bounded metrics (low values anomalous).
    Reference: legacy/.../transform/LowMetricTransform.java."""
    # Java: 1/0.0 = +Infinity (a zero low-bounded metric is maximally
    # anomalous); ANSI Spark errors on the division, so map it explicitly
    return df.withColumn(
        col, F.when(F.col(col) == 0, F.lit(float("inf")))
        .otherwise(F.lit(1.0) / F.col(col)))


def truncate(df: DataFrame, cols: list[str], k: int) -> DataFrame:
    """Keep the first k metric columns, drop the rest — the reference's
    Truncate over the metric vector (legacy/.../stats/Truncate.java:28-35).
    Pure projection: Catalyst column pruning pushes it into the scan."""
    drop = cols[k:]
    return df.drop(*drop)


def random_projection(df: DataFrame, cols: list[str], k: int,
                      seed: int = 11, output_prefix: str = "rp_") -> DataFrame:
    """Johnson–Lindenstrauss random projection of the metric columns to k
    dims: R ~ N(0, 1/n)^{k×n} sampled once (fixed seed), projection as k
    codegen'd dot-product expressions — no UDF, one map-side pass.
    Reference: legacy/.../stats/RandomProjection.java:36-52 (samples R from
    N(0, diag(1/n)) once on the first batch)."""
    import numpy as np

    n = len(cols)
    rng = np.random.default_rng(seed)
    r = rng.normal(0.0, np.sqrt(1.0 / n), size=(k, n))
    out = df
    for i in range(k):
        expr = None
        for j, c in enumerate(cols):
            term = F.col(c).cast("double") * F.lit(float(r[i, j]))
            expr = term if expr is None else expr + term
        out = out.withColumn(f"{output_prefix}{i}", expr)
    return out


def linear_metric_normalizer(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column min-max normalization to [0, 1], replicating the
    reference's zero-seeded min/max accumulators (its min/max vectors start
    at 0, so the range is [min(0, data_min), max(0, data_max)]) —
    legacy/.../transform/LinearMetricNormalizer.java:17-50. One global
    aggregate + a projection."""
    aggs = []
    for c in cols:
        aggs += [F.least(F.lit(0.0), F.min(F.col(c).cast("double"))).alias(f"_lo_{c}"),
                 F.greatest(F.lit(0.0), F.max(F.col(c).cast("double"))).alias(f"_hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    out = df
    for c in cols:
        lo, hi = float(row[f"_lo_{c}"]), float(row[f"_hi_{c}"])
        if hi - lo == 0:
            out = out.withColumn(c, F.lit(0.0))
        else:
            out = out.withColumn(
                c, (F.col(c).cast("double") - F.lit(lo)) / F.lit(hi - lo))
    return out
