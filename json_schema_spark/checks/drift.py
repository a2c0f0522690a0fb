"""Distribution-drift detection: KS / PSI / Jensen-Shannon per day vs the
input's overall distribution or a pinned baseline snapshot (north_star:
"KS/PSI ... per warc_ts partition vs a baseline snapshot").

- Exact distributed operators, one plan per statistic: categorical drift
  (psi_by_period, js_divergence_by_period, drift_vs_baseline) sums PSI
  and JS terms over a days x categories grid (``_freq_drift``); numeric
  drift (ks_by_period, ks_vs_baseline) takes the max ECDF gap over a
  days x floor(v * quantize) buckets grid (``_ks``). Each operator only
  supplies its reference distribution. Shuffles are O(grid), and the
  values are exact, so an oracle engine reproduces them.
- ``drift_report``: per-day mergeable sketches (percentile_approx
  quantiles, category counts) in one pass, compared driver-side on the
  tiny sketch rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PROBS = [i / 20 for i in range(21)]  # 0.0, 0.05, ..., 1.0


def daily_numeric_sketch(df: DataFrame, value_col,
                         ts_col: str = "warc_ts",
                         probs: list[float] | None = None,
                         accuracy: int = 10000) -> DataFrame:
    """(day, quantiles array, n) per day — a single groupBy over the scan."""
    probs = probs or DEFAULT_PROBS
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    return (df
            .select(F.to_date(F.col(ts_col)).alias("day"),
                    value.alias("_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy("day")
            .agg(F.percentile_approx("_v", probs, accuracy).alias("quantiles"),
                 F.count(F.lit(1)).alias("n")))


def daily_category_freqs(df: DataFrame, cat_col: str,
                         ts_col: str = "warc_ts") -> DataFrame:
    """(day, map<category, count>, total) per day."""
    return (_cat_counts(df, cat_col, ts_col)
            .groupBy("day")
            .agg(F.map_from_entries(
                     F.collect_list(F.struct("cat", "n"))).alias("counts"),
                 F.sum("n").alias("total")))


def ks_from_quantiles(base_q: list[float], cur_q: list[float],
                      probs: list[float] | None = None) -> float:
    """KS statistic from two equi-probability quantile sketches: for every
    quantile value, the CDF gap is bounded by the difference of the
    probability levels at which that value appears in the two sketches."""
    probs = probs or DEFAULT_PROBS
    if not base_q or not cur_q:
        return float("nan")

    def cdf(q: list[float], x: float) -> float:
        # step-interpolated CDF from the sketch
        lo = 0.0
        for p, v in zip(probs, q):
            if v <= x:
                lo = p
            else:
                break
        return lo

    xs = sorted(set(base_q) | set(cur_q))
    return max(abs(cdf(base_q, x) - cdf(cur_q, x)) for x in xs)


def psi(base_freqs: dict[str, float], cur_freqs: dict[str, float],
        eps: float = 1e-6) -> float:
    """Population Stability Index over category frequency maps."""
    cats = set(base_freqs) | set(cur_freqs)
    total = 0.0
    for c in cats:
        p = max(base_freqs.get(c, 0.0), eps)
        q = max(cur_freqs.get(c, 0.0), eps)
        total += (p - q) * math.log(p / q)
    return total


def js_divergence(base_freqs: dict[str, float],
                  cur_freqs: dict[str, float]) -> float:
    """Jensen-Shannon divergence (nats) between frequency maps —
    symmetric, bounded by ln 2, finite without epsilon clamps (0*ln 0
    terms vanish)."""
    total = 0.0
    for c in set(base_freqs) | set(cur_freqs):
        p = base_freqs.get(c, 0.0)
        q = cur_freqs.get(c, 0.0)
        m = (p + q) / 2
        if p > 0:
            total += 0.5 * p * math.log(p / m)
        if q > 0:
            total += 0.5 * q * math.log(q / m)
    return total


def _cat_counts(df: DataFrame, cat_col: str, ts_col: str) -> DataFrame:
    """(day, cat, n): rows per day and category; NULL counts as
    "__null__"."""
    day = F.to_date(F.col(ts_col)).alias("day")
    return (df.select(day, F.coalesce(F.col(cat_col), F.lit("__null__"))
                      .alias("cat"))
            .groupBy("day", "cat").agg(F.count(F.lit(1)).alias("n")))


def _freq_drift(counts: DataFrame, ref: DataFrame,
                eps: float = 1e-6) -> DataFrame:
    """(day, psi, js_divergence) of each day's category frequencies p
    against the reference distribution ``ref(cat, q)``.

    Plan: a tiny day-totals agg, a broadcast days x ref-categories grid
    left-joined to the counts (a category absent on a day has p = 0:
    PSI clamps both sides to eps, JS needs no clamp), one per-day sum.
    Every shuffle is O(days x categories)."""
    day_totals = counts.groupBy("day").agg(F.sum("n").alias("day_total"))
    p = (F.coalesce(F.col("n"), F.lit(0)).cast("double")
         / F.col("day_total").cast("double"))
    grid = (day_totals.crossJoin(F.broadcast(ref))
            .join(counts, ["day", "cat"], "left")
            .select("day", p.alias("p"), "q"))
    p, q = F.col("p"), F.col("q")
    p_c, q_c = F.greatest(p, F.lit(eps)), F.greatest(q, F.lit(eps))
    m = (p + q) / 2
    psi_term = (p_c - q_c) * F.log(p_c / q_c)
    js_term = (F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) / 2
               + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0)) / 2)
    return (grid.groupBy("day")
            .agg(F.round(F.sum(psi_term), 6).alias("psi"),
                 F.round(F.sum(js_term), 6).alias("js_divergence"))
            .orderBy("day"))


def _overall_freqs(counts: DataFrame) -> DataFrame:
    """(cat, q): the all-days distribution, q = cat_total / grand_total."""
    overall = counts.groupBy("cat").agg(F.sum("n").alias("cat_total"))
    grand = counts.agg(F.sum("n").alias("grand_total"))
    return overall.crossJoin(F.broadcast(grand)).select(
        "cat", (F.col("cat_total").cast("double")
                / F.col("grand_total").cast("double")).alias("q"))


def psi_by_period(df: DataFrame, cat_col: str, ts_col: str = "ts",
                  eps: float = 1e-6) -> DataFrame:
    """Fully-distributed PSI per day of a categorical column vs the
    overall (all-days) distribution: (day, psi) — exact counts, no
    sketches, so the result is engine-reproducible."""
    counts = _cat_counts(df, cat_col, ts_col)
    return _freq_drift(counts, _overall_freqs(counts), eps) \
        .select("day", "psi")


def js_divergence_by_period(df: DataFrame, cat_col: str,
                            ts_col: str = "ts") -> DataFrame:
    """Jensen-Shannon divergence per day of a categorical column vs the
    overall distribution: (day, js_divergence) in nats, bounded
    [0, ln 2] — unlike PSI it needs no epsilon clamping (0*ln 0 terms
    vanish), is symmetric, and never diverges on absent categories,
    which makes it the better alert threshold for long-tailed web
    categories. Same exact plan as psi_by_period."""
    counts = _cat_counts(df, cat_col, ts_col)
    return _freq_drift(counts, _overall_freqs(counts)) \
        .select("day", "js_divergence")


def drift_vs_baseline(df: DataFrame, cat_col: str,
                      baseline_freqs: dict[str, float],
                      ts_col: str = "ts",
                      eps: float = 1e-6) -> DataFrame:
    """Per-day PSI and Jensen-Shannon divergence of a categorical
    column vs a FIXED baseline frequency map — the north-star
    "baseline snapshot" form (the *_by_period operators compare
    against the input's own overall distribution; this one compares
    against an external reference, which is what a monitoring job
    pins at deploy time and what the streaming monitor replays per
    micro-batch). Returns (day, psi, js_divergence).

    The reference categories are the baseline's UNION the observed
    ones; a category on one side only has frequency 0 on the other."""
    counts = _cat_counts(df, cat_col, ts_col)
    base = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in sorted(baseline_freqs.items())],
        "cat string, q double")
    ref = (counts.select("cat").distinct()
           .join(base, "cat", "full_outer")
           .select("cat", F.coalesce(F.col("q"), F.lit(0.0)).alias("q")))
    return _freq_drift(counts, ref, eps)


def _bucket(value_col: str, quantize: float) -> Column:
    """The KS value axis: bucket b = floor(value * quantize) — floor is
    deterministic in every engine (round() half-mode is not)."""
    return F.floor(F.col(value_col).cast("double") * F.lit(quantize)) \
        .cast("bigint").alias("b")


def _ks(df: DataFrame, value_col: str, ts_col: str, quantize: float,
        ref) -> DataFrame:
    """(day, ks): the max gap between each day's bucket ECDF and a
    reference CDF. ``ref(counts)`` maps the (day, b, n) counts to
    (b, w, w_total) rows; the reference CDF at b is
    sum(w up to b) / w_total.

    Plan: one groupBy(day, bucket) count over the scan, a broadcast
    grid of days x reference buckets, two running sums over ONE
    (day, b) window, one final per-day max. Every shuffle is
    O(days x buckets), independent of row count."""
    counts = (df.filter(F.col(value_col).isNotNull())
              .select(F.to_date(F.col(ts_col)).alias("day"),
                      _bucket(value_col, quantize))
              .groupBy("day", "b").agg(F.count(F.lit(1)).alias("n")))
    day_totals = counts.groupBy("day").agg(F.sum("n").alias("day_n"))
    grid = (day_totals.crossJoin(F.broadcast(ref(counts)))
            .join(counts, ["day", "b"], "left")
            .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
    w = Window.partitionBy("day").orderBy("b") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def cdf(mass: str, total: str) -> Column:
        return (F.sum(mass).over(w).cast("double")
                / F.col(total).cast("double"))

    gaps = grid.withColumn("gap", F.abs(cdf("n", "day_n")
                                        - cdf("w", "w_total")))
    return (gaps.groupBy("day")
            .agg(F.round(F.max("gap"), 6).alias("ks"))
            .orderBy("day"))


def ks_by_period(df: DataFrame, value_col: str, ts_col: str = "ts",
                 quantize: float = 4.0) -> DataFrame:
    """Exact distributed KS statistic per day of a numeric column vs the
    overall (all-days) distribution: (day, ks).

    Exactness demands evaluating |F_day(x) - F_all(x)| at every jump
    point, so the value axis is first QUANTIZED to buckets of width
    1/quantize (``_bucket``), making this oracle-reproducible. The grid
    after quantization is days x distinct buckets. At web scale pick
    `quantize` so the bucket count stays ~1e4 — the KS of the quantized
    distribution is then exact, with discretization error bounded by
    the bucket mass."""
    def overall(counts: DataFrame) -> DataFrame:
        bucket_totals = counts.groupBy("b").agg(F.sum("n").alias("w"))
        grand = counts.agg(F.sum("n").alias("w_total"))
        return bucket_totals.crossJoin(F.broadcast(grand))

    return _ks(df, value_col, ts_col, quantize, overall)


def numeric_baseline_snapshot(df: DataFrame, value_col: str,
                              quantize: float = 4.0) -> dict[int, float]:
    """Pinned baseline for ks_vs_baseline: quantized-bucket relative
    mass of a numeric column — the snapshot a monitoring job takes at
    deploy time. One groupBy over the scan; the collected map is
    O(buckets), not data."""
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(_bucket(value_col, quantize))
            .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
            .collect())
    total = sum(r["n"] for r in rows) or 1
    return {int(r["b"]): r["n"] / total for r in rows}


def ks_vs_baseline(df: DataFrame, value_col: str,
                   baseline_freqs: dict[int, float],
                   ts_col: str = "ts",
                   quantize: float = 4.0) -> DataFrame:
    """Exact distributed KS per day of a numeric column vs a PINNED
    baseline snapshot (the numeric analog of drift_vs_baseline,
    completing the {per-period, vs-baseline} x {categorical, numeric}
    drift matrix): (day, ks). The baseline is a quantized-bucket
    frequency map as produced by numeric_baseline_snapshot — both
    sides quantize with the same ``_bucket``, so the statistic is the
    exact KS of the two quantized distributions. The reference buckets
    are the observed UNION the baseline ones; a bucket absent from
    either side carries zero mass there, so support mismatch is
    measured, not an error."""
    base = df.sparkSession.createDataFrame(
        [(int(k), float(v)) for k, v in sorted(baseline_freqs.items())],
        "b bigint, w double")

    def baseline(counts: DataFrame) -> DataFrame:
        return (counts.select("b").distinct()
                .join(base, "b", "full_outer")
                .select("b", F.coalesce(F.col("w"), F.lit(0.0)).alias("w"),
                        F.lit(1.0).alias("w_total")))

    return _ks(df, value_col, ts_col, quantize, baseline)


def drift_report(df: DataFrame,
                 numeric_col,
                 cat_col: str,
                 ts_col: str = "warc_ts",
                 baseline_days: int | None = None,
                 ks_threshold: float = 0.1,
                 psi_threshold: float = 0.2,
                 js_threshold: float = 0.1) -> list[dict]:
    """Per-day drift verdicts vs a baseline built from the earliest
    ``baseline_days`` days (default: first 80% of days).

    Returns driver-side list of dicts: one per day with ks / psi values and
    boolean drift flags. Two Spark jobs (numeric + categorical sketches),
    each a single scan + tiny shuffle.
    """
    num = daily_numeric_sketch(df, numeric_col, ts_col).collect()
    cat = daily_category_freqs(df, cat_col, ts_col).collect()
    if not num:
        return []
    days = sorted(r["day"] for r in num)
    if baseline_days is None:
        baseline_days = max(1, int(len(days) * 0.8))
    base_set = set(days[:baseline_days])

    # merged baseline: weighted average of per-day quantiles (approximation:
    # quantile-of-quantiles; adequate for drift flagging) and summed counts
    base_rows = [r for r in num if r["day"] in base_set]
    n_probs = len(DEFAULT_PROBS)
    base_q = [
        sum(r["quantiles"][i] * r["n"] for r in base_rows)
        / max(1, sum(r["n"] for r in base_rows))
        for i in range(n_probs)
    ]
    base_counts: dict[str, float] = {}
    base_total = 0
    for r in cat:
        if r["day"] in base_set:
            for k, v in r["counts"].items():
                base_counts[k] = base_counts.get(k, 0) + v
            base_total += r["total"]
    base_freqs = {k: v / max(1, base_total) for k, v in base_counts.items()}

    cat_by_day = {r["day"]: r for r in cat}
    report = []
    for r in sorted(num, key=lambda x: x["day"]):
        day = r["day"]
        ks = ks_from_quantiles(base_q, list(r["quantiles"]))
        c = cat_by_day.get(day)
        day_freqs = ({k: v / max(1, c["total"]) for k, v in c["counts"].items()}
                     if c else {})
        p = psi(base_freqs, day_freqs)
        js = js_divergence(base_freqs, day_freqs)
        report.append({
            "day": day,
            "in_baseline": day in base_set,
            "ks": ks,
            "psi": p,
            "js": js,
            "ks_drift": bool(ks > ks_threshold and day not in base_set),
            "psi_drift": bool(p > psi_threshold and day not in base_set),
            "js_drift": bool(js > js_threshold and day not in base_set),
        })
    return report


def rate_anomalies(df: DataFrame, ts_col: str = "ts",
                   entity_col: str = "user_id",
                   bucket: str = "hour",
                   baseline_windows: int = 24,
                   z_threshold: float = 3.0,
                   min_baseline: int = 6) -> DataFrame:
    """Per-entity event-rate spike detection (the abuse/bot monitor):
    bucket counts per entity, then flag buckets whose count sits
    ``z_threshold`` sample standard deviations above the mean of the
    entity's previous ``baseline_windows`` OBSERVED buckets (sparse
    semantics — empty buckets are not materialized; densify upstream
    if silence must count as zero). Buckets with fewer than
    ``min_baseline`` trailing observations never flag (cold start);
    events without a timestamp are skipped.

    Determinism: the trailing frame contributes INTEGER sums (count,
    sum, sum-of-squares), and mean/variance come from the explicit
    formula var = (k*sumsq - sum^2) / (k*(k-1)) — every intermediate
    is exact, so the z-score doubles (and the >= threshold cut) are
    identical in any engine; no Welford/streaming-variance ulp skew.

    Scale story: one partial+final count aggregation (corpus -> one
    row per entity x bucket) and one per-entity window over those
    bucket rows — shuffle carries counts, never events. A single
    dominant entity degrades to one reducer over its #buckets rows
    (bounded by the time range, not the event volume).

    Output: entity, bucket (string), n, baseline_mean, z — flagged
    rows only; z is the sentinel -1.0 for zero-variance-baseline
    flags (z is undefined there, and a NULL double round-trips
    differently across engines)."""
    counts = (df.filter(F.col(ts_col).isNotNull())
              .groupBy(
                  F.col(entity_col).alias("entity"),
                  F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("entity").orderBy("_b")
         .rowsBetween(-baseline_windows, -1))
    k = F.count("n").over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    # ANSI mode: guard the cold-start frames (k = 0 or 1) before
    # dividing — otherwise the first buckets throw DIVIDE_BY_ZERO
    mean = F.when(k > 0, s.cast("double") / k.cast("double"))
    var = F.when(k > 1, (k * ss - s * s).cast("double")
                 / (k * (k - 1)).cast("double"))
    z = (F.col("n") - mean) / F.sqrt(var)
    out = (counts
           .withColumn("_k", k).withColumn("_mean", mean)
           .withColumn("_var", var)
           .withColumn("_z", F.when(F.col("_var") > 0, z)))
    # a zero-variance baseline (perfectly steady rate) makes z
    # undefined, but a count above the mean there is an unambiguous
    # spike — flag it with z = NULL rather than staying silent
    flagged = ((F.col("_var") > 0) & (F.col("_z") >= z_threshold)) | \
        ((F.col("_var") == 0) & (F.col("n") > F.col("_mean")))
    return (out.filter((F.col("_k") >= min_baseline) & flagged)
            .select("entity",
                    F.date_format("_b", "yyyy-MM-dd HH:mm:ss")
                    .alias("bucket"),
                    "n", F.round("_mean", 6).alias("baseline_mean"),
                    F.coalesce(F.round("_z", 6), F.lit(-1.0))
                    .alias("z")))
