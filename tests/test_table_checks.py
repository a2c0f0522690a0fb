"""Table-level checks: uniqueness, referential, stats, drift."""

from pyspark.sql import functions as F

from json_schema_spark.checks import (
    column_profile,
    drift_report,
    duplicate_keys,
    length_histogram,
    referential_violations,
    uniqueness_violations,
)


def test_duplicate_keys(spark):
    df = spark.createDataFrame(
        [("u1",), ("u2",), ("u1",), ("u3",), ("u1",)], "url string")
    got = {(r["url"], r["dup_count"])
           for r in duplicate_keys(df, ["url"]).collect()}
    assert got == {("u1", 3)}


def test_uniqueness_violations_reports_every_dup_row(spark):
    df = spark.createDataFrame([("u1",), ("u2",), ("u1",)], "url string")
    rows = uniqueness_violations(df, ["url"]).collect()
    assert len(rows) == 2
    assert all(r["constraint_id"] == "url.unique" for r in rows)


def test_referential_list_and_df(spark):
    df = spark.createDataFrame(
        [("a", "en"), ("b", "xx"), ("c", None)], "url string, lang string")
    got = referential_violations(df, "lang", ["en", "de"], id_col="url").collect()
    assert [(r["url"], r["observed_value"]) for r in got] == [("b", "xx")]
    # a listed None matches no value: "xx" is flagged, as validate() does
    got = referential_violations(df, "lang", ["en", None], id_col="url").collect()
    assert [(r["url"], r["observed_value"]) for r in got] == [("b", "xx")]
    dim = spark.createDataFrame([("en",), ("de",)], "lang string")
    got = referential_violations(df, "lang", dim, id_col="url").collect()
    assert [(r["url"], r["observed_value"]) for r in got] == [("b", "xx")]


def test_column_profile(spark):
    df = spark.createDataFrame(
        [("aa", 1.0), ("bbbb", 3.0), (None, None)], "s string, v double")
    prof = {r["column"]: r for r in column_profile(df).collect()}
    assert abs(prof["s"]["null_rate"] - 1 / 3) < 1e-9
    assert prof["s"]["min"] == "2" and prof["s"]["max"] == "4"  # lengths
    assert prof["v"]["min"] == "1.0" and prof["v"]["max"] == "3.0"
    assert prof["s"]["n_rows"] == 3


def test_length_histogram(spark):
    df = spark.createDataFrame([("a" * 5,), ("a" * 150,), ("a" * 160,)],
                               "s string")
    got = {r["bucket_start"]: r["n"] for r in
           length_histogram(df, "s", bucket_width=100).collect()}
    assert got == {0: 1, 100: 2}


def test_drift_detects_shifted_window(spark):
    # 10 days; last 2 days: numeric scale x10 and category flip
    rows = []
    for day in range(10):
        for i in range(200):
            drifted = day >= 8
            v = float((i % 50) * (10 if drifted else 1))
            cat = ("b" if drifted else "a") if i % 3 else "c"
            rows.append((f"2024-03-{day+1:02d} 12:00:00", v, cat))
    df = (spark.createDataFrame(rows, "ts string, v double, cat string")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    rep = drift_report(df, "v", "cat", ts_col="ts", baseline_days=8)
    by_day = {str(r["day"]): r for r in rep}
    assert not by_day["2024-03-05"]["ks_drift"]
    assert by_day["2024-03-09"]["ks_drift"]
    assert by_day["2024-03-09"]["psi_drift"]
    assert not by_day["2024-03-05"]["psi_drift"]


def test_ks_by_period_exact(spark):
    """ks_by_period vs a NumPy-computed exact KS of the quantized
    distribution, per day."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from json_schema_spark.checks.drift import ks_by_period

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {str(r["day"]): r["ks"] for r in
           ks_by_period(ev, "value", "ts").collect()}

    rows = ev.select(F.to_date("ts").alias("d"), "value").collect()
    by_day: dict = {}
    allb = []
    for r in rows:
        if r["value"] is None:
            continue
        b = int(np.floor(float(r["value"]) * 4))
        by_day.setdefault(str(r["d"]), []).append(b)
        allb.append(b)
    grid = sorted(set(allb))
    n_all = len(allb)
    import collections
    all_c = collections.Counter(allb)
    for day, vals in by_day.items():
        day_c = collections.Counter(vals)
        cum_d = cum_a = 0.0
        ks = 0.0
        for b in grid:
            cum_d += day_c.get(b, 0) / len(vals)
            cum_a += all_c.get(b, 0) / n_all
            ks = max(ks, abs(cum_d - cum_a))
        assert abs(got[day] - ks) < 1e-5, day


def test_referential_missing_column_fails_hard(spark):
    """A typo'd referential column must surface as an always-fail
    constraint, not a silent pass (ADVICE r1)."""
    from json_schema_spark import ConstraintSet, validate

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    cset = ConstraintSet(name="t", columns={},
                         referential={"langg": ["en"]})
    viols = validate(df, cset, id_col="doc_id",
                     observe=False).violations().collect()
    assert [v["constraint_id"] for v in viols] == ["langg.referential"]


def test_js_divergence_properties(spark):
    """JSD is 0 for identical distributions, bounded by ln 2, symmetric
    by construction, and finite when a category is absent on a day
    (where PSI needs an epsilon clamp)."""
    import math

    from pyspark.sql import functions as F

    from json_schema_spark.checks.drift import js_divergence_by_period

    rows = []
    # day 1: identical mix to overall-ish; day 2: category missing
    for i in range(100):
        rows.append(("2024-01-01 00:00:00", "a" if i % 2 else "b"))
    for i in range(100):
        rows.append(("2024-01-02 00:00:00", "a"))
    df = spark.createDataFrame(rows, "ts string, event_type string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {str(r["day"]): r["js_divergence"]
           for r in js_divergence_by_period(df, "event_type").collect()}
    assert all(0.0 <= v <= math.log(2) + 1e-9 for v in out.values())
    # the all-'a' day diverges more than the mixed day
    assert out["2024-01-02"] > out["2024-01-01"]

    # identical per-day and overall distributions -> exactly 0
    same = spark.createDataFrame(
        [("2024-01-01 00:00:00", "x"), ("2024-01-02 00:00:00", "x")],
        "ts string, event_type string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    z = [r["js_divergence"] for r in
         js_divergence_by_period(same, "event_type").collect()]
    assert z == [0.0, 0.0]


def test_ks_vs_baseline_exact(spark):
    """ks_vs_baseline (round 4) vs a NumPy-computed exact KS of the
    quantized day distribution against the pinned baseline CDF —
    including buckets present on only one side (zero mass on the
    other)."""
    import numpy as np

    from json_schema_spark.checks.drift import (
        ks_vs_baseline, numeric_baseline_snapshot)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base = {-5: 0.05, 0: 0.25, 1: 0.25, 2: 0.2, 3: 0.15, 40: 0.1}
    got = {str(r["day"]): r["ks"] for r in
           ks_vs_baseline(ev, "value", base, "ts").collect()}

    rows = ev.select(F.to_date("ts").alias("d"), "value").collect()
    by_day: dict = {}
    for r in rows:
        if r["value"] is None:
            continue
        b = int(np.floor(float(r["value"]) * 4))
        by_day.setdefault(str(r["d"]), []).append(b)
    assert set(got) == set(by_day)
    for d, bs in by_day.items():
        buckets = sorted(set(bs) | set(base))
        n = len(bs)
        cum_p = cum_q = 0.0
        best = 0.0
        for b in buckets:
            cum_p += sum(1 for x in bs if x == b) / n
            cum_q += base.get(b, 0.0)
            best = max(best, abs(cum_p - cum_q))
        assert abs(got[d] - round(best, 6)) < 1e-9, d

    # a snapshot of the data against ITSELF drifts nowhere: ks == 0
    snap = numeric_baseline_snapshot(ev, "value")
    assert abs(sum(snap.values()) - 1.0) < 1e-9
    one_day = ev.where(F.to_date("ts") == sorted(by_day)[0])
    # (per-day vs overall differs, so just sanity-bound it; exact zero
    # needs identical distributions:)
    whole = ks_vs_baseline(
        ev.withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp")),
        "value", snap, "ts").collect()
    assert len(whole) == 1 and whole[0]["ks"] == 0.0
    assert one_day.count() > 0  # fixture sanity


def test_per_period_drift_equals_drift_vs_own_overall_baseline(spark):
    """The per-period operators and the baseline operators compute one
    statistic: with the input's own overall frequency map (computed in
    Python) pinned as the baseline, drift_vs_baseline's psi and
    js_divergence equal psi_by_period's and js_divergence_by_period's
    exactly, and ks_vs_baseline tracks ks_by_period."""
    from collections import Counter

    from json_schema_spark.checks.drift import (
        drift_vs_baseline, js_divergence_by_period, ks_by_period,
        ks_vs_baseline, numeric_baseline_snapshot, psi_by_period)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cats = Counter(r["event_type"] if r["event_type"] is not None
                   else "__null__"
                   for r in ev.select("event_type").collect())
    total = sum(cats.values())
    overall = {c: n / total for c, n in cats.items()}

    base = {str(r["day"]): (r["psi"], r["js_divergence"]) for r in
            drift_vs_baseline(ev, "event_type", overall, "ts").collect()}
    psi = {str(r["day"]): r["psi"]
           for r in psi_by_period(ev, "event_type", "ts").collect()}
    js = {str(r["day"]): r["js_divergence"] for r in
          js_divergence_by_period(ev, "event_type", "ts").collect()}
    assert len(base) > 1
    assert base == {d: (psi[d], js[d]) for d in psi}

    ks_base = {str(r["day"]): r["ks"] for r in ks_vs_baseline(
        ev, "value", numeric_baseline_snapshot(ev, "value"),
        "ts").collect()}
    ks = {str(r["day"]): r["ks"]
          for r in ks_by_period(ev, "value", "ts").collect()}
    assert set(ks_base) == set(ks)
    assert all(abs(ks_base[d] - ks[d]) <= 1e-6 for d in ks)


def test_rate_anomalies_flags_spikes_with_cold_start_guard(spark):
    """A synthetic burst flags; steady entities and cold-start buckets
    (fewer than min_baseline trailing observations) never flag."""
    from datetime import datetime, timedelta

    from json_schema_spark.checks.drift import rate_anomalies

    base = datetime(2024, 1, 1)
    rows = []
    # steady: 1 event/hour for 30 hours
    for h in range(30):
        rows.append((1, base + timedelta(hours=h)))
    # bursty: 1/hour for 20 hours, then 50 in hour 20
    for h in range(20):
        rows.append((2, base + timedelta(hours=h)))
    for m in range(50):
        rows.append((2, base + timedelta(hours=20, minutes=m % 60)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = rate_anomalies(df, z_threshold=3.0, min_baseline=6).collect()
    assert {r.entity for r in out} == {2}
    spike = [r for r in out if r.entity == 2]
    assert len(spike) == 1 and spike[0].n == 50
    assert spike[0].z == -1.0  # zero-variance baseline -> sentinel z
    # steady entity never flags (constant counts, nothing above mean)
    assert not [r for r in out if r.entity == 1]
