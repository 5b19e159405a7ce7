"""Salted join must be result-identical to the plain join while spreading any
single key across n_salt shards."""

import pytest
from pyspark.sql import functions as F

from ophidia_server_spark.functions.skew import salted_join, skew_stats


def test_salted_join_equals_plain(tables):
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    orders = tables["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    plain = li.join(orders, on=["l_orderkey"]).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2).alias("s")
    )
    salted = salted_join(li, orders, on=["l_orderkey"], n_salt=4).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2).alias("s")
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_join_left_outer(tables):
    li = tables["lineitem"].select("l_orderkey").distinct()
    orders = tables["orders"].select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    plain = li.join(orders, on=["l_orderkey"], how="left").count()
    salted = salted_join(li, orders, on=["l_orderkey"], n_salt=3, how="left").count()
    assert plain == salted


def test_skew_stats_shape(tables):
    st = skew_stats(tables["lineitem"], ["l_returnflag"], top=3)
    rows = st.collect()
    assert len(rows) == 3
    assert rows[0].n_rows >= rows[-1].n_rows
    assert 0 < rows[0].share <= 1.0


def test_bucketed_range_join_equals_theta(spark, tables):
    from ophidia_server_spark.functions.joins import bucketed_range_join

    ev = tables["events"].select("ts", "user_id")
    iv = ev.groupBy("user_id").agg(
        F.min("ts").alias("lo"), (F.min("ts") + F.expr("INTERVAL 6 HOURS")).alias("hi")
    ).drop("user_id").limit(20)
    theta = ev.join(iv, (F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi"))).count()
    bucketed = bucketed_range_join(ev, iv, "ts", "lo", "hi", bucket_seconds=3600).count()
    assert theta == bucketed > 0
    # and the bucketized plan is a real hash join, not a nested loop
    plan = bucketed_range_join(ev, iv, "ts", "lo", "hi", 3600)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def _skewed_events(spark):
    # one bot user with dense multi-day traffic (sessions crossing bucket
    # boundaries) + sparse normal users; integer values keep float sums exact
    # so the equality check is bit-level
    rows = []
    for m in range(0, 5000, 7):  # hot user 1: event every 7 min across ~3.5d
        rows.append((1, f"2024-03-0{1 + m // 1440}T{(m % 1440) // 60:02d}:{m % 60:02d}:00", float(m % 11)))
    for u in range(2, 40):
        for k in range(u % 5 + 1):
            rows.append((u, f"2024-03-02T{(3 * k + u) % 24:02d}:{(u * 13) % 60:02d}:00", float(u)))
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf)


def test_sessionize_bucketed_equals_plain_on_skew(spark):
    from ophidia_server_spark.streaming.windows import sessionize

    ev = _skewed_events(spark)
    plain = {tuple(r) for r in sessionize(ev, gap_minutes=30).collect()}
    bucketed = {tuple(r) for r in sessionize(ev, gap_minutes=30, skew_bucket="day").collect()}
    assert bucketed == plain and len(plain) > 10
    # the hot user's sessions span day boundaries -> the merge stage really ran
    hourly = {tuple(r) for r in sessionize(ev, gap_minutes=30, skew_bucket="hour").collect()}
    assert hourly == plain


@pytest.mark.parametrize("skew_bucket", [None, "hour"])
def test_sessionize_gap_at_microsecond_resolution(spark, skew_bucket):
    # a gap of exactly 30 min stays in the session; 30 min + 0.5 s opens a
    # new one (whole-second truncation used to merge it)
    from datetime import datetime, timedelta

    from ophidia_server_spark.streaming.windows import sessionize

    t0 = datetime(2024, 3, 1, 10, 0, 0)
    t1 = t0 + timedelta(seconds=1800)
    t2 = t1 + timedelta(seconds=1800.5)
    ev = spark.createDataFrame(
        [(1, t0, 1.0), (1, t1, 2.0), (1, t2, 4.0)], "user_id long, ts timestamp, value double"
    )
    got = sorted(
        (r.n_events, r.sum_value)
        for r in sessionize(ev, gap_minutes=30, skew_bucket=skew_bucket).collect()
    )
    assert got == [(1, 4.0), (2, 3.0)]


def test_asof_join_salted_equals_plain_on_skew(spark):
    from ophidia_server_spark.streaming.windows import asof_join

    ev = _skewed_events(spark)
    quotes = _skewed_events(spark).groupBy("user_id").agg(
        F.expr("date_trunc('hour', min(ts))").alias("ts"),
        F.round(F.avg("value"), 0).alias("value"),
    )
    kw = dict(ts_col="ts", by="user_id", value_cols=["value"])
    for direction in ("backward", "forward"):
        plain = {
            tuple(r) for r in asof_join(ev, quotes, direction=direction, **kw).collect()
        }
        salted = {
            tuple(r)
            for r in asof_join(ev, quotes, direction=direction, n_salt=4, **kw).collect()
        }
        assert salted == plain and len(plain) > 100
    # tolerance path drops the same matches in both formulations
    plain_tol = {
        tuple(r)
        for r in asof_join(ev, quotes, tolerance="45 minutes", **kw).collect()
    }
    salted_tol = {
        tuple(r)
        for r in asof_join(ev, quotes, tolerance="45 minutes", n_salt=3, **kw).collect()
    }
    assert salted_tol == plain_tol


def test_interval_overlap_join_matches_theta_join(spark):
    from ophidia_server_spark.functions.joins import interval_overlap_join

    rows_l = [
        (1, "2024-01-01 00:00:00", "2024-01-01 05:00:00"),
        (2, "2024-01-02 10:00:00", "2024-01-02 10:30:00"),
        (3, "2024-01-05 00:00:00", "2024-01-08 00:00:00"),  # spans many buckets
    ]
    rows_r = [
        (10, "2024-01-01 04:59:59", "2024-01-01 06:00:00"),  # touches 1
        (11, "2024-01-02 10:15:00", "2024-01-02 10:16:00"),  # inside 2
        (12, "2024-01-06 00:00:00", "2024-01-07 00:00:00"),  # inside 3, 2 shared days
        (13, "2024-02-01 00:00:00", "2024-02-02 00:00:00"),  # no overlap
    ]
    l = spark.createDataFrame(rows_l, "lid long, lo string, hi string").select(
        "lid", F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"))
    r = spark.createDataFrame(rows_r, "rid long, ilo string, ihi string").select(
        "rid", F.col("ilo").cast("timestamp").alias("ilo"),
        F.col("ihi").cast("timestamp").alias("ihi"))
    got = {(x.lid, x.rid) for x in
           interval_overlap_join(l, r, "lo", "hi", "ilo", "ihi").collect()}
    want = {(x.lid, x.rid) for x in
            l.join(r, (F.col("lo") <= F.col("ihi")) & (F.col("ilo") <= F.col("hi")))
            .collect()}
    assert got == want == {(1, 10), (2, 11), (3, 12)}
    # multi-bucket overlaps appear exactly once (first-shared-bucket dedup)
    assert len(interval_overlap_join(l, r, "lo", "hi", "ilo", "ihi").collect()) == 3
