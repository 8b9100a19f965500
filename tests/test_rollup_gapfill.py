"""Retention tiers + gap-fill: correctness vs pandas-computed expectations
and cascade-vs-direct equivalence."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.operators.gapfill import gap_fill
from tsdownsample_spark.operators.rollup import (
    retention_tiers,
    rollup_raw,
    with_derived,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    yield df
    df.unpersist()


def test_tier_1m_matches_pandas(spark, events):
    tiers = retention_tiers(
        events, x_col="ts", y_col="value", by=["event_type"], uid_col="event_id"
    )
    got = tiers["1m"].toPandas().sort_values(["event_type", "bucket_ts"])
    pdf = events.toPandas()
    pdf["bucket_ts"] = pdf.ts.dt.floor("min")
    exp = (
        pdf.sort_values(["ts", "event_id"])
        .groupby(["event_type", "bucket_ts"])
        .agg(
            agg_cnt=("value", "size"),
            agg_min=("value", "min"),
            agg_max=("value", "max"),
            first_val=("value", "first"),
            last_val=("value", "last"),
        )
        .reset_index()
        .sort_values(["event_type", "bucket_ts"])
    )
    assert len(got) == len(exp)
    for c in ("agg_cnt", "agg_min", "agg_max", "first_val", "last_val"):
        np.testing.assert_allclose(
            got[c].to_numpy(), exp[c].to_numpy(), rtol=0, atol=0, err_msg=c
        )


def test_cascade_equals_direct(spark, events):
    """1h from 1m must equal 1h computed straight from raw (decomposability)."""
    tiers = retention_tiers(
        events, x_col="ts", y_col="value", by=["event_type"], uid_col="event_id"
    )
    direct = rollup_raw(
        events, "1h", x_col="ts", y_col="value", by=["event_type"], uid_col="event_id"
    )
    a = tiers["1h"].toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    b = direct.toPandas().sort_values(["event_type", "bucket_ts"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in ("agg_cnt", "agg_min", "agg_max", "first_ts", "first_val", "last_ts", "last_val"):
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy(), err_msg=c)
    np.testing.assert_allclose(a.agg_sum.to_numpy(), b.agg_sum.to_numpy(), rtol=1e-12)


def test_tier_row_reduction(spark, events):
    tiers = retention_tiers(events, by=["event_type"], x_col="ts", y_col="value")
    n1m, n1h, n1d = (tiers[t].count() for t in ("1m", "1h", "1d"))
    assert n1m > n1h > n1d > 0


def test_gapfill_null_and_zero(spark):
    pdf = pd.DataFrame(
        {
            "series_key": "a",
            "bucket_ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:04"]
            ),
            "agg_avg": [1.0, 2.0, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = gap_fill(df, "1 minute", by=["series_key"], value_cols=["agg_avg"]).orderBy(
        "bucket_ts"
    )
    rows = out.collect()
    assert len(rows) == 5
    assert [r.is_gap for r in rows] == [False, False, True, True, False]
    assert rows[2].agg_avg is None

    z = gap_fill(
        df, "1 minute", by=["series_key"], value_cols=["agg_avg"], strategy="zero"
    ).orderBy("bucket_ts")
    assert [r.agg_avg for r in z.collect()] == [1.0, 2.0, 0.0, 0.0, 5.0]


def test_gapfill_locf_and_linear(spark):
    pdf = pd.DataFrame(
        {
            "series_key": ["a"] * 3 + ["b"] * 2,
            "bucket_ts": pd.to_datetime(
                [
                    "2024-01-01 00:00",
                    "2024-01-01 00:01",
                    "2024-01-01 00:04",
                    "2024-01-01 02:00",
                    "2024-01-01 02:03",
                ]
            ),
            "agg_avg": [1.0, 2.0, 5.0, 10.0, 40.0],
        }
    )
    df = spark.createDataFrame(pdf)
    locf = gap_fill(
        df, "1 minute", by=["series_key"], value_cols=["agg_avg"], strategy="locf"
    ).orderBy("series_key", "bucket_ts")
    vals = [r.agg_avg for r in locf.collect()]
    assert vals == [1.0, 2.0, 2.0, 2.0, 5.0, 10.0, 10.0, 10.0, 40.0]

    lin = gap_fill(
        df, "1 minute", by=["series_key"], value_cols=["agg_avg"], strategy="linear"
    ).orderBy("series_key", "bucket_ts")
    vals = [r.agg_avg for r in lin.collect()]
    np.testing.assert_allclose(
        vals, [1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 20.0, 30.0, 40.0]
    )


def test_gapfill_reverses_downsample_gaps(spark):
    """Round-trip with the reference gap semantics: equidistant bins that
    emit nothing (gaps) come back as explicit grid rows."""
    tiers = retention_tiers(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
        by=["event_type"],
        x_col="ts",
        y_col="value",
    )
    t1m = with_derived(tiers["1m"])
    filled = gap_fill(t1m, "1 minute", by=["event_type"], value_cols=["agg_avg"])
    n_grid = filled.count()
    n_rows = t1m.count()
    assert n_grid >= n_rows
    # grid is dense: per event_type, count == (max-min)/1min + 1
    check = (
        filled.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (
                (F.unix_timestamp(F.max("bucket_ts")) - F.unix_timestamp(F.min("bucket_ts")))
                / 60
                + 1
            ).alias("expected"),
        )
        .collect()
    )
    for r in check:
        assert r.n == r.expected


def test_continuous_rollup_incremental(spark, tmp_path, sf_dir):
    """Delta-append continuous aggregate: two raw appends, two maintenance
    runs -> read-side merged tier equals a full recompute; a third run with
    no new data is a no-op."""
    from pyspark.sql import functions as F

    from tsdownsample_spark.operators.rollup import (
        continuous_rollup,
        merge_tier_partials,
        rollup_raw,
    )
    from tsdownsample_spark.sources.tableio import SnapshotTable

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        # unique (event_type, ts) so first/last merges are order-free across
        # deltas (cross-delta ts ties are resolved by ts alone, by design)
        .dropDuplicates(["event_type", "ts"])
    )
    raw = SnapshotTable(str(tmp_path / "raw"))
    tier = SnapshotTable(str(tmp_path / "t1m"))
    a, b = ev.randomSplit([0.6, 0.4], seed=7)

    raw.append(a)
    s1 = continuous_rollup(spark, raw, tier, "1m", by=["event_type"])
    assert s1 is not None
    raw.append(b)
    s2 = continuous_rollup(spark, raw, tier, "1m", by=["event_type"])
    assert s2 is not None and s2 != s1
    # no new data -> no commit
    assert continuous_rollup(spark, raw, tier, "1m", by=["event_type"]) is None

    cols = ["event_type", "bucket_ts", "agg_cnt", "agg_sum", "agg_min",
            "agg_max", "first_ts", "first_val", "last_ts", "last_val"]
    got = sorted(
        tuple(r) for r in
        merge_tier_partials(tier.read(spark), by=["event_type"]).select(*cols).collect()
    )
    exp = sorted(
        tuple(r) for r in
        rollup_raw(ev, "1m", by=["event_type"]).select(*cols).collect()
    )
    assert got == exp
    # incrementality is structural: the 2nd commit's delta only contains
    # partials for buckets present in batch b
    added = spark.read.parquet(*tier.snapshot(s2)["added_files"])
    assert added.count() <= rollup_raw(b, "1m", by=["event_type"]).count()


def test_continuous_rollup_resume_marker_survives_compaction(spark, tmp_path, sf_dir):
    """Code-review regressions: (a) a tier commit WITHOUT a raw_snapshot
    marker (compaction) must not reset the resume cursor; (b) raw snapshots
    are consumed by parent-chain position, not id string order."""
    from pyspark.sql import functions as F

    from tsdownsample_spark.operators.rollup import (
        continuous_rollup,
        merge_tier_partials,
        rollup_raw,
    )
    from tsdownsample_spark.sources.tableio import SnapshotTable

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        .dropDuplicates(["event_type", "ts"])
    )
    raw = SnapshotTable(str(tmp_path / "raw"))
    tier = SnapshotTable(str(tmp_path / "t1m"))
    a, b = ev.randomSplit([0.5, 0.5], seed=3)
    raw.append(a)
    continuous_rollup(spark, raw, tier, "1m", by=["event_type"])
    # compaction: rewrite the merged partials WITHOUT a raw_snapshot marker
    compacted = merge_tier_partials(tier.read(spark), by=["event_type"])
    tier.append(compacted, summary={"compaction": True})
    # no new raw data -> still a no-op (marker found past the compaction)
    assert continuous_rollup(spark, raw, tier, "1m", by=["event_type"]) is None
    raw.append(b)
    assert continuous_rollup(spark, raw, tier, "1m", by=["event_type"]) is not None
    # NOTE the tier now holds batch-a partials TWICE (pre- and post-
    # compaction commit) — real compaction replaces files; this stand-in
    # only checks the resume cursor, so compare against a mirror with the
    # same duplication
    cols = ["event_type", "bucket_ts", "agg_min", "agg_max"]
    got = sorted(
        tuple(r) for r in
        merge_tier_partials(tier.read(spark), by=["event_type"]).select(*cols).collect()
    )
    exp = sorted(
        tuple(r) for r in rollup_raw(ev, "1m", by=["event_type"]).select(*cols).collect()
    )
    assert got == exp


def test_gapfill_max_buckets_guard(spark):
    """One corrupt (epoch-0) timestamp stretches a series' span so a minute
    grid would be ~28M rows — the guard must fail loudly in-plan instead of
    building the sequence array; a sane series sails through, and
    max_buckets=None restores the old unguarded behavior on small spans."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from tsdownsample_spark.operators.gapfill import gap_fill

    base = dt.datetime(2024, 1, 1)
    good = [("s", base + dt.timedelta(minutes=m), 1.0) for m in range(5)]
    df_good = spark.createDataFrame(
        good, "series_key string, bucket_ts timestamp, agg_avg double"
    )
    assert gap_fill(df_good, "1 minute").count() == 5

    corrupt = good + [("s", dt.datetime(1970, 1, 1), 0.0)]
    df_bad = spark.createDataFrame(
        corrupt, "series_key string, bucket_ts timestamp, agg_avg double"
    )
    with _pytest.raises(Exception, match="max_buckets"):
        gap_fill(df_bad, "1 minute").count()
    # explicit opt-out on a small-but-over-the-tiny-cap series still works
    assert gap_fill(df_good, "1 minute", max_buckets=2) is not None
    with _pytest.raises(Exception, match="max_buckets"):
        gap_fill(df_good, "1 minute", max_buckets=2).count()
    assert gap_fill(df_good, "1 minute", max_buckets=None).count() == 5
