"""Physical-plan audits: the properties the engine's scale story depends on
must be visible in `.explain` output, not just claimed."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.operators.downsample import downsample_tokens
from tsdownsample_spark.operators.rollup import rollup_raw
from tsdownsample_spark.sources.synth import synth_token_table


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Selecting 2 columns of documents must prune the parquet ReadSchema."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.select("doc_id", F.length("text").alias("n")))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "n_chars" not in read_schema and "lang" not in read_schema


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 8
    )
    plan = _plan(emb)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "vec_id" in pushed and "LessThan" in pushed


def test_rollup_uses_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregate stages around one Exchange."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(rollup_raw(ev, "1m", by=["event_type"]))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan
    assert plan.count("Exchange") == 1


def test_downsample_single_python_stage(spark):
    """Token downsampling is exactly one Arrow-Python stage, no shuffle."""
    df = synth_token_table(spark, n_docs=8, seed=3)
    plan = _plan(downsample_tokens(df, 100, algo="minmaxlttb"))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1 or plan.count("ArrowEvalPython") == 1


def test_dedup_exact_no_join_no_broadcast(spark, sf_dir):
    """Exact dedup is a single window over content_hash: no join operator,
    no broadcast of a per-document build side (unbounded at scale)."""
    from tsdownsample_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dedup_exact(docs))
    assert "BroadcastExchange" not in plan
    assert "join" not in plan.lower()
    assert "Window" in plan
    assert plan.count("Exchange") == 1  # one shuffle on content_hash


def test_jaccard_pairs_semi_joins_corpus(spark, sf_dir):
    """Pair verification must restrict the corpus with a semi-join instead
    of broadcasting the full shingle table (explicit broadcast hints gone;
    AQE may still pick broadcast for genuinely small sides)."""
    from tsdownsample_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pyspark.sql import functions as F  # noqa: F811

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    pairs = lsh_candidate_pairs(minhash_signatures(docs, k=16), bands=4, rows=4)
    plan = jaccard_pairs(docs, pairs)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


def test_broadcast_join_for_small_probes(spark, sf_dir):
    from tsdownsample_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 3)
    plan = _plan(cosine_topk(emb, probes, k=5))
    assert "Broadcast" in plan  # probe side broadcast, no shuffled join


def test_long_selector_shuffle_free_on_bucketed_source(spark, sf_dir, tmp_path):
    """The 100 TB claim, made checkable: when the source table is bucketed
    (and sorted) by the series key, the distributed long-form selector's
    rank window and grouped aggregation need NO exchange at all — the whole
    MinMax plan is scan -> window -> partial agg, shuffle-free."""
    from tsdownsample_spark.operators.sql_selectors import minmax_long

    # (warehouse dir is a static conf; the default ./spark-warehouse is
    # gitignored and the table is dropped below)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_test")
    (
        ev.write.mode("overwrite")
        .bucketBy(8, "event_type")
        .sortBy("event_type", "ts")
        .saveAsTable("ev_bucketed_test")
    )
    try:
        bt = spark.table("ev_bucketed_test")
        sel = minmax_long(bt, 100, order=["ts", "event_id"], by=["event_type"], y_col="value")
        plan = _plan(sel)
        assert "Exchange" not in plan  # zero shuffles end-to-end
        # and the result is identical to the plain-parquet path
        plain = minmax_long(ev, 100, order=["ts", "event_id"], by=["event_type"], y_col="value")
        got = sorted(tuple(r) for r in sel.collect())
        exp = sorted(tuple(r) for r in plain.collect())
        assert got == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_test")


def test_token_tier_cascade_is_shuffle_free(spark):
    """The whole retention ladder — three chained tiers with raw-index
    re-basing — must stay a narrow map pipeline: zero Exchange, one
    MapInArrow per tier, no Python round-trip for the element_at gather."""
    from tsdownsample_spark.operators.token_retention import token_tier_cascade

    df = synth_token_table(spark, n_docs=8, seed=3)
    tiers = token_tier_cascade(df, [64, 16, 8], algo="minmax", mode="cascade")
    plan = _plan(tiers[8])
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 3
    # the sel_idx re-basing is a JVM expression, not a 4th Python stage
    assert plan.count("ArrowEvalPython") == 0


def test_rate_twa_gaps_single_exchange(spark, sf_dir):
    """The round-3 window operators each shuffle exactly once on the series
    key — no joins, no broadcasts, no second exchange."""
    from tsdownsample_spark.operators.gaps import detect_gaps, sessionize
    from tsdownsample_spark.operators.rate import counter_rate, time_weighted_avg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for out in (
        counter_rate(ev, x_col="ts", y_col="value", by=["event_type"],
                     tiebreak=["event_id"]),
        detect_gaps(ev, x_col="ts", by=["event_type"], min_gap=60.0),
    ):
        plan = _plan(out)
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan and "BroadcastExchange" not in plan
    # twa + sessionize aggregate after their window: the groupBy reuses the
    # window's partitioning (bucket/session key extends it), so AQE-planned
    # exchanges stay <= 2 and nothing broadcasts
    for out in (
        time_weighted_avg(ev, tier="1h", x_col="ts", y_col="value",
                          by=["event_type"], tiebreak=["event_id"]),
        sessionize(ev, x_col="ts", by=["event_type"], gap="30 minutes"),
    ):
        plan = _plan(out)
        assert plan.count("Exchange") <= 2, plan
        assert "Join" not in plan and "BroadcastExchange" not in plan


def test_anomaly_and_evaluator_plan_shape(spark, sf_dir):
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(rolling_zscore(ev, x_col="ts", y_col="value",
                                by=["event_type"], tiebreak=["event_id"]))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_prefix_zscore_plan_shape(spark, sf_dir):
    """The O(n) prefix impl stays one shuffle: running sums + lag share the
    same partitioning/ordering, so no extra Exchange appears and no join."""
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(rolling_zscore(ev, x_col="ts", y_col="value",
                                by=["event_type"], tiebreak=["event_id"],
                                impl="prefix"))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_curate_plan_shape(spark, sf_dir):
    """Curation is one scan + the dedup window's single Exchange — the
    feature/language gates are pure expressions, no joins, no UDFs."""
    from tsdownsample_spark.operators.curate import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(curate_documents(docs))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan
    assert "Python" not in plan  # no UDFs anywhere in the cascade


def test_lm_crossentropy_plan_shape(spark, sf_dir):
    """LM scoring: partial-agg LM build, equi-joins only (the single
    intended 1-row vocab broadcast is a BroadcastNestedLoopJoin with a
    one-row build side — bounded), no Python."""
    from tsdownsample_spark.operators.frequency import lm_crossentropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(lm_crossentropy(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-side combine on the bigram count (partial + final HashAggregate)
    assert plan.count("HashAggregate") >= 4
    # exactly the one intended nested-loop: the 1-row vocab cross join
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_apply_span_cuts_no_explode(spark):
    """Token-array surgery stays one filter-with-index expression per row:
    no Generate (explode) of the token array, no Python."""
    from tsdownsample_spark.operators.dedup import apply_span_cuts

    toks = spark.createDataFrame(
        [("a", list(range(64)))], "doc_id string, tokens array<int>"
    )
    cuts = spark.createDataFrame(
        [("a", 0, 16)], "doc_id string, span_start long, span_end long"
    )
    plan = _plan(apply_span_cuts(toks, cuts))
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_sample_single_exchange(spark, sf_dir):
    """Budget fill = ONE shuffle on the group key (window prefix sum),
    plus only the scan-side exchange Spark needs to get there."""
    from tsdownsample_spark.operators.sample import token_budget_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(
        token_budget_sample(docs, 10_000, by="source", weight="n_chars")
    )
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_round_is_window_based(spark):
    """Each CC half-round is a window min + projection — no collect_list
    aggregation (a hub's neighbor array never materializes in one task)."""
    from tsdownsample_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    # one round is enough to audit the shape
    plan = _plan(connected_components(pairs, max_iter=1))
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan


SERIES_PASSES = """
import json, sys
import numpy as np, pyarrow as pa, pyarrow.parquet as pq
from pyspark.sql import functions as F
from tsdownsample_spark.operators.gapfill import gap_fill
from tsdownsample_spark.operators.rollup import (
    continuous_rollup, retention_tiers, with_derived)
from tsdownsample_spark.operators.sql_selectors import minmax_long
from tsdownsample_spark.plans.materialize import release_materialized
from tsdownsample_spark.plans.session import get_spark
from tsdownsample_spark.queries import queries
from tsdownsample_spark.sources.tableio import SnapshotTable

tmp, sf_dir = sys.argv[1], sys.argv[2]
rng = np.random.default_rng(0)
files = []
for part in range(2):
    keys = np.repeat(np.arange(part * 8, part * 8 + 8), 300)
    ts = 1_700_000_000_000_000 + np.tile(np.arange(300) * 20_000_000, 8)
    keep = rng.random(keys.size) > 0.2
    files.append(f"{tmp}/part-{part}.parquet")
    pq.write_table(pa.table({
        "series_key": keys[keep],
        "ts": pa.array(ts[keep], type=pa.timestamp("us")),
        "value": rng.standard_normal(int(keep.sum())),
    }), files[-1])

spark = get_spark(app_name="codegen-cache", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
qs = queries()
AGG = ("count(*)", "sum(agg_cnt)", "sum(agg_sum)", "min(agg_min)", "max(agg_max)",
       "sum(first_val)", "sum(last_val)")


def series_pass(i):
    tiers = retention_tiers(spark.read.parquet(*files), by=["series_key"])
    for tier in ("1m", "1h", "1d"):
        tiers[tier].selectExpr(*AGG).collect()
    t1m = with_derived(tiers["1m"])
    gap_fill(t1m, "1 minute", by=["series_key"], strategy="locf").agg(
        F.count("*"), F.sum(F.col("is_gap").cast("long")), F.sum("agg_avg")
    ).collect()
    minmax_long(t1m, 20, order=["bucket_ts"], by=["series_key"], y_col="agg_max").collect()
    release_materialized()
    for q in ("q_rollup_1m", "q_gapfill_locf", "q_minmax_long"):
        qs[q](spark, sf_dir).collect()
    raw_tbl = SnapshotTable(f"{tmp}/raw{i}")
    tier_tbl = SnapshotTable(f"{tmp}/tier{i}")
    for f in files:
        raw_tbl.append(spark.read.parquet(f))
        continuous_rollup(spark, raw_tbl, tier_tbl, "1m")


counts = []
for i in range(2):
    before = compiles.getCount()
    series_pass(i)
    counts.append(compiles.getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_series_plans_compile_once_per_jvm(sf_dir, tmp_path):
    """A second pass of the series operators compiles no generated class.

    One pass (retention-tier checksums, LOCF gap-fill, ``minmax_long``, the
    contract rows on them, continuous-rollup refreshes) needs more distinct
    whole-stage-codegen classes than Spark's default cache of 100 holds, so
    with that default every pass recompiles most of them.  The cache is
    sized once per JVM, so this runs in a fresh interpreter whose first
    session comes from ``get_spark``.  Counts Janino compiles, not time."""
    r = subprocess.run(
        [sys.executable, "-c", SERIES_PASSES, str(tmp_path), sf_dir],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    first, second = json.loads(r.stdout.strip().splitlines()[-1])
    # the pass is in the eviction regime of the default cache
    assert first > 100, (first, second)
    assert second == 0, (first, second)
