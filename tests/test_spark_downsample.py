"""End-to-end Spark parity: downsample operators vs the local kernels (which
are themselves pinned to the reference by the golden/naive-oracle suites).
"""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.flat import flat_downsample, select_and_gather
from tsdownsample_spark.kernels.selectors import downsample_array
from tsdownsample_spark.operators.downsample import (
    ALGOS,
    downsample_series,
    downsample_tokens,
    gather_values,
)
from tsdownsample_spark.sources.synth import synth_token_rows, synth_token_table


@pytest.fixture(scope="module")
def token_df(spark):
    df = synth_token_table(spark, n_docs=40, seed=42, partitions=4).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def token_rows():
    return {r[0]: r[1] for r in synth_token_rows(40, seed=42)}


ALGO_NOUT = [
    ("minmax", 100),
    ("m4", 100),
    ("lttb", 101),
    ("minmaxlttb", 100),
    ("everynth", 100),
    ("nanminmax", 200),
    ("nanm4", 200),
]


@pytest.mark.parametrize("algo,n_out", ALGO_NOUT)
def test_token_downsample_parity(spark, token_df, token_rows, algo, n_out):
    out = downsample_tokens(token_df, n_out, algo=algo).select("doc_id", "sel_idx").collect()
    assert len(out) == 40
    for row in out:
        expected = downsample_array(token_rows[row.doc_id], n_out, algo=algo)
        assert row.sel_idx == expected.tolist(), f"{algo} mismatch for {row.doc_id}"


def test_gather_values_matches_numpy(spark, token_df, token_rows):
    out = (
        gather_values(downsample_tokens(token_df, 100, algo="minmaxlttb"))
        .select("doc_id", "sel_idx", "sel_tokens")
        .collect()
    )
    for row in out:
        toks = token_rows[row.doc_id]
        np.testing.assert_array_equal(np.asarray(row.sel_tokens), toks[np.asarray(row.sel_idx)])


def test_token_downsample_no_shuffle(spark):
    """The token-table path must stay a narrow map: no Exchange in the plan."""
    df = synth_token_table(spark, n_docs=8, seed=1)  # no explicit repartition
    plan = (
        downsample_tokens(df, 100, algo="minmax")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_batch_matches_per_series():
    """The flat batch kernel over one (values, offsets) buffer == the
    per-series kernel on each slice, for every selector."""
    rng = np.random.default_rng(5)
    # 114/202/254 are lengths where the last equal-count bin's floor product
    # rounds down and excludes the series tail (reference FP behavior) —
    # regression guard for the flat concatenation layout.
    arrays = [rng.standard_normal(n) for n in (50, 1_000, 114, 202, 254, 10_032, 3, 2_321)]
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum([len(a) for a in arrays], out=offsets[1:])
    values = np.concatenate(arrays)
    for algo in ALGOS:
        n_out = 101 if algo == "lttb" else 100
        flat, out_off = flat_downsample(values, offsets, n_out, algo)
        for s, a in enumerate(arrays):
            np.testing.assert_array_equal(
                flat[out_off[s] : out_off[s + 1]],
                downsample_array(a, n_out, algo=algo),
                err_msg=f"{algo} len {len(a)}",
            )


def test_batch_handles_nulls():
    """select_and_gather on batches with null rows: nulls stay null, every
    other row matches the per-series kernel, gathered tokens are
    values[idx] — across empty/short/long rows, an all-null column, a
    sliced ListArray (offset != 0) and a multi-chunk ChunkedArray."""
    import pyarrow as pa

    rng = np.random.default_rng(9)
    rows = [
        None,
        rng.integers(0, 50, 500).tolist(),
        [],
        None,
        rng.integers(0, 50, 7).tolist(),
        rng.integers(0, 50, 3_000).tolist(),
        None,
        rng.integers(0, 50, 254).tolist(),
    ]
    arr = pa.array(rows, type=pa.list_(pa.int32()))
    cases = {
        "mixed": arr,
        "all_null": pa.array([None, None, None], type=pa.list_(pa.int32())),
        "sliced": arr.slice(3, 4),
        "chunked": pa.chunked_array([arr.slice(0, 2), arr.slice(2, 3), arr.slice(5)]),
    }
    for (name, col), algo, gather in itertools.product(
        cases.items(), ALGOS, (True, False)
    ):
        where = (name, algo, gather)
        expected = col.to_pylist()
        sel_arr, tok_arr = select_and_gather(col, 20, algo, gather=gather)
        assert len(sel_arr) == len(expected), where
        sel_arr.validate(full=True)
        if gather:
            tok_arr.validate(full=True)
        else:
            assert tok_arr is None
        for i, toks in enumerate(expected):
            idx = sel_arr[i].as_py()
            if toks is None:
                assert idx is None, (where, i)
                if gather:
                    assert tok_arr[i].as_py() is None, (where, i)
                continue
            exp = downsample_array(np.asarray(toks, dtype=np.int32), 20, algo=algo)
            assert idx == exp.tolist(), (where, i)
            if gather:
                assert tok_arr[i].as_py() == [toks[j] for j in idx], (where, i)


def test_long_form_series_parity(spark):
    """Exploded (doc_id, ts, value) rows through applyInPandas == kernel."""
    rng = np.random.default_rng(11)
    pdfs = []
    expected = {}
    for d in range(6):
        n = int(rng.integers(500, 3_000))
        x = np.cumsum(rng.integers(1, 5, size=n)).astype(np.int64)
        y = rng.standard_normal(n)
        expected[f"d{d}"] = (x, y)
        pdfs.append(pd.DataFrame({"doc_id": f"d{d}", "ts": x, "value": y}))
    big = pd.concat(pdfs)
    df = spark.createDataFrame(big.sample(frac=1.0, random_state=1))  # shuffled input order

    out = downsample_series(df, 100, algo="minmax", x_col="ts", y_col="value", by=["doc_id"])
    got = out.toPandas().sort_values(["doc_id", "sel_idx"], kind="mergesort")
    for d, (x, y) in expected.items():
        idx = downsample_array(y, 100, algo="minmax", x=x)
        sub = got[got.doc_id == d]
        np.testing.assert_array_equal(sub.sel_idx.to_numpy(), idx)
        np.testing.assert_array_equal(sub.value.to_numpy(), y[idx])
        np.testing.assert_array_equal(sub.ts.to_numpy(), x[idx])


def test_long_form_lttb_with_x_parity(spark):
    """With-x LTTB (lttb.rs:17-92) through downsample_series == kernel: the
    real-x triangle area / avg_x-midpoint path end-to-end, irregular x."""
    rng = np.random.default_rng(17)
    pdfs = []
    expected = {}
    for d in range(4):
        n = int(rng.integers(400, 2_500))
        x = np.cumsum(rng.integers(1, 900, size=n)).astype(np.int64)  # very irregular
        y = rng.standard_normal(n)
        expected[f"d{d}"] = (x, y)
        pdfs.append(pd.DataFrame({"doc_id": f"d{d}", "ts": x, "value": y}))
    big = pd.concat(pdfs)
    df = spark.createDataFrame(big.sample(frac=1.0, random_state=3))

    out = downsample_series(df, 101, algo="lttb", x_col="ts", y_col="value", by=["doc_id"])
    got = out.toPandas().sort_values(["doc_id", "sel_idx"], kind="mergesort")
    for d, (x, y) in expected.items():
        idx = downsample_array(y, 101, algo="lttb", x=x)
        sub = got[got.doc_id == d]
        np.testing.assert_array_equal(sub.sel_idx.to_numpy(), idx)
        np.testing.assert_array_equal(sub.value.to_numpy(), y[idx])
        np.testing.assert_array_equal(sub.ts.to_numpy(), x[idx])


def test_long_form_with_timestamps(spark):
    rng = np.random.default_rng(13)
    n = 2_000
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(np.cumsum(rng.integers(1, 60, n)), "s")
    y = rng.standard_normal(n)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": "a", "ts": ts, "value": y}))
    out = downsample_series(df, 60, algo="m4", x_col="ts", y_col="value", by=["doc_id"])
    got = out.toPandas()
    idx = downsample_array(y, 60, algo="m4", x=ts.to_numpy())
    np.testing.assert_array_equal(np.sort(got.sel_idx.to_numpy()), np.sort(idx))


def test_validation_errors(spark, token_df):
    with pytest.raises(ValueError):
        downsample_tokens(token_df, 99, algo="minmax")
    with pytest.raises(ValueError):
        downsample_tokens(token_df, 10, algo="nope")
    with pytest.raises(ValueError):
        downsample_tokens(token_df, 2, algo="lttb")


def test_output_select_matches_append(token_df):
    """output='select' drops the token column from the Python->JVM return
    leg but must select identical indices and values as append+gather."""
    a = sorted(
        (r["doc_id"], tuple(r["sel_idx"]), tuple(r["sel_tokens"]))
        for r in gather_values(
            downsample_tokens(token_df, 48, algo="minmax")
        ).select("doc_id", "sel_idx", "sel_tokens").collect()
    )
    b = sorted(
        (r["doc_id"], tuple(r["sel_idx"]), tuple(r["sel_tokens"]))
        for r in downsample_tokens(token_df, 48, algo="minmax", output="select")
        .select("doc_id", "sel_idx", "sel_tokens").collect()
    )
    assert a == b
    for impl in ("pandas", "bogus"):
        with pytest.raises(ValueError, match="unknown impl"):
            downsample_tokens(token_df, 48, impl=impl)


def test_scan_downsample_matches_operator(spark, tmp_path):
    """Kernel-side scan source == the mapInArrow operator, across multiple
    files / row groups and through the null-row slow path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsdownsample_spark.sources.scan import scan_downsample_tokens

    rng = np.random.default_rng(17)
    d = tmp_path / "toks"
    d.mkdir()
    for f in range(3):
        rows = []
        for i in range(25):
            if f == 1 and i == 7:
                rows.append((f"d{f}_{i:03d}", None))
            else:
                n = int(rng.integers(10, 900))
                rows.append(
                    (f"d{f}_{i:03d}", rng.integers(0, 50_257, n).astype(np.int32))
                )
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows]),
                "tokens": pa.array(
                    [None if r[1] is None else r[1] for r in rows],
                    type=pa.list_(pa.int32()),
                ),
            }
        )
        pq.write_table(tbl, str(d / f"part-{f}.parquet"), row_group_size=9)

    for algo, n_out in [("minmax", 48), ("minmaxlttb", 40)]:
        got = sorted(
            (r["doc_id"],
             None if r["sel_idx"] is None else tuple(r["sel_idx"]),
             None if r["sel_tokens"] is None else tuple(r["sel_tokens"]))
            for r in scan_downsample_tokens(
                spark, str(d), n_out, algo=algo, tasks=5
            ).collect()
        )
        exp = sorted(
            (r["doc_id"],
             None if r["sel_idx"] is None else tuple(r["sel_idx"]),
             None if r["sel_tokens"] is None else tuple(r["sel_tokens"]))
            for r in downsample_tokens(
                spark.read.parquet(str(d)), n_out, algo=algo, output="select"
            ).collect()
        )
        assert got == exp, algo


def test_plan_row_group_tasks_1k_files(tmp_path):
    """Planner at 1k files: thread-pooled footer reads keep driver-side
    planning bounded, and the greedy packing covers every row group
    exactly once (no file read twice, none dropped)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsdownsample_spark.sources.scan import plan_row_group_tasks

    d = tmp_path / "many"
    d.mkdir()
    for i in range(1000):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i], type=pa.int64()),
                    "tokens": pa.array([[1, 2, 3]], type=pa.list_(pa.int32())),
                }
            ),
            d / f"part-{i:05d}.parquet",
        )
    t0 = time.time()
    plan = plan_row_group_tasks(str(d), 64)
    wall = time.time() - t0
    covered = [(f, rg) for f, rgs in plan for rg in rgs]
    assert len(covered) == len(set(covered)) == 1000
    # generous bound for co-tenant swings; sequential cold footer reads at
    # object-storage latencies would be minutes, local sequential ~2-3 s
    assert wall < 20.0, wall


def test_downsample_series_max_points_guard(spark):
    """A series larger than max_points fails loudly with routing guidance
    instead of OOMing the worker opaquely."""
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(500)], "doc_id string, ts long, value double"
    )
    out = downsample_series(df, 100, algo="minmax", x_col="ts", y_col="value",
                            by=["doc_id"], max_points=100)
    with pytest.raises(Exception, match="sql_selectors"):
        out.collect()
    # None disables the guard
    ok = downsample_series(df, 100, algo="minmax", x_col="ts", y_col="value",
                           by=["doc_id"], max_points=None)
    assert ok.count() == 100
