"""Emulates the driver's correctness gate locally: run every queries() entry
through Spark, every oracle_sql() entry through DuckDB on the same parquet
tables, and compare row counts + order-insensitive values.
"""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm_cell(v):
    # Type-tagged so an int-vs-float dtype mismatch between Spark and the
    # DuckDB oracle fails HERE, not only at the driver (its value-hash sees
    # '3.0' vs '3' — this masked the r01 q_text_features/q_simhash failures).
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.10g}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    return str(v)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm_cell(vals[i]) for i in order))
    return sorted(out)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"event_type", "pos", "sel_idx", "sel_value"}


def test_driver_window_policy():
    """The standing rotation policy (r4 verdict task 1): the driver checks
    the first 50 registry entries, and every SURVEY 2.1 selector class must
    have at least one row inside that window every round."""
    from tsdownsample_spark.queries import _WINDOW_R05

    names = list(entrymod.queries())
    window = names[:50]
    assert window == _WINDOW_R05
    for cls in (
        "minmax", "nanminmax", "m4", "nanm4",
        "lttb", "minmaxlttb", "nanminmaxlttb", "everynth",
    ):
        assert any(
            n == f"q_{cls}" or n.startswith(f"q_{cls}_") for n in window
        ), f"SURVEY 2.1 class {cls} has no in-window row"
    # no duplicate registrations between window and tail
    assert len(names) == len(set(names))


def _strict_cell(v):
    # One NA token for None/np.nan/NaT (the driver's canon normalizes NA:
    # q_anomaly's nullable-boolean column — object-None from Spark,
    # object-nan from DuckDB — was driver-green in r5).  Everything else
    # is dtype-faithful str(): int64 '81' vs float64 '81.0' and
    # datetime64 vs date DIFFER here, exactly like at the driver.
    import pandas as pd

    try:
        if v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
            return "<NA>"
    except (TypeError, ValueError):
        pass
    return str(v)


def _strict_canon(pdf):
    """The external driver's canonicalization, emulated (r5 verdict task:
    the collect()/fetchall() norm was provably too lenient — DuckDB
    HUGEINT reaches the driver as pandas float64 and DATE as datetime64,
    which fetchall() masks).  Sorts on every column, so a list-typed
    output cell raises TypeError exactly like the driver errs."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(
            list(pdf.columns), kind="mergesort", na_position="last"
        )
    return [
        tuple(_strict_cell(v) for v in row)
        for row in pdf.itertuples(index=False)
    ]


_FLOAT_NOISE_OK = {"q_burstiness"}


def test_queries_against_oracles(spark, sf_dir):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    con = _duck(sf_dir)
    failures = []
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        gpd = df.toPandas()
        assert len(gpd) > 0, f"{name} returned no rows"
        if name not in oracles:
            continue
        cols = df.columns
        expected = con.sql(oracles[name])
        exp_cols = [d[0] for d in expected.description]
        assert sorted(cols) == sorted(exp_cols), f"{name}: column mismatch {cols} vs {exp_cols}"
        epd = expected.df()
        if name == "q_dup_span_cut":
            # Known driver-red (CORRECTNESS_r05 'err'): the FROZEN oracle
            # SQL itself emits a list column (tokens_clean), which the
            # driver's pandas canon cannot sort.  Unfixable without an
            # oracle-text change (graded as a regression); pin the exact
            # failure class so any drift is caught.
            with pytest.raises(TypeError):
                _strict_canon(epd)
            continue
        g = _strict_canon(gpd)
        e = _strict_canon(epd)
        if g != e and name in _FLOAT_NOISE_OK:
            # documented grid-overflow rows: value magnitudes where one
            # double ulp exceeds the contract round grid, so full-repr
            # str() can differ across engines at SUB-driver SFs (e.g.
            # q_burstiness mean_gap_us ~1.2e10 at sf0.001: ulp 2e-6 >
            # the 6dp grid).  At the driver's hash SF (sf0.01) the
            # magnitudes shrink under the grid and the strict canon
            # matches (verified r6).  Values still gate here via the
            # 10-significant-digit norm.
            g = _norm([tuple(r) for r in gpd.itertuples(index=False)], cols)
            e = _norm([tuple(r) for r in epd.itertuples(index=False)], cols)
        if g != e:
            gs, es = set(g), set(e)
            diff_g = [r for r in g if r not in es][:5]
            diff_e = [r for r in e if r not in gs][:5]
            failures.append(f"{name}: {len(g)} vs {len(e)} rows; spark-only={diff_g} duck-only={diff_e}")
    assert not failures, "\n".join(failures)


@pytest.mark.slow
def test_queries_against_oracles_sf001(spark):
    # run the same gate at the driver's sf0.01 scale when requested
    if not os.path.isdir("/root/testdata/sf0.01"):
        pytest.skip("sf0.01 not present")
    test_queries_against_oracles(spark, "/root/testdata/sf0.01")


def test_oracle_trailing_edge_drop_matches_kernel():
    """The with-x oracle must reproduce the reference's trailing-point drop:
    for some (x0, xn, m), float rounding lands trunc(edge_m) strictly below
    max(x) and the kernel then drops the trailing point(s).  The sf test
    data never hits the corner (every contract query matched before AND
    after the oracle carried the final edge), so pin it with crafted
    integer-x series found by sweep — the oracle, run on a crafted events
    view, must select exactly the kernel's indices."""
    import numpy as np
    import pandas as pd

    from tsdownsample_spark.kernels import selectors as K
    from tsdownsample_spark.kernels.binning import equidistant_bins
    from tsdownsample_spark.queries import _oracle_downsample_x

    # deterministically sweep for series where trunc(edge_m) < max(x)
    rng = np.random.default_rng(0)
    cases = []
    while len(cases) < 3:
        n = int(rng.integers(30, 80))
        x0 = int(rng.integers(0, 2**31))
        xn = x0 + int(rng.integers(10**6, 2**31))
        m = int(rng.integers(3, 30))
        x = np.unique(rng.integers(x0, xn + 1, size=n).astype(np.int64))
        if len(x) < 10:
            continue
        x[0], x[-1] = x0, xn
        x = np.unique(x)
        _, ends = equidistant_bins(x, m)
        # need: the BINNED path (n > n_out — the oracle intentionally has no
        # whole-series identity branch), a STRICT trailing drop (the final
        # truncated edge below max(x)), and no point exactly on any edge
        # (edge-equal collisions are the separately-documented divergence
        # the engine reroutes to the kernel for)
        step = float(x[-1]) / m - float(x[0]) / m
        half = np.arange(1, m + 1) / 2.0
        edges = np.trunc(float(x[0]) + step * half + step * half + 1e-12)
        if (
            ends[-1] < len(x)
            and len(x) > 2 * m
            and edges[-1] < x[-1]
            and not np.isin(edges.astype(np.int64), x).any()
        ):
            cases.append((m, x))
    for m, x in cases:
        _, ends = equidistant_bins(x, m)
        assert ends[-1] < len(x), "case must actually hit the trailing drop"
        y = rng.standard_normal(len(x))
        n_out = 2 * m
        sel = K.minmax(y, n_out, x=x)

        ev = pd.DataFrame(
            {
                "event_id": np.arange(len(x), dtype=np.int64),
                "event_type": "crafted",
                "ts": pd.to_datetime(x, unit="us"),
                "value": y,
            }
        )
        con = duckdb.connect()
        con.register("events", ev)
        got = con.sql(_oracle_downsample_x(2, n_out=n_out)).df()
        got_idx = sorted(got["sel_idx"].tolist())
        assert got_idx == sorted(np.asarray(sel).tolist()), (m, len(x))
