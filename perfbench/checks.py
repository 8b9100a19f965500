"""Output checks, run after the timed region.

Every check returns a list of problems; an empty list means it passed.
The references are independent of the program: the naive loop selectors
in ``tests/naive_oracle.py`` and DuckDB over the same parquet files.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9


def naive_oracle(root: str):
    """Import ``tests/naive_oracle.py`` of the checkout under test."""
    path = os.path.join(root, "tests", "naive_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_naive_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def naive_select(oracle, algo: str, y: np.ndarray, n_out: int) -> np.ndarray:
    fn = {
        "minmax": oracle.naive_minmax,
        "m4": oracle.naive_m4,
        "lttb": oracle.naive_lttb,
        "minmaxlttb": oracle.naive_minmaxlttb,
        "everynth": oracle.naive_everynth,
    }[algo]
    return np.asarray(fn(y, n_out), dtype=np.int64)


def close(a: float, b: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_selection(
    rows: dict, tokens: dict, expected: dict, idx_col: str, tok_col: str | None
) -> list[str]:
    """``rows``: doc_id -> output row; every sampled doc must select exactly
    ``expected[doc]`` and gather ``tokens[doc][sel]`` when ``tok_col``."""
    bad = []
    for doc, exp in expected.items():
        row = rows.get(doc)
        if row is None:
            bad.append(f"{doc}: missing from output")
            continue
        got = np.asarray(row[idx_col], dtype=np.int64)
        if not np.array_equal(got, exp):
            bad.append(f"{doc}: {idx_col} differs from the naive oracle")
        elif tok_col is not None and not np.array_equal(
            np.asarray(row[tok_col]), tokens[doc][exp]
        ):
            bad.append(f"{doc}: {tok_col} is not tokens[{idx_col}]")
    return bad


def _canon_columns(t: pa.Table) -> list[np.ndarray]:
    cols = []
    for name in sorted(t.column_names):
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        if pa.types.is_date(c.type):
            c = c.cast(pa.timestamp("us")).cast(pa.int64())
        if pa.types.is_decimal(c.type) or pa.types.is_integer(c.type):
            c = c.cast(pa.float64())
        if pa.types.is_floating(c.type):
            arr = c.to_numpy(zero_copy_only=False).astype(np.float64)
            cols.append(np.where(pc.is_null(c).to_numpy(zero_copy_only=False), np.nan, arr))
        else:
            cols.append(np.asarray(c.cast(pa.string()).to_pylist(), dtype=object))
    return cols


def compare_tables(got: pa.Table, exp: pa.Table) -> list[str]:
    """Order-insensitive equality of two result tables by column name;
    numbers compare to ``REL_TOL``, NULL and NaN compare equal."""
    if sorted(got.column_names) != sorted(exp.column_names):
        return [f"columns {sorted(got.column_names)} != {sorted(exp.column_names)}"]
    if got.num_rows != exp.num_rows:
        return [f"{got.num_rows} rows != {exp.num_rows} expected"]
    g, e = _canon_columns(got), _canon_columns(exp)

    def order(cols):
        keys = []
        for c in reversed(cols):
            if c.dtype == object:
                keys.append(np.asarray(["" if v is None else v for v in c]))
            else:
                keys.append(np.nan_to_num(np.round(c, 6), nan=np.inf))
        return np.lexsort(keys)

    go, eo = order(g), order(e)
    for name, gc, ec in zip(sorted(got.column_names), g, e):
        gc, ec = gc[go], ec[eo]
        if gc.dtype == object:
            if not np.array_equal(gc, ec):
                return [f"column {name} differs"]
            continue
        both_nan = np.isnan(gc) & np.isnan(ec)
        diff = np.abs(gc - ec) <= REL_TOL * np.maximum(1.0, np.maximum(np.abs(gc), np.abs(ec)))
        if not np.all(both_nan | diff):
            return [f"column {name} differs"]
    return []
