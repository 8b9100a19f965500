"""Retention tiers over the token table — the north-star pipeline shape.

The input is the BASELINE ``input_hint`` table: one row per pre-tokenized
training sequence, ``(doc_id string, tokens array<int32>, n_tok int32,
source string)``.  A retention ladder keeps progressively coarser
downsamples of every sequence (e.g. raw -> 1024 -> 256 -> 64 points), each
tier materialized as its own snapshot table — the token-table analogue of
the raw->1m->1h->1d rollup cascade in ``operators.rollup``.

Two computation modes:

* **from_raw** — every tier is computed from the raw table.  Always matches
  the reference (tsdownsample) run at that tier's ``n_out``, for every
  selector.
* **cascade** — tier *k* is computed from tier *k-1*'s (much smaller)
  output, like a real retention engine refreshes 1d from 1h rather than
  rescanning raw.  For the equal-count bin selectors **MinMax and M4** this
  is *exactly* equal to from_raw whenever the tier ratio is a power of two:

  The reference's equal-count rule (downsample_rs/src/minmax.rs:110-119)
  puts bin ``i``'s end at ``floor((n-1)/m * (i+1)) + 1``.  With ``m1 = c*m2``
  the tier-1 edge at sub-bin block boundaries, ``floor((n-1)/m1 * c*(i+1)) +
  1``, equals the direct tier-2 edge ``floor((n-1)/m2 * (i+1)) + 1`` — for
  ``c`` a power of two this holds in float64 EXACTLY (scaling by 2^k only
  shifts the exponent, so rounding commutes: ``fl(x/m1) = fl(x/m2)/c`` and
  the products are the same reals); for non-pow2 ratios the independently
  rounded quotients can disagree by one index for ~2% of lengths, so
  :func:`cascade_plan` refuses them (swept in tests).
  Tier 2 re-bins tier 1's ``k*m1`` selected points (k = points per bin: 2
  for MinMax, 4 for M4) into bins of exactly ``k*c`` points — i.e. exactly
  the points tier 1 selected from the corresponding raw range.  The raw
  min/max of that range is among them (each sub-bin's min/max is), and the
  first-occurrence tie rule survives: the earliest sub-bin containing the
  bin-wide min selected that min at its raw first occurrence, and no earlier
  selected point can carry the same value (its sub-bin's min would then BE
  the bin min, making it the earlier occurrence).  The same argument covers
  max, M4's first/last (position 0 / last position of the sub-block), and
  constant bins (argmin == argmax == bin-first index on both paths).

  LTTB-family and EveryNth selectors are NOT decomposable this way; for
  them ``mode="auto"`` falls back to from_raw.

Equality of the two modes is asserted empirically by
``tests/test_token_retention.py`` (sweeps of n and tier ladders) and by the
``q_token_tiers`` contract query, whose DuckDB oracle computes the final
tier DIRECTLY from raw while the engine runs the full cascade.

Per-row invariant (north rule): at every tier, ``tokens`` equals the
token array the reference selects from the raw sequence at that tier's
``n_out``, and ``sel_idx`` carries the raw indices (provenance through
cascades is re-based via a JVM-side ``transform``/``element_at`` gather —
no extra Python round-trip).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdownsample_spark.operators.downsample import downsample_tokens

#: selectors whose equal-count bins nest across divisible tiers (see proof
#: in the module docstring)
CASCADE_ALGOS = ("minmax", "m4")

_LOCAL = "_sel_local"


def downsample_tier(
    df: DataFrame,
    n_out: int,
    algo: str = "minmax",
    tokens_col: str = "tokens",
    idx_col: str = "sel_idx",
    **kw,
) -> DataFrame:
    """One retention tier over a token table (narrow map, zero shuffle).

    Accepts either the raw table or a previous tier's output (detected by
    the presence of ``idx_col``).  The output keeps the input table's
    column contract — ``tokens`` holds the tier's selected values, ``n_tok``
    stays the RAW sequence length — plus ``idx_col: array<bigint>`` with
    **raw** indices (tier-local selections are re-based through the parent
    tier's ``idx_col`` JVM-side) and ``tier_n_out: int``.
    """
    has_prev = idx_col in df.columns
    inp = df.drop("tier_n_out") if "tier_n_out" in df.columns else df
    out = downsample_tokens(
        inp,
        n_out,
        algo=algo,
        tokens_col=tokens_col,
        idx_col=_LOCAL,
        output="select",
        **kw,
    )
    if has_prev:
        raw_idx = F.transform(
            F.col(_LOCAL),
            lambda i: F.element_at(F.col(idx_col), i.cast("int") + 1),
        )
    else:
        raw_idx = F.col(_LOCAL)
    keep = [
        c
        for c in df.columns
        if c not in (tokens_col, idx_col, "tier_n_out", _LOCAL, "sel_tokens")
    ]
    # rebuild in the input's column order, tokens in place
    order = [
        F.col("sel_tokens").alias(tokens_col) if c == tokens_col else F.col(c)
        for c in df.columns
        if c in keep or c == tokens_col
    ]
    return (
        out.withColumn(idx_col, raw_idx)
        .select(*order, idx_col)
        .withColumn("tier_n_out", F.lit(n_out))
    )


def cascade_plan(tiers: Sequence[int], algo: str) -> list[tuple[int, int | None]]:
    """Resolve which tiers can cascade: returns ``[(n_out, parent_n_out or
    None)]`` — ``None`` means computed from raw.  A tier cascades iff the
    algo's bins nest (``algo in CASCADE_ALGOS``) and the tier ratio is a
    **power of two** (then float64 rounding commutes with the scaling, so
    ``floor((n-1)/m1 * c*(i+1))`` == ``floor((n-1)/m2 * (i+1))`` exactly;
    for non-pow2 ratios like 30->6 bins the product rounds differently for
    ~2% of lengths n — swept empirically in tests/test_token_retention.py)."""
    if not tiers:
        raise ValueError("need at least one tier")
    if list(tiers) != sorted(set(tiers), reverse=True):
        raise ValueError("tiers must be strictly decreasing")
    plan: list[tuple[int, int | None]] = [(tiers[0], None)]
    for prev, cur in zip(tiers, tiers[1:]):
        ratio = prev // cur
        ok = (
            algo in CASCADE_ALGOS
            and prev % cur == 0
            and ratio & (ratio - 1) == 0
        )
        plan.append((cur, prev if ok else None))
    return plan


def resolve_plan(
    tiers: Sequence[int], algo: str, mode: str
) -> list[tuple[int, int | None]]:
    """Apply the computation ``mode`` to :func:`cascade_plan`'s result.

    ``"auto"`` cascades where eligible and falls back to from_raw
    elsewhere; ``"from_raw"`` forces independent computation; ``"cascade"``
    raises if any tier cannot cascade.  Shared by the DataFrame cascade and
    the snapshot-table pipeline so the validation stays uniform.
    """
    if mode not in ("auto", "cascade", "from_raw"):
        raise ValueError("mode must be auto|cascade|from_raw")
    plan = cascade_plan(tiers, algo)
    if mode == "from_raw":
        plan = [(n, None) for n, _ in plan]
    elif mode == "cascade":
        bad = [n for n, parent in plan[1:] if parent is None]
        if bad:
            raise ValueError(
                f"tiers {bad} cannot cascade for algo={algo!r} "
                f"(requires {CASCADE_ALGOS} and power-of-two tier ratios)"
            )
    return plan


def ladder_single_pass(
    df: DataFrame,
    tiers: Sequence[int],
    algo: str = "minmax",
    tokens_col: str = "tokens",
    **kw,
) -> DataFrame:
    """Build the WHOLE retention ladder from raw in ONE narrow job.

    The cascade (above) is the steady-state refresh shape — tier k costs
    ∝ tier k-1's size.  For a FULL build or backfill, though, the cascade
    pays one Spark job per tier, and the measured fixed per-job cost
    (~0.5 s, BENCH/BASELINE.md's Amdahl decomposition; ~0.2 s of that was
    a per-task cost in the Python worker, which plans/worker.py has since
    removed) dominates exactly when tiers are small; this builder instead
    computes every tier's selection against raw in one ``mapInArrow`` pass
    (the pyramid machinery: one scan, one Arrow crossing, k kernels on the
    in-cache batch).  Equality with the cascade is the module's proven
    cascade == from-raw property — asserted per tier in
    tests/test_token_retention.py.

    Output: one row per sequence with, per tier n, ``tokens_{n}`` (the
    tier's selected values) and ``sel_idx_{n}`` (RAW indices) — a single
    wide table a ladder writer commits in ONE job; per-tier reads are
    column-pruned projections (:func:`tier_view`).  Raw columns other than
    ``tokens_col`` pass through.
    """
    from tsdownsample_spark.operators.downsample import downsample_tokens_pyramid

    if "sel_idx" in df.columns or "tier_n_out" in df.columns:
        raise ValueError("ladder_single_pass expects the RAW token table")
    resolve_plan(tiers, algo, "auto")  # validates ordering/uniqueness
    # tier_view classifies columns by the {tokens_col}_/sel_idx_ prefixes,
    # so passthrough columns in that namespace would be silently dropped or
    # collide with the renames — refuse up front
    for c in df.columns:
        if c != tokens_col and (
            c.startswith(f"{tokens_col}_") or c.startswith("sel_idx_")
        ):
            raise ValueError(
                f"input column {c!r} collides with the ladder's "
                f"'{tokens_col}_<n>'/'sel_idx_<n>' output namespace"
            )
    out = downsample_tokens_pyramid(
        df, tiers, algo=algo, tokens_col=tokens_col, output="select", **kw
    )
    renames = [(f"sel_tokens_{n}", f"{tokens_col}_{n}") for n in tiers]
    for old, new in renames:
        out = out.withColumnRenamed(old, new)
    return out


def tier_view(
    ladder: DataFrame, n_out: int, tokens_col: str = "tokens"
) -> DataFrame:
    """Project one tier out of a :func:`ladder_single_pass` table, in the
    ``downsample_tier`` output contract (tokens, sel_idx, tier_n_out)."""
    others = [
        c for c in ladder.columns
        if not (c.startswith(f"{tokens_col}_") or c.startswith("sel_idx_"))
    ]
    return ladder.select(
        *[F.col(c) for c in others],
        F.col(f"{tokens_col}_{n_out}").alias(tokens_col),
        F.col(f"sel_idx_{n_out}").alias("sel_idx"),
    ).withColumn("tier_n_out", F.lit(n_out))


def token_tier_cascade(
    df: DataFrame,
    tiers: Sequence[int],
    algo: str = "minmax",
    mode: str = "auto",
    **kw,
) -> dict[int, DataFrame]:
    """Build every retention tier of a token table as DataFrames.

    Lazy composition: a cascaded tier's plan chains on its parent's.  The
    spark-submit pipeline (scripts/run_token_retention.py) instead reads
    each parent tier back from its snapshot table so no tier is recomputed.
    """
    plan = resolve_plan(tiers, algo, mode)
    out: dict[int, DataFrame] = {}
    for n_out, parent in plan:
        src = df if parent is None else out[parent]
        out[n_out] = downsample_tier(src, n_out, algo=algo, **kw)
    return out
