"""Metric definitions and their computation from one run's record.

End-to-end metrics come from untraced rounds only.  Per-layer metrics come
from the traced rounds' spans (sums divided by the number of traced rounds,
so they read "per round"), from set-up, or from probes a workload runs
after its loop.  A layer the workload never calls reports 0.

``PER_LAYER`` also records, for each layer metric, the end-to-end metric
(and workload) it should move -- the prediction a change to that layer is
held to.
"""

from __future__ import annotations

import os

from perfbench import harness as H
from perfbench import trace as T
from perfbench.workloads import ALGOS, CONTRACT_SLICE

# name -> (unit, better, what it measures)
END_TO_END = {
    "setup_s": ("s", "lower", "median of 3 set-ups: session start + ship + one warm-up call"),
    "round_s": ("s", "lower", "median wall of one measured round of the workload"),
    "mpts_per_s": ("Mpts/s", "higher", "input points (tokens or rows) per second"),
    "cpu_s": ("s", "lower", "process-tree user+sys seconds per round, median"),
    "peak_pss_mb": ("MB", "lower", "process-tree proportional set size, peak of round ends"),
}

SEL = "mpts_per_s, round_s (tokens)"
SER = "mpts_per_s, round_s (series)"
ALL = "cpu_s (all workloads)"

# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "plans.session_start_s": ("s", "lower", "setup_s (all workloads)"),
    "plans.ship_package_s": ("s", "lower", "setup_s (all workloads)"),
    "plans.materialize_calls": ("count", "lower", SER + "; 0 on tokens"),
    "plans.materialize_barrier_s": ("s", "lower", SER),
    "plans.release_s": ("s", "lower", SER),
    "sources.jvm_scan_mpts_per_s": ("Mpts/s", "higher", "roofline of " + SEL),
    "sources.tableio_append_s": ("s", "lower", SEL),
    "sources.tableio_read_s": ("s", "lower", SEL),
    "sources.tableio_bytes_written": ("bytes", "lower", SEL),
    "sources.tableio_files_written": ("count", "lower", SEL),
    **{
        f"kernels.flat_{a}_mpts_per_s": ("Mpts/s", "higher", SEL)
        for a in ALGOS
    },
    "operators.downsample.arrow_pipe_mpts_per_s": ("Mpts/s", "higher", "roofline of " + SEL),
    **{f"operators.downsample.{a}_s": ("s", "lower", SEL) for a in ALGOS},
    "operators.downsample.multi5_s": ("s", "lower", SEL),
    "operators.downsample.python_bytes_sent": ("bytes", "lower", SEL),
    "operators.rollup.tier_1m_s": ("s", "lower", SER),
    "operators.rollup.tier_1h_s": ("s", "lower", SER),
    "operators.rollup.tier_1d_s": ("s", "lower", SER),
    "operators.rollup.raw_scan_stages": ("count", "lower", SER),
    "operators.gapfill.locf_s": ("s", "lower", SER),
    "operators.sql_selectors.minmax_long_s": ("s", "lower", SER),
    "operators.rollup.refresh_s": ("s", "lower", SER),
    "operators.rollup.refresh_rows_read_per_delta_row": ("ratio", "lower", SER),
    "streaming.checkpoint.build_s": ("s", "lower", SEL),
    "streaming.checkpoint.partition_s": ("s", "lower", SEL),
    "streaming.checkpoint.resume_s": ("s", "lower", SEL),
    "streaming.checkpoint.resume_skip_ratio": ("ratio", "higher", SEL),
    "operators.compress.pack_s": ("s", "lower", SEL),
    "operators.compress.unpack_s": ("s", "lower", SEL),
    "functions.codecs.packed_bytes_per_token": ("B/token", "lower", "ladder_bytes_per_token"),
    "functions.codecs.gorilla_bits_per_value": ("bits/value", "lower", "storage of series tiers"),
    "functions.codecs.dod_bits_per_ts": ("bits/ts", "lower", "storage of series tiers"),
    "ladder_bytes_per_token": ("B/token", "lower", "stored bytes per raw token (tokens)"),
    **{f"queries.{q}_s": ("s", "lower", SER) for q in CONTRACT_SLICE},
    "queries.oracle_mismatches": ("count", "lower", "fail_ratio"),
    "spark.executor_cpu_s": ("s", "lower", ALL),
    "spark.gc_s": ("s", "lower", ALL),
    "spark.shuffle_write_bytes": ("bytes", "lower", SER + "; ~0 on tokens"),
    "spark.shuffle_read_bytes": ("bytes", "lower", SER + "; ~0 on tokens"),
    "spark.shuffle_fetch_wait_s": ("s", "lower", SER),
    "spark.spill_bytes": ("bytes", "lower", SER),
    "spark.tasks": ("count", "lower", "round_s (all workloads)"),
    **{
        f"{layer}.self_s": ("s", "lower", "round_s of the workloads calling it")
        for layer in (
            "plans",
            "sources",
            "operators.downsample",
            "operators.rollup",
            "operators.gapfill",
            "operators.sql_selectors",
            "operators.compress",
            "streaming.checkpoint",
            "queries",
            "bench",
        )
    },
    "fail_ratio": ("ratio", "lower", "correct"),
    "trace.overhead_ratio": ("ratio", "lower", "none: the cost of tracing itself"),
    "trace.spans": ("count", "lower", "none: spans recorded per round"),
    "inputs.gen_s": ("s", "lower", "none: input generation, kept out of setup_s"),
    "setup.cold_s": ("s", "lower", "none: the first set-up, with JVM launch"),
    "setup.first_round_s": ("s", "lower", "none: the settling round, excluded from round_s"),
}

UNITS = {k: v[0] for k, v in {**END_TO_END, **PER_LAYER}.items()}


def end_to_end(setups, rounds) -> dict:
    plain = [r for r in rounds if r["kind"] == "plain"]
    wall = sum(r["wall_s"] for r in plain)
    return {
        "setup_s": H.median([s["total_s"] for s in setups]),
        "round_s": H.median([r["wall_s"] for r in plain]),
        "mpts_per_s": sum(r["points"] for r in plain) / wall / 1e6 if wall else 0.0,
        "cpu_s": H.median([r["cpu_s"] for r in plain]),
        "peak_pss_mb": max((r["pss_mb"] for r in plain), default=0.0),
    }


def per_layer(ctx, setups, rounds, attempted, failed) -> dict:
    spans = ctx.tracer.spans
    n = max(1, sum(1 for r in rounds if r["kind"] == "traced"))

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name) / n

    def counter(key, prefix="", incl=False):
        return sum(
            (s.counters_incl if incl else s.counters).get(key, 0.0)
            for s in spans
            if s.name.startswith(prefix)
        ) / n

    def ratio(a, b):
        return a / b if b else 0.0

    out = {
        "plans.session_start_s": H.median([s["session_start_s"] for s in setups]),
        "plans.ship_package_s": H.median([s["ship_s"] for s in setups]),
        "plans.materialize_calls": sum(
            1 for s in spans if s.name == "plans.materialize_shared"
        ) / n,
        "plans.materialize_barrier_s": total("plans.materialize_shared"),
        "plans.release_s": total("plans.release_materialized"),
        "sources.tableio_append_s": total("sources.tableio.append"),
        "sources.tableio_read_s": total("sources.tableio.read"),
        "sources.tableio_bytes_written": ctx.sums.get("sources.tableio_bytes_written", 0.0) / n,
        "sources.tableio_files_written": ctx.sums.get("sources.tableio_files_written", 0.0) / n,
        "operators.downsample.python_bytes_sent": counter(
            "python_bytes_sent", "operators.downsample."
        ),
        "operators.rollup.raw_scan_stages": counter(
            "scan_stages", "operators.rollup.tier_", incl=True
        ),
        "operators.rollup.refresh_rows_read_per_delta_row": ratio(
            counter("input_records", "operators.rollup.refresh", incl=True),
            ctx.sums.get("operators.rollup.refresh_delta_rows", 0.0) / n,
        ),
        "streaming.checkpoint.partition_s": ratio(
            total("streaming.checkpoint.build"),
            ctx.sums.get("streaming.checkpoint.partitions", 0.0) / n,
        ),
        "streaming.checkpoint.resume_skip_ratio": ctx.sums.get(
            "streaming.checkpoint.resume_skip_ratio", 0.0
        ) / n,
        "ladder_bytes_per_token": ctx.sums.get("ladder_bytes_per_token", 0.0) / n,
        "spark.executor_cpu_s": counter("executor_cpu_s"),
        "spark.gc_s": counter("gc_s"),
        "spark.shuffle_write_bytes": counter("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": counter("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": counter("shuffle_fetch_wait_s"),
        "spark.spill_bytes": counter("spill_bytes"),
        "spark.tasks": counter("tasks"),
        "fail_ratio": ratio(failed, attempted),
        "trace.spans": len(spans) / n,
        "inputs.gen_s": sum(m.get("gen_s", 0.0) for m in ctx.meta.values()),
        "setup.cold_s": setups[0]["total_s"],
        "setup.first_round_s": rounds[0]["wall_s"],
    }
    for name in (
        *(f"operators.downsample.{a}" for a in (*ALGOS, "multi5")),
        "operators.rollup.tier_1m",
        "operators.rollup.tier_1h",
        "operators.rollup.tier_1d",
        "operators.gapfill.locf",
        "operators.sql_selectors.minmax_long",
        "operators.rollup.refresh",
        "streaming.checkpoint.build",
        "streaming.checkpoint.resume",
        "operators.compress.pack",
        "operators.compress.unpack",
        *(f"queries.{q}" for q in CONTRACT_SLICE),
    ):
        out[f"{name}_s"] = total(name)
    for key in PER_LAYER:
        if key.endswith(".self_s"):
            layer = key[: -len(".self_s")]
            out[key] = sum(s.self_s for s in spans if s.layer == layer) / n
    traced = [r["wall_s"] for r in rounds if r["kind"] == "traced"]
    plain = [r["wall_s"] for r in rounds if r["kind"] == "plain"]
    out["trace.overhead_ratio"] = (
        H.median(traced) / H.median(plain) - 1.0 if traced and plain else 0.0
    )
    for key in PER_LAYER:
        out.setdefault(key, ctx.values.get(key, 0.0))
    return {k: float(out[k]) for k in PER_LAYER}


def install_wrappers(ctx) -> None:
    """Rebind the program's layer entry points to span-recording stand-ins.
    Spans are only recorded while a traced round runs."""
    from tsdownsample_spark.plans import materialize, shipping
    from tsdownsample_spark.sources.tableio import SnapshotTable
    from tsdownsample_spark.streaming.checkpoint import PartitionedJob

    tr = ctx.tracer
    for mod, fname, layer in (
        (materialize, "materialize_shared", "plans"),
        (materialize, "release_materialized", "plans"),
        (shipping, "ship_package", "plans"),
    ):
        orig = getattr(mod, fname)
        T.rebind_everywhere(orig, T.wrap(tr, orig, f"plans.{fname}", layer))

    def written(sid, table, *_):
        added = table.snapshot(sid)["added_files"]
        ctx.add("sources.tableio_files_written", len(added))
        ctx.add("sources.tableio_bytes_written", sum(os.path.getsize(f) for f in added))

    SnapshotTable.append = T.wrap(
        tr, SnapshotTable.append, "sources.tableio.append", "sources", after=written
    )
    SnapshotTable.read = T.wrap(tr, SnapshotTable.read, "sources.tableio.read", "sources")
    PartitionedJob.run = T.wrap(
        tr, PartitionedJob.run, "streaming.checkpoint.run", "streaming.checkpoint"
    )
