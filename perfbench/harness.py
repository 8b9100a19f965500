"""Session set-up, the closed measuring loop and the per-call context.

One client, closed loop: a round is a fixed sequence of calls into
``tsdownsample_spark``, each awaited before the next, and rounds repeat
until the run's time is used.  Outputs are kept and checked after the loop.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import trace as T

SETUPS = 3  # set-ups per run; setup_s is their median


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed heap size, so the JVM's resident memory does not follow
        # GC sizing heuristics from run to run
        "spark.driver.extraJavaOptions": "-Xms2g",
    }


def start_session(work: str, cores: int):
    """plans layer: session start + package ship, timed separately."""
    from tsdownsample_spark.plans.session import get_spark
    from tsdownsample_spark.plans.shipping import ship_package

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=spark_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    # compress.py builds its pandas UDFs at import, bound to the context
    # that was active then; rebuild them for this one
    mod = sys.modules.get("tsdownsample_spark.operators.compress")
    if mod is not None:
        importlib.reload(mod)
    t1 = time.perf_counter()
    ship_package(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_all(spark) -> None:
    """Stop the session and the JVM behind it, then wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    kids = [p for p in T.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Ctx:
    """What a workload's round sees: the session, its inputs, and ``call``."""

    def __init__(self, root, work, seed, inputs, meta, tracer):
        self.root, self.work, self.seed = root, work, seed
        self.inputs, self.meta = inputs, meta  # input paths; their generator records
        self.tracer = tracer
        self.spark = None
        self.traced = False
        self.round_dir = None
        self.calls: list[dict] = []  # every call of the run, in order
        self.verifies: list[tuple[str, object]] = []  # standalone checks
        self.sums: dict[str, float] = {}  # per-layer sums over traced rounds
        self.values: dict[str, float] = {}  # per-layer values set once

    def call(self, name, layer, fn, points=0, plan_df=None, check=None):
        """Time one awaited call; ``check(result)`` runs after the loop."""
        rec = {"name": name, "layer": layer, "points": points, "traced": self.traced}
        span = self.tracer.open(name, layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            rec["error"] = traceback.format_exc()
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.tracer.close(span)
            self.calls.append(rec)
        if span is not None and plan_df is not None:
            span.counters["python_bytes_sent"] = T.plan_metric(plan_df(), "pythonDataSent")
        rec["check"] = (lambda: check(out)) if check is not None else None
        return out

    def query(self, name, layer, build, points=0, check=None, rows=False):
        """One call that builds a DataFrame and collects it (as rows, or as
        an Arrow table); traced calls also read the bytes the plan sent to
        Python workers."""
        built = []

        def run():
            built.append(build())
            return built[-1].collect() if rows else built[-1].toArrow()

        return self.call(name, layer, run, points, plan_df=lambda: built[-1], check=check)

    def verify(self, name, fn):
        """A standalone post-loop check (counted as one attempted operation)."""
        self.verifies.append((name, fn))

    def add(self, key, value):
        if self.traced:
            self.sums[key] = self.sums.get(key, 0.0) + value


def run_rounds(workload, ctx: Ctx, seconds: float, trace: bool) -> list[dict]:
    """One settling round (first use of every call's plan, excluded from
    the end-to-end metrics), then a closed loop until ``seconds`` have
    passed.  With ``trace`` the measured rounds alternate untraced/traced
    so the two sets see the same conditions."""
    rounds = [_round(workload, ctx, 0, "settle", False)]
    t_end = time.perf_counter() + seconds
    while True:
        k = len(rounds)
        traced = trace and k % 2 == 0
        rounds.append(_round(workload, ctx, k, "traced" if traced else "plain", traced))
        if time.perf_counter() >= t_end and (
            not trace or {"plain", "traced"} <= {r["kind"] for r in rounds}
        ):
            return rounds


def _round(workload, ctx: Ctx, k: int, kind: str, traced: bool) -> dict:
    ctx.traced = ctx.tracer.active = traced
    ctx.round_dir = os.path.join(ctx.work, "rounds", f"r{k}")
    shutil.rmtree(ctx.round_dir, ignore_errors=True)
    os.makedirs(ctx.round_dir)
    n_calls = len(ctx.calls)
    span = ctx.tracer.open(f"round.{k}", "bench")
    cpu0, t0 = T.tree_cpu_s(os.getpid()), time.perf_counter()
    err = None
    try:
        workload.round(ctx)
    except Exception:
        err = traceback.format_exc()
        print(err, file=sys.stderr)
    wall = time.perf_counter() - t0
    cpu = T.tree_cpu_s(os.getpid()) - cpu0
    pss = T.tree_pss_mb(os.getpid())
    ctx.tracer.close(span)
    ctx.traced = ctx.tracer.active = False
    calls = ctx.calls[n_calls:]
    return {
        "kind": kind,
        "wall_s": wall,
        "cpu_s": cpu,
        "pss_mb": pss,
        "points": sum(c["points"] for c in calls),
        "calls": len(calls),
        "error": err,
    }


def run_checks(ctx: Ctx) -> tuple[int, int, list[str]]:
    """Returns (attempted, failed, problems)."""
    attempted, failed, problems = 0, 0, []
    for rec in ctx.calls:
        attempted += 1
        if "error" in rec:
            failed += 1
            problems.append(f"{rec['name']}: raised")
            continue
        if rec.get("check") is None:
            continue
        try:
            bad = rec["check"]()
        except Exception:
            bad = [traceback.format_exc()]
        rec["check"] = None  # free the kept output
        if bad:
            failed += 1
            problems.extend(f"{rec['name']}: {b}" for b in bad[:3])
    for name, fn in ctx.verifies:
        attempted += 1
        try:
            bad = fn()
        except Exception:
            bad = [traceback.format_exc()]
        if bad:
            failed += 1
            problems.extend(f"{name}: {b}" for b in bad[:3])
    return attempted, failed, problems


def median(xs):
    return statistics.median(xs) if xs else 0.0
