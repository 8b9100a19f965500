"""Seeded, layer-attributed benchmark of ``tsdownsample_spark``.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One workload per command (``tokens`` or
``series``, see workloads.py), one process, Spark at ``local[<cores>]``,
one client in a closed loop.  A run generates its inputs from ``--seed``
(cached by shape and seed), sets up three times (session start, package
ship, one warm-up call; ``setup_s`` is the median), runs one settling
round, then measures rounds until ``--seconds`` have passed, and checks
every output after the loop.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run alternates untraced and traced rounds,
reports their difference as ``trace.overhead_ratio`` and writes its spans
to ``.perfbench/out/trace-<workload>-s<seed>.json``; every run writes its
full record to ``.perfbench/out/<workload>-s<seed>-t<trace>.json``.
Everything a run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _env() -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tsdownsample_spark", "__init__.py")):
        print(f"no tsdownsample_spark package under {ROOT}", file=sys.stderr)
        return 2
    _env()
    sys.path.insert(0, ROOT)
    from perfbench import harness as H
    from perfbench import metrics as M
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = T.Tracer(run_id)

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    inputs, meta = workload.inputs(WORK, args.seed)
    phase("inputs")
    ctx = H.Ctx(ROOT, WORK, args.seed, inputs, meta, tracer)
    shutil.rmtree(os.path.join(WORK, "rounds"), ignore_errors=True)

    setups = []
    try:
        for i in range(H.SETUPS):
            if ctx.spark is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.spark, start_s, ship_s = H.start_session(WORK, cores)
            workload.warm_up(ctx)
            setups.append({
                "total_s": time.perf_counter() - t0,
                "session_start_s": start_s,
                "ship_s": ship_s,
            })
        phase("setups")
        if args.trace:
            M.install_wrappers(ctx)
            tracer.spark = ctx.spark
        rounds = H.run_rounds(workload, ctx, args.seconds, bool(args.trace))
        phase("loop")
        workload.after(ctx, bool(args.trace))
        phase("after")
        attempted, failed, problems = H.run_checks(ctx)
        phase("checks")
    finally:
        if ctx.spark is not None:
            H.stop_all(ctx.spark)
    phase("stop")
    tracer.finish()

    e2e = M.end_to_end(setups, rounds)
    layers = M.per_layer(ctx, setups, rounds, attempted, failed)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(
            {
                "workload": args.workload, "seed": args.seed, "cores": cores,
                "inputs": meta, "phases_s": phases, "setups": setups, "rounds": rounds,
                "calls": [{k: v for k, v in c.items() if k != "check"} for c in ctx.calls],
                "end_to_end": e2e, "per_layer": layers, "problems": problems,
            },
            f,
            indent=1,
        )
    if args.trace:
        with open(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(tracer.to_json(), f)
    for p in problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)

    chosen = layers if args.trace else e2e
    units = M.UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
