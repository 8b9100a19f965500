"""The benchmark's workloads.

A workload is a list of parts; each part brings its inputs, optionally a
one-call warm-up (run in every set-up), its calls in a round, and the
measurements it adds after the loop.  A round runs every part's calls once,
in order.

* ``tokens`` = ``Select`` + ``Ladder``: the token-table read and write
  paths -- parquet scan, the JVM->Python Arrow crossing, the selector
  kernels, snapshot commits, checkpoint lineage and the token codec.  No
  shuffle.
* ``series`` = ``Rollup`` + ``Refresh``: retention tiers, gap-fill, the
  distributed selectors, the contract rows on those operators and
  continuous-rollup refreshes -- Catalyst shuffles and aggregation with
  almost no Python, so a gain at the Arrow boundary should not show here.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import checks as C
from perfbench import inputs as I

ALGOS = ("minmax", "m4", "lttb", "minmaxlttb", "everynth")
N_OUT = 100
SAMPLE_DOCS = 4  # docs per run whose selections are checked against the oracle
CONTRACT_SLICE = ("q_rollup_1m", "q_gapfill_locf", "q_minmax_long")
LADDER_TIERS = (1024, 256, 64)
BUCKETS = 2  # salt buckets: the ladder's resume units
# checksum of a tier table, as Spark select expressions
TIER_AGG = (
    "count(*) AS n", "sum(agg_cnt) AS cnt", "sum(agg_sum) AS s", "min(agg_min) AS lo",
    "max(agg_max) AS hi", "sum(first_val) AS fv", "sum(last_val) AS lv",
)
TIER_SQL = """
    WITH t AS (
      SELECT series_key, date_trunc('{unit}', ts) AS b, count(value) AS agg_cnt,
             sum(value) AS agg_sum, min(value) AS agg_min, max(value) AS agg_max,
             arg_min(value, ts) AS first_val, arg_max(value, ts) AS last_val
      FROM raw GROUP BY 1, 2)
    SELECT {cols} FROM t"""


def _rows_by(table: pa.Table, key: str, keep: set) -> dict:
    """key -> row dict, for the sampled keys only."""
    mask = np.isin(np.asarray(table.column(key).to_pylist(), dtype=object), list(keep))
    return {r[key]: r for r in table.filter(pa.array(mask)).to_pylist()}


def _sample(seed: int, n: int, k: int, always=()) -> list[int]:
    rng = np.random.default_rng(seed)
    return sorted(set(always) | set(rng.choice(n, size=k, replace=False).tolist()))


def _duck(views: dict, tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for name, files in views.items():
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")
    return con


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _tier_checksum(con, unit: str) -> tuple:
    return con.execute(TIER_SQL.format(unit=unit, cols=", ".join(TIER_AGG))).fetchone()


def _same_checksum(got, exp) -> list[str]:
    got = tuple(got)
    if all(C.close(float(a), float(b)) for a, b in zip(got, exp)):
        return []
    return [f"checksum {got} != duckdb {exp}"]


# ------------------------------------------------------------------ Select


class Select:
    """All five selectors, one call each, and the five-in-one pass."""

    DOCS = 600

    def inputs(self, root, seed):
        path, meta = I.token_table(root, self.DOCS, seed)
        return {
            "tokens": os.path.join(path, "tokens.parquet"),
            "warm": os.path.join(path, "warm.parquet"),
        }, {"select_tokens": meta}

    def warm_up(self, ctx):
        from tsdownsample_spark.operators.downsample import downsample_tokens_multi

        # small row groups: one task, and one Python worker, per core
        downsample_tokens_multi(
            ctx.spark.read.parquet(ctx.inputs["warm"]), N_OUT, algos=ALGOS
        ).toArrow()

    def _expected(self, ctx):
        """Oracle selections of the sampled docs, computed once, on demand."""
        if not hasattr(self, "_exp"):
            # always include an edge-length doc and the 10_001-point one
            docs = _sample(ctx.seed, self.DOCS, SAMPLE_DOCS, always=(4, 7))
            tbl = pq.read_table(ctx.inputs["tokens"], columns=["doc_id", "tokens"])
            ids = tbl.column("doc_id").to_pylist()
            self._tok = {
                ids[i]: np.asarray(tbl.column("tokens")[i].values, dtype=np.int32)
                for i in docs
            }
            oracle = C.naive_oracle(ctx.root)
            self._exp = {
                a: {d: C.naive_select(oracle, a, y, N_OUT) for d, y in self._tok.items()}
                for a in ALGOS
            }
        return self._exp

    def _check(self, ctx, algos, multi):
        """Row count, and the sampled docs' selections; the five-in-one
        pass names its columns ``sel_idx_<algo>``/``sel_tokens_<algo>``."""
        docs = ctx.meta["select_tokens"]["docs"]

        def check(tbl):
            if tbl.num_rows != docs:
                return [f"{tbl.num_rows} rows, expected {docs}"]
            bad = []
            for algo in algos:
                exp = self._expected(ctx)[algo]
                sfx = f"_{algo}" if multi else ""
                bad += C.check_selection(
                    _rows_by(tbl, "doc_id", set(exp)), self._tok, exp,
                    "sel_idx" + sfx, "sel_tokens" + sfx,
                )
            return bad

        return check

    def round(self, ctx):
        from tsdownsample_spark.operators.downsample import (
            downsample_tokens,
            downsample_tokens_multi,
        )

        df = ctx.spark.read.parquet(ctx.inputs["tokens"])
        pts = ctx.meta["select_tokens"]["tokens"]
        for algo in ALGOS:
            ctx.query(
                f"operators.downsample.{algo}", "operators.downsample",
                lambda algo=algo: downsample_tokens(
                    df, N_OUT, algo=algo, output="select"
                ).select("doc_id", "sel_idx", "sel_tokens"),
                points=pts, check=self._check(ctx, (algo,), multi=False),
            )
        ctx.query(
            "operators.downsample.multi5", "operators.downsample",
            lambda: downsample_tokens_multi(df, N_OUT, algos=ALGOS, output="select").drop(
                "n_tok", "source"
            ),
            points=pts, check=self._check(ctx, ALGOS, multi=True),
        )

    def after(self, ctx, trace):
        """Rooflines and single-thread kernel rates, measured in the same run
        as the selector calls so their throughput reads against this host's
        ceiling (traced runs only)."""
        if not trace:
            return
        from pyspark.sql import functions as F

        from tsdownsample_spark.kernels.flat import flat_downsample

        df = ctx.spark.read.parquet(ctx.inputs["tokens"])
        pts = ctx.meta["select_tokens"]["tokens"]

        def _count(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([b.num_rows], type=pa.int64())], names=["c"]
                )

        probes = {
            "sources.jvm_scan_mpts_per_s": lambda: df.select(
                F.sum(F.size("tokens"))
            ).collect(),
            "operators.downsample.arrow_pipe_mpts_per_s": lambda: df.mapInArrow(
                _count, "c long"
            ).agg(F.sum("c")).collect(),
        }
        for key, fn in probes.items():
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t0)
            ctx.values[key] = pts / statistics.median(walls) / 1e6

        col = pq.read_table(ctx.inputs["tokens"], columns=["tokens"]).column("tokens")
        col = col.combine_chunks()
        values = col.values.to_numpy()
        offsets = col.offsets.to_numpy().astype(np.int64)
        for algo in ALGOS:
            t0 = time.perf_counter()
            flat_downsample(values, offsets, N_OUT, algo)
            ctx.values[f"kernels.flat_{algo}_mpts_per_s"] = (
                values.size / (time.perf_counter() - t0) / 1e6
            )


# ------------------------------------------------------------------ Ladder


class Ladder:
    """A packed token retention ladder 1024->256->64 built through
    PartitionedJob + SnapshotTable over salt buckets, a re-run that must
    resume as a no-op, the read-back of every tier, and packing the raw
    table."""

    DOCS = 96

    def inputs(self, root, seed):
        path, meta = I.token_table(root, self.DOCS, seed)
        return {"ladder_tokens": os.path.join(path, "tokens.parquet")}, {
            "ladder_tokens": meta
        }

    def _ladder(self, ctx, root, raw, fingerprint):
        """One pass of the ladder pipeline; returns (tables, run summaries)."""
        from pyspark.sql import functions as F

        from tsdownsample_spark.operators.compress import compress_tokens, decompress_tokens
        from tsdownsample_spark.operators.token_retention import downsample_tier, resolve_plan
        from tsdownsample_spark.sources.tableio import SnapshotTable
        from tsdownsample_spark.streaming.checkpoint import PartitionedJob

        salt = F.pmod(F.xxhash64("doc_id"), F.lit(BUCKETS))
        tables, summaries = {}, {}
        for n_out, parent in resolve_plan(LADDER_TIERS, "minmax", "auto"):
            table = SnapshotTable(os.path.join(root, f"tier_{n_out}"))
            job = PartitionedJob(f"token_tier_{n_out}", table)

            def process(part, n_out=n_out, parent=parent):
                s = ctx.tracer.open("streaming.checkpoint.plan_partition",
                                    "streaming.checkpoint")
                try:
                    src = raw if parent is None else decompress_tokens(
                        tables[parent].read(ctx.spark)
                    )
                    return compress_tokens(
                        downsample_tier(src.filter(salt == int(part)), n_out, algo="minmax")
                    )
                finally:
                    ctx.tracer.close(s)

            fp = fingerprint if parent is None else (
                f"{fingerprint}:{tables[parent].current_snapshot_id()}"
            )
            summaries[n_out] = job.run([str(b) for b in range(BUCKETS)], process, fp)
            tables[n_out] = table
        return tables, summaries

    def round(self, ctx):
        from tsdownsample_spark.operators.compress import compress_tokens, decompress_tokens
        from tsdownsample_spark.streaming.checkpoint import input_fingerprint

        spark = ctx.spark
        tokens = ctx.meta["ladder_tokens"]["tokens"]
        path = ctx.inputs["ladder_tokens"]
        raw = spark.read.parquet(path)
        fp = input_fingerprint(path, {"tiers": list(LADDER_TIERS), "buckets": BUCKETS})
        root = os.path.join(ctx.round_dir, "ladder")

        tables, built = ctx.call(
            "streaming.checkpoint.build", "streaming.checkpoint",
            lambda: self._ladder(ctx, root, raw, fp), points=tokens,
        )
        _, resumed = ctx.call(
            "streaming.checkpoint.resume", "streaming.checkpoint",
            lambda: self._ladder(ctx, root, raw, fp), check=self._check_resume,
        )
        ctx.add("streaming.checkpoint.partitions",
                sum(len(s["processed"]) for s in built.values()))
        processed = sum(len(s["processed"]) for s in resumed.values())
        skipped = sum(len(s["skipped"]) for s in resumed.values())
        ctx.add("streaming.checkpoint.resume_skip_ratio", skipped / max(1, processed + skipped))
        files = [f for t in tables.values() for f in t.snapshot()["files"]]
        ctx.add("ladder_bytes_per_token", sum(os.path.getsize(f) for f in files) / tokens)

        def read_back():
            return {
                n: decompress_tokens(t.read(spark)).select("doc_id", "sel_idx", "tokens")
                .toArrow()
                for n, t in tables.items()
            }

        ctx.call("operators.compress.unpack", "operators.compress", read_back,
                 check=lambda tiers: self._check_ladder(ctx, tiers))
        ctx.call("operators.compress.pack", "operators.compress",
                 lambda: compress_tokens(raw).write.format("noop").mode("overwrite").save(),
                 points=tokens)

    def _check_resume(self, result):
        _, summaries = result
        done = sum(len(s["processed"]) for s in summaries.values())
        return [] if done == 0 else [f"resume processed {done} partitions, expected 0"]

    def _check_ladder(self, ctx, tiers):
        """Every tier's tokens equal the from-raw selection: the naive oracle
        on sampled docs, the gather and the token codec round trip on all."""
        from tsdownsample_spark.functions.codecs import decode_tokens, encode_tokens

        oracle = C.naive_oracle(ctx.root)
        raw_tbl = pq.read_table(ctx.inputs["ladder_tokens"], columns=["doc_id", "tokens"])
        ids = raw_tbl.column("doc_id").to_pylist()
        raw = {ids[i]: np.asarray(raw_tbl.column("tokens")[i].values) for i in range(len(ids))}
        sampled = {ids[i] for i in _sample(ctx.seed, self.DOCS, SAMPLE_DOCS, always=(7,))}
        bad = []
        for n_out, tbl in tiers.items():
            if tbl.num_rows != len(ids):
                bad.append(f"tier {n_out}: {tbl.num_rows} rows, expected {len(ids)}")
                continue
            for r in tbl.to_pylist():
                y = raw[r["doc_id"]]
                sel = np.asarray(r["sel_idx"], dtype=np.int64)
                tok = np.asarray(r["tokens"], dtype=np.int32)
                if not np.array_equal(tok, y[sel]):
                    bad.append(f"tier {n_out} {r['doc_id']}: tokens != raw[sel_idx]")
                if not np.array_equal(decode_tokens(encode_tokens(tok)), tok):
                    bad.append(f"tier {n_out} {r['doc_id']}: codec round trip differs")
                if r["doc_id"] in sampled and not np.array_equal(
                    sel, C.naive_select(oracle, "minmax", y, n_out)
                ):
                    bad.append(f"tier {n_out} {r['doc_id']}: sel_idx != naive oracle")
        return bad

    def after(self, ctx, trace):
        """Bytes per token of the token codec on this run's data (traced)."""
        if not trace:
            return
        from tsdownsample_spark.functions.codecs import encode_tokens

        col = pq.read_table(ctx.inputs["ladder_tokens"], columns=["tokens"]).column("tokens")
        nbytes = ntok = 0
        for arr in col.chunks:
            for i in range(len(arr)):
                y = np.asarray(arr[i].values, dtype=np.int64)
                nbytes += len(encode_tokens(y))
                ntok += y.size
        ctx.values["functions.codecs.packed_bytes_per_token"] = nbytes / ntok


# ------------------------------------------------------------------ Rollup


class Rollup:
    """Retention tiers raw->1m->1h->1d, LOCF gap-fill and the distributed
    MinMax selector on the 1m tier, then the contract queries that call the
    same operators on a seeded ``events`` table, checked against their
    DuckDB oracles."""

    SERIES, POINTS, PARTS, EVENTS = 400, 1000, 2, 1000
    N_OUT_LONG = 100

    def inputs(self, root, seed):
        sdir, smeta = I.series_table(root, self.SERIES, self.POINTS, seed, parts=self.PARTS)
        edir, emeta = I.events_table(root, self.EVENTS, seed)
        return {"series": sdir, "events": edir}, {"series": smeta, "events": emeta}

    def warm_up(self, ctx):
        from tsdownsample_spark.operators.rollup import retention_tiers

        raw = ctx.spark.read.parquet(ctx.inputs["series"]).where("series_key < 8")
        retention_tiers(raw, by=["series_key"])["1m"].selectExpr(*TIER_AGG).collect()

    def _duck(self, ctx):
        if not hasattr(self, "_con"):
            self._con = _duck({
                "raw": _parquet_files(ctx.inputs["series"]),
                "events": _parquet_files(ctx.inputs["events"]),
            }, os.path.join(ctx.work, "tmp", "duckdb"))
        return self._con

    def round(self, ctx):
        from pyspark.sql import functions as F

        from tsdownsample_spark.operators.gapfill import gap_fill
        from tsdownsample_spark.operators.rollup import retention_tiers, with_derived
        from tsdownsample_spark.operators.sql_selectors import minmax_long
        from tsdownsample_spark.plans.materialize import release_materialized
        from tsdownsample_spark.queries import queries

        spark = ctx.spark
        n_rows = ctx.meta["series"]["rows"]
        raw = spark.read.parquet(ctx.inputs["series"])
        for tier, unit in (("1m", "minute"), ("1h", "hour"), ("1d", "day")):
            ctx.query(
                f"operators.rollup.tier_{tier}", "operators.rollup",
                lambda tier=tier: retention_tiers(raw, by=["series_key"])[tier].selectExpr(
                    *TIER_AGG
                ),
                points=n_rows, rows=True,
                check=lambda got, unit=unit: _same_checksum(
                    got[0], _tier_checksum(self._duck(ctx), unit)
                ),
            )

        def t1m():
            return with_derived(retention_tiers(raw, by=["series_key"])["1m"])

        ctx.query(
            "operators.gapfill.locf", "operators.gapfill",
            lambda: gap_fill(t1m(), "1 minute", by=["series_key"], strategy="locf").agg(
                F.count("*"), F.sum(F.col("is_gap").cast("long")), F.sum("agg_avg")
            ),
            points=n_rows, rows=True, check=lambda got: self._check_fill(ctx, got),
        )
        ctx.query(
            "operators.sql_selectors.minmax_long", "operators.sql_selectors",
            lambda: minmax_long(
                t1m(), self.N_OUT_LONG, order=["bucket_ts"], by=["series_key"],
                y_col="agg_max",
            ).select("series_key", "pos", "sel_idx", "sel_value"),
            points=n_rows, check=lambda tbl: self._check_sel(ctx, tbl),
        )
        ctx.call("plans.release", "plans", release_materialized)

        qs = queries()
        for q in CONTRACT_SLICE:
            ctx.query(
                f"queries.{q}", "queries",
                lambda q=q: qs[q](spark, ctx.inputs["events"]),
                points=ctx.meta["events"]["rows"],
                check=lambda tbl, q=q: self._check_query(ctx, q, tbl),
            )

    def _check_fill(self, ctx, got):
        exp = self._duck(ctx).execute(
            """
            WITH a AS (SELECT series_key, date_trunc('minute', ts) AS b,
                              sum(value) / count(value) AS v FROM raw GROUP BY 1, 2),
            g AS (SELECT series_key,
                         unnest(generate_series(min(b), max(b), INTERVAL 1 MINUTE)) AS b
                  FROM a GROUP BY 1),
            f AS (SELECT g.series_key, a.v IS NULL AS gap,
                         last_value(a.v IGNORE NULLS) OVER (
                           PARTITION BY g.series_key ORDER BY g.b) AS v
                  FROM g LEFT JOIN a USING (series_key, b))
            SELECT count(*), sum(gap::BIGINT), sum(v) FROM f"""
        ).fetchone()
        row = tuple(got[0])
        if row[0] == exp[0] and row[1] == exp[1] and C.close(row[2], exp[2]):
            return []
        return [f"gap-fill checksum {row} != duckdb {exp}"]

    def _check_sel(self, ctx, tbl):
        """Sampled series: the selection equals the naive oracle's over the
        1m tier's agg_max, computed by DuckDB."""
        oracle = C.naive_oracle(ctx.root)
        bad = []
        for k in _sample(ctx.seed, self.SERIES, 2):
            y = np.asarray([r[0] for r in self._duck(ctx).execute(
                "SELECT max(value) FROM raw WHERE series_key = ? "
                "GROUP BY date_trunc('minute', ts) ORDER BY date_trunc('minute', ts)",
                [k],
            ).fetchall()])
            exp = C.naive_select(oracle, "minmax", y, self.N_OUT_LONG)
            mine = tbl.filter(pc.equal(tbl["series_key"], k)).sort_by("pos")
            if not np.array_equal(np.asarray(mine["sel_idx"].to_pylist(), dtype=np.int64), exp):
                bad.append(f"series {k}: sel_idx differs from the naive oracle")
        return bad

    def _check_query(self, ctx, q, tbl):
        from tsdownsample_spark.queries import oracle_sql

        if not hasattr(self, "_oracle"):
            self._oracle = {}
        if q not in self._oracle:
            self._oracle[q] = self._duck(ctx).execute(oracle_sql()[q]).fetch_arrow_table()
        bad = C.compare_tables(tbl, self._oracle[q])
        if bad:
            ctx.values["queries.oracle_mismatches"] = (
                ctx.values.get("queries.oracle_mismatches", 0) + 1
            )
        return bad

    def after(self, ctx, trace):
        pass


# ----------------------------------------------------------------- Refresh


class Refresh:
    """Continuous-rollup refreshes: each series file is appended to a raw
    snapshot table as its own snapshot, and the 1m tier is refreshed from
    the delta only.  Shares the Rollup part's series files."""

    def inputs(self, root, seed):
        return {}, {}

    def round(self, ctx):
        from tsdownsample_spark.operators.rollup import continuous_rollup
        from tsdownsample_spark.sources.tableio import SnapshotTable

        spark = ctx.spark
        raw_tbl = SnapshotTable(os.path.join(ctx.round_dir, "raw_series"))
        tier_tbl = SnapshotTable(os.path.join(ctx.round_dir, "series_1m"))
        for f in _parquet_files(ctx.inputs["series"]):
            delta = spark.read.parquet(f)
            n = pq.read_metadata(f).num_rows
            ctx.call("sources.tableio.append_raw", "sources",
                     lambda: raw_tbl.append(delta), points=n)
            ctx.call("operators.rollup.refresh", "operators.rollup",
                     lambda: continuous_rollup(spark, raw_tbl, tier_tbl, "1m"), points=n)
            ctx.add("operators.rollup.refresh_delta_rows", n)
        ctx.verify("operators.rollup.refresh", lambda: self._check(ctx, tier_tbl))

    def _check(self, ctx, tier_tbl):
        """The merged partials equal a full 1m rollup of every appended file."""
        from tsdownsample_spark.operators.rollup import merge_tier_partials

        got = merge_tier_partials(tier_tbl.read(ctx.spark), ["series_key"]).selectExpr(
            *TIER_AGG
        ).collect()[0]
        con = _duck({"raw": _parquet_files(ctx.inputs["series"])},
                    os.path.join(ctx.work, "tmp", "duckdb"))
        try:
            return _same_checksum(got, _tier_checksum(con, "minute"))
        finally:
            con.close()

    def after(self, ctx, trace):
        """Bits per value and per timestamp of the series codecs (traced)."""
        if not trace:
            return
        from tsdownsample_spark.functions.codecs import encode_dod, encode_gorilla

        s = pq.read_table(_parquet_files(ctx.inputs["series"])[0])
        keys = s.column("series_key").to_numpy()
        ts = s.column("ts").cast(pa.int64()).to_numpy()
        v = s.column("value").to_numpy()
        bits_v = bits_t = n = 0
        for k in np.unique(keys)[:50]:
            m = keys == k
            bits_v += 8 * len(encode_gorilla(v[m]))
            bits_t += 8 * len(encode_dod(ts[m]))
            n += int(m.sum())
        ctx.values["functions.codecs.gorilla_bits_per_value"] = bits_v / n
        ctx.values["functions.codecs.dod_bits_per_ts"] = bits_t / n


class Workload:
    """Parts run in order; inputs and metadata are merged by key."""

    def __init__(self, *parts):
        self.parts = [p() for p in parts]

    def inputs(self, root, seed):
        paths, meta = {}, {}
        for p in self.parts:
            a, b = p.inputs(root, seed)
            paths.update(a)
            meta.update(b)
        return paths, meta

    def warm_up(self, ctx):
        for p in self.parts:
            if hasattr(p, "warm_up"):
                p.warm_up(ctx)

    def round(self, ctx):
        for p in self.parts:
            p.round(ctx)

    def after(self, ctx, trace):
        for p in self.parts:
            p.after(ctx, trace)


WORKLOADS = {
    "tokens": lambda: Workload(Select, Ladder),
    "series": lambda: Workload(Rollup, Refresh),
}
