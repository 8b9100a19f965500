"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute force: broadcast the (small) probe set
  against all vectors; the dot/norm math is a native higher-order-function
  expression (JVM, codegen) — no UDF.  This is the baseline and the
  verifier for approximate variants.
* ``lsh_ann_topk`` — random-hyperplane LSH: vectors hash to a sign-pattern
  bucket over ``n_planes`` fixed hyperplanes (deterministic, seeded; the
  planes are plain literals so ANY engine can reproduce the bucketing);
  probes search only their own bucket.  The scale path: the bucket id is a
  shuffle/partition key, so each query touches 1/2^planes of the corpus.

At 100 TB the brute-force side stays a broadcast join (probes are small);
the LSH variant's bucket column doubles as a partition/bucketing key for
the stored table, turning ANN into partition-pruned scans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def cosine_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (self excluded).

    Deterministic ranking: (round(cosine, 6) desc, vec_id asc).
    """
    # norms are computed ONCE per vector / per probe BEFORE the pair join
    # (the r6 fix): the interpreted zip_with+aggregate fold is the per-pair
    # cost, and folding dot(a,a)/dot(b,b) inside every scored pair tripled
    # it.  cosine = dot / (np * nv) is the same IEEE expression on the same
    # operands, so values are bit-identical to the inline form.
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"),
        F.expr(_norm_expr(vec_col)).alias("_np"),
    )
    v = vectors.withColumn("_nv", F.expr(_norm_expr(vec_col)))
    joined = v.join(F.broadcast(p), F.col(id_col) != F.col("probe_id"))
    scored = joined.withColumn(
        "cosine",
        F.expr(_dot_expr("probe_vec", vec_col)) / (F.col("_np") * F.col("_nv")),
    ).withColumn("cos_r", F.round("cosine", 6))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_r"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", F.col(id_col).alias("neighbor_id"), "cos_r")
    )


def near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Without ``candidates`` this is the exact O(n^2) pass (fine for probe
    sets / small corpora; the verifier for approximate paths).  At scale,
    pass LSH-bucketed candidate pairs (same shape as lsh_candidate_pairs)
    to restrict the comparison set.
    """
    # precompute per-vector norms once; each pair then costs one dot product
    normed = vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.expr(_norm_expr(vec_col)).alias("nrm"),
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    if candidates is not None:
        # shuffle-join the pairs against the semi-joined subset of vectors
        # appearing in candidates — NOT a broadcast of the full vector table
        # (unbounded at scale); AQE may still pick broadcast when small.
        ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        needed = normed.join(ids, id_col, "left_semi")
        a = needed.select(
            F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
        )
        b = needed.select(
            F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        )
        joined = candidates.join(a, "id_a").join(b, "id_b")
    else:
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn(
            "cos_r",
            F.round(F.expr(_dot_expr("va", "vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos_r") >= threshold)
        .select("id_a", "id_b", "cos_r")
    )


def near_dup_pairs_blocked(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-dups via BLOCKED comparison — the scalable
    form of the O(n^2) verifier: vectors are hashed into ``n_blocks`` blocks,
    each unordered block pair (bi <= bj) becomes one task that compares two
    bounded vector blocks with vectorized NumPy.

    Cost model: every vector is replicated n_blocks times (the standard
    blocked cross-join trade: replication O(n*B) vs task state O((n/B)^2));
    per-task memory is two blocks, never the corpus.

    Numeric parity: the dot product is accumulated SEQUENTIALLY over the
    dimensions (vectorized across pairs) — the same left-to-right float64
    fold as the SQL `aggregate(zip_with(...))` expression and the DuckDB
    oracle, so cos_r is bit-identical to `near_dup_pairs`, not merely close
    (a BLAS matmul would differ in the last ulp and flip round() boundaries).
    """
    import pandas as pd

    B = int(n_blocks)
    id_type = vectors.schema[id_col].dataType.simpleString()
    blk = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("_b"),
    )
    # replicate each row to every block pair it participates in
    rep = blk.select(
        "_id", "_v", "_b",
        F.explode(F.expr(f"sequence(0, {B - 1})")).alias("_o"),
    ).select(
        "_id", "_v", "_b",
        F.least("_b", "_o").alias("bi"),
        F.greatest("_b", "_o").alias("bj"),
    ).dropDuplicates(["_id", "bi", "bj"])

    thr = float(threshold)

    def _compare(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        same = bi == bj
        a = pdf[pdf["_b"] == bi]
        b = pdf[pdf["_b"] == bj] if not same else a
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        ida = a["_id"].to_numpy()
        idb = b["_id"].to_numpy()
        va = np.stack(a["_v"].to_numpy()).astype(np.float64)
        vb = np.stack(b["_v"].to_numpy()).astype(np.float64)
        dim = va.shape[1]
        # sequential fold over dims (the SQL aggregate's exact add order),
        # vectorized across the pair matrix — bit-identical doubles
        dot = np.zeros((len(va), len(vb)))
        na = np.zeros(len(va))
        nb = np.zeros(len(vb))
        for d in range(dim):
            dot += va[:, d][:, None] * vb[None, :, d]
            na += va[:, d] * va[:, d]
            nb += vb[:, d] * vb[:, d]
        cos = dot / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        # slack prefilter only — the contract-grade round+threshold happens
        # Spark-side with the same round() as the unblocked operator.  The
        # slack must exceed HALF THE ROUNDING QUANTUM (0.5e-6): a raw cos of
        # thr - 4e-7 still rounds UP to thr and must survive the prefilter.
        mask = cos >= thr - 5.1e-7
        if same:
            mask &= np.tri(len(va), len(vb), k=-1, dtype=bool).T  # i < j positions
        ii, jj = np.where(mask)
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[ii, jj]})

    pairs = rep.groupBy("bi", "bj").applyInPandas(
        _compare, f"id_a {id_type}, id_b {id_type}, cos double"
    )
    return (
        pairs.withColumn("cos_r", F.round("cos", 6))
        .filter(F.col("cos_r") >= thr)
        .select("id_a", "id_b", "cos_r")
    )


def lsh_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic hyperplanes, rounded so they serialize exactly in SQL."""
    rng = np.random.default_rng(seed)
    return [
        [round(float(v), 6) for v in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def bucket_expr(vec_col: str, planes: list[list[float]]) -> str:
    """SQL expression for the sign-pattern bucket id of ``vec_col``."""
    terms = []
    for j, plane in enumerate(planes):
        arr = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
        terms.append(
            f"CASE WHEN {_dot_expr(vec_col, arr)} >= 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


def ivf_centroids(dim: int, n_cells: int, seed: int = 11) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (seeded, rounded so they
    serialize exactly into SQL on any engine).  A trained quantizer would
    come from k-means over a sample; the *plumbing* — cell assignment,
    partition-pruned probe, in-cell ranking — is identical and is what the
    engine owns."""
    rng = np.random.default_rng(seed)
    return [
        [round(float(v), 6) for v in rng.standard_normal(dim)]
        for _ in range(n_cells)
    ]


def ivf_train_centroids(
    vectors: DataFrame,
    n_cells: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    seed: int = 11,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Lloyd's k-means over the corpus (or a sample), expressed as
    DataFrame ops — returns trained coarse-quantizer centroids to pass to
    ``ivf_ann_topk(..., centroids=...)``.

    Each iteration is one narrow assignment pass (``cell_expr`` — pure JVM
    expression, no UDF) plus one elementwise-mean aggregate
    (posexplode -> groupBy(cell, pos).avg — shuffle bounded by
    n_cells x dim groups).  Only the n_cells x dim centroid matrix ever
    reaches the driver (<= a few KB), so training scales with the corpus:
    at 100 TB you'd train on ``sample_fraction`` of the data — assignment
    cost is linear in rows sampled, the aggregate is invariant.

    Empty cells keep their previous centroid (the standard dead-centroid
    rule).  Centroids are rounded to 6dp so they serialize exactly into
    SQL on any engine, same contract as ``ivf_centroids``.

    This is SPHERICAL k-means: after each mean update the centroid is
    L2-normalized, because ``cell_expr`` assigns by max DOT PRODUCT (the
    cheap in-plan form of cosine).  Without the normalization a
    long-normed centroid wins assignments it shouldn't (magnitude bias)
    and the cells stop tracking cosine neighborhoods — the metric
    ``ivf_ann_topk`` actually ranks by.
    """
    cents = ivf_centroids(dim, n_cells, seed)
    src = (
        vectors.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else vectors
    )
    src = src.select(F.col(vec_col).alias("_v"))
    for _ in range(int(iters)):
        assigned = src.withColumn("cell", F.expr(cell_expr("_v", cents)))
        rows = (
            assigned.select("cell", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()  # bounded: n_cells x dim rows — the trained model
        )
        new = [list(c) for c in cents]
        seen = set()
        for r in rows:
            new[r.cell][r.pos] = float(r.m)
            seen.add(r.cell)
        for i in seen:
            nrm = float(np.sqrt(sum(v * v for v in new[i])))
            if nrm > 0:
                new[i] = [round(v / nrm, 6) for v in new[i]]
            else:
                new[i] = [round(v, 6) for v in new[i]]
        cents = [new[i] if i in seen else cents[i] for i in range(n_cells)]
    return cents


def cell_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """SQL expression: index of the nearest centroid by dot product (cosine
    against unit-ish random centroids; deterministic ties -> lowest index)."""
    dots = []
    for c in centroids:
        arr = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in c) + ")"
        dots.append(_dot_expr(vec_col, arr))
    scored = ", ".join(f"named_struct('d', {d}, 'i', {i})" for i, d in enumerate(dots))
    # max over (d, -i): highest dot, lowest index on ties
    return (
        f"aggregate(array({scored}), named_struct('d', CAST('-Infinity' AS DOUBLE), 'i', -1), "
        "(acc, s) -> IF(s.d > acc.d, s, acc)).i"
    )


def probe_cells_expr(vec_col: str, centroids: list[list[float]], nprobe: int) -> str:
    """SQL expression: array of the ``nprobe`` nearest centroid indices,
    best first (dot desc, index asc on ties — the same tie rule as
    ``cell_expr``, whose result is always element 0)."""
    dots = []
    for c in centroids:
        arr = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in c) + ")"
        dots.append(_dot_expr(vec_col, arr))
    # sort key (-d, i): ascending sort = descending dot, lowest index on ties
    scored = ", ".join(
        f"named_struct('nd', -({d}), 'i', {i})" for i, d in enumerate(dots)
    )
    return (
        f"transform(slice(array_sort(array({scored})), 1, {int(nprobe)}), s -> s.i)"
    )


def ivf_ann_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 11,
    nprobe: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: vectors are bucketed by nearest coarse
    centroid; each probe searches its ``nprobe`` nearest cells.  Pass
    ``centroids`` from ``ivf_train_centroids`` for a trained quantizer
    (on clustered embeddings, trained cells concentrate true neighbors —
    higher recall at the same nprobe); default is the seeded random
    quantizer (deterministic, oracle-reproducible).

    Scale shape: ``cell`` is a partition/bucketing key for the stored
    table, so a probe is a partition-pruned scan of ~nprobe/n_cells of the
    corpus; the probe side broadcasts (small by contract) — multiprobe only
    replicates PROBE rows (x nprobe), never vectors.  A probe's cells are
    distinct, and each vector lives in exactly one cell, so no (probe,
    vector) pair is scored twice and the rank window needs no dedup.
    """
    if not 1 <= nprobe <= n_cells:
        raise ValueError(f"nprobe must be in [1, n_cells={n_cells}], got {nprobe}")
    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells, seed)
    if len(cents) != n_cells:
        raise ValueError(f"centroids has {len(cents)} cells, expected {n_cells}")
    # per-vector/per-probe norms precomputed before the join (see
    # cosine_topk) — same IEEE expression, 3x less per-pair fold work; the
    # probe norm before the explode, so once per probe, not per probed cell/bucket
    v = vectors.withColumn("cell", F.expr(cell_expr(vec_col, cents))).withColumn(
        "_nv", F.expr(_norm_expr(vec_col))
    )
    p = (
        probes.withColumn("_np", F.expr(_norm_expr(vec_col)))
        .withColumn(
            "cell", F.explode(F.expr(probe_cells_expr(vec_col, cents, nprobe)))
        )
        .select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"),
            "cell", "_np",
        )
    )
    joined = v.alias("v").join(
        F.broadcast(p).alias("p"),
        (F.col("v.cell") == F.col("p.cell"))
        & (F.col(f"v.{id_col}") != F.col("p.probe_id")),
    )
    scored = joined.withColumn(
        "cosine",
        F.expr(_dot_expr("probe_vec", f"v.{vec_col}"))
        / (F.col("_np") * F.col("_nv")),
    ).withColumn("cos_r", F.round("cosine", 6))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_r"), F.asc(f"v.{id_col}"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "rank",
            F.col(f"v.{id_col}").alias("neighbor_id"),
            "cos_r",
            F.col("v.cell").alias("cell"),
        )
    )


def probe_buckets_expr(vec_col: str, planes: list[list[float]], nprobe: int) -> str:
    """SQL expression: array of ``nprobe`` LSH buckets for a probe vector —
    its own sign-pattern bucket first, then the buckets reached by flipping
    ONE plane bit in ascending |margin| order (classic 1-step multiprobe:
    the planes the vector is closest to are the likeliest sign errors).

    All buckets are distinct (base, then base^2^j for distinct j), so
    exploding them never duplicates a (probe, vector) candidate.
    """
    P = len(planes)
    if not 1 <= nprobe <= P + 1:
        raise ValueError(f"nprobe must be in [1, n_planes+1={P + 1}], got {nprobe}")
    dots = []
    for plane in planes:
        arr = "array(" + ",".join(f"CAST({v} AS DOUBLE)" for v in plane) + ")"
        dots.append(_dot_expr(vec_col, arr))
    dots_arr = "array(" + ", ".join(dots) + ")"
    # evaluate the P dot products ONCE via a single-element outer transform
    # (poor man's let-binding); base bucket + flip list both read `ds`
    base = (
        f"aggregate(zip_with(ds, sequence(0, {P - 1}), "
        "(d, j) -> IF(d >= 0, shiftleft(1, j), 0)), 0, (acc, v) -> acc + v)"
    )
    flips = (
        f"slice(array_sort(zip_with(ds, sequence(0, {P - 1}), "
        f"(d, j) -> named_struct('a', abs(d), 'j', j))), 1, {int(nprobe) - 1})"
    )
    return (
        f"transform(array({dots_arr}), ds -> "
        f"concat(array({base}), transform({flips}, s -> ({base}) ^ shiftleft(1, s.j)))"
        ")[0]"
    )


def lsh_ann_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 7,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates limited to the probe's LSH bucket(s).

    ``nprobe`` > 1 enables 1-step multiprobe: the probe also searches the
    nprobe-1 buckets reached by flipping its smallest-|margin| plane signs.
    Only PROBE rows replicate (x nprobe); the vector side keeps exactly one
    bucket per vector — at scale that is still a partition-pruned scan of
    ~nprobe/2^n_planes of the corpus.
    """
    planes = lsh_planes(dim, n_planes, seed)
    be = bucket_expr(vec_col, planes)
    # per-vector/per-probe norms precomputed before the join (see
    # cosine_topk) — same IEEE expression, 3x less per-pair fold work; the
    # probe norm before the explode, so once per probe, not per probed cell/bucket
    v = vectors.withColumn("bucket", F.expr(be)).withColumn(
        "_nv", F.expr(_norm_expr(vec_col))
    )
    p = (
        probes.withColumn("_np", F.expr(_norm_expr(vec_col)))
        .withColumn(
            "bucket", F.explode(F.expr(probe_buckets_expr(vec_col, planes, nprobe)))
        )
        .select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            "bucket",
            "_np",
        )
    )
    joined = v.alias("v").join(
        F.broadcast(p).alias("p"),
        (F.col("v.bucket") == F.col("p.bucket"))
        & (F.col(f"v.{id_col}") != F.col("p.probe_id")),
    )
    scored = joined.withColumn(
        "cosine",
        F.expr(_dot_expr("probe_vec", f"v.{vec_col}"))
        / (F.col("_np") * F.col("_nv")),
    ).withColumn("cos_r", F.round("cosine", 6))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_r"), F.asc(f"v.{id_col}"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "rank",
            F.col(f"v.{id_col}").alias("neighbor_id"),
            "cos_r",
            F.col("v.bucket").alias("bucket"),
        )
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-probe recall of an approximate top-k result against the exact one.

    Both inputs are (probe_id, rank, neighbor_id, ...) frames as returned by
    ``cosine_topk`` / ``lsh_ann_topk`` / ``ivf_ann_topk``.  recall =
    |approx ∩ exact| / |exact| per probe (the exact set is the denominator,
    so probes whose exact list is shorter than k — tiny corpora — are not
    penalized).  One semi-join + two bounded aggregates; both sides are
    O(probes x k) rows, so this is cheap at any corpus scale.
    """
    e = exact.select("probe_id", "neighbor_id")
    a = approx.select("probe_id", "neighbor_id")
    hits = (
        e.join(a, ["probe_id", "neighbor_id"], "left_semi")
        .groupBy("probe_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        e.groupBy("probe_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "n_exact",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_exact")).alias("recall"),
        )
    )


def ann_recall_report(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    lsh_nprobes: tuple[int, ...] = (1, 3, 5),
    ivf_nprobes: tuple[int, ...] = (1, 2, 4),
    n_planes: int = 4,
    n_cells: int = 8,
) -> dict[str, float]:
    """Mean recall@k of every (method, nprobe) variant vs exact cosine_topk.

    Returns {"lsh_nprobe=1": r, ..., "ivf_nprobe=4": r} — the measured
    accuracy/cost trade the approximate paths actually deliver (each probe
    scans ~nprobe/2^n_planes resp. ~nprobe/n_cells of the corpus).
    """
    exact = cosine_topk(vectors, probes, k=k, id_col=id_col, vec_col=vec_col).cache()
    out: dict[str, float] = {}
    for np_ in lsh_nprobes:
        ap = lsh_ann_topk(
            vectors, probes, k=k, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, dim=dim, nprobe=np_,
        )
        out[f"lsh_nprobe={np_}"] = round(
            recall_at_k(exact, ap).agg(F.avg("recall")).collect()[0][0], 4
        )
    for np_ in ivf_nprobes:
        ap = ivf_ann_topk(
            vectors, probes, k=k, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, dim=dim, nprobe=np_,
        )
        out[f"ivf_nprobe={np_}"] = round(
            recall_at_k(exact, ap).agg(F.avg("recall")).collect()[0][0], 4
        )
    exact.unpersist()
    return out


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells as the blocking key, exact cosine
    pairs WITHIN each cell, connected components over the pair graph, and
    a total per-vector ``(<id_col>, cluster_id, keep)`` verdict — the
    embedding-space twin of the MinHash pipeline's pairs -> clusters ->
    keep-one stages.

    Pass ``centroids`` from :func:`ivf_train_centroids` for data-fitted
    cells (better within-cell recall, same plan); the default is the
    deterministic random codebook shared with the IVF oracle.

    Scale shape: cell assignment is a narrow per-row expression; the
    candidate self-join shuffles on the CELL key only (never all-pairs);
    verification inherits :func:`near_dup_pairs`'s semi-join restriction;
    clustering cost ∝ the duplicate subset (see
    ``operators/dedup.connected_components``).  Cross-cell near-dups are
    the documented recall caveat — the same boundary miss as nprobe=1 IVF;
    SemDeDup accepts it by design (within-cluster dedup only).
    """
    from tsdownsample_spark.operators.dedup import neardup_clusters

    cents = centroids if centroids is not None else ivf_centroids(dim, n_cells, seed)
    cells = vectors.select(
        F.col(id_col), F.expr(cell_expr(vec_col, cents)).alias("cell")
    )
    a = cells.select(F.col(id_col).alias("id_a"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"), "cell")
    cand = a.join(b, "cell").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    pairs = near_dup_pairs(
        vectors,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        candidates=cand,
    )
    return neardup_clusters(
        vectors.select(id_col), pairs.select("id_a", "id_b"), id_col=id_col
    )
