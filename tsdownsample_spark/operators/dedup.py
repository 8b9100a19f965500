"""Deduplication operators for training-data pipelines.

Every operator is native Spark SQL (no UDF) with an exact ANSI-SQL mirror:

* **exact**        — one window over the content hash; keeper = min(doc_id).
* **MinHash**      — word-shingle signatures: ONE md5 per shingle yields a
  32-bit base b; sig[j] = min over shingles of (A[j]*b + B[j]) mod P
  (universal hashing); banded LSH turns signatures into candidate pairs
  with one self-join on (band_idx, band_hash).
* **Jaccard**      — verification of candidate pairs on distinct-shingle
  sets (array_intersect/array_union sizes).
* **SimHash**      — 32-bit majority-vote hash over word hashes; equal
  simhash = near-dup bucket.

Scale shape: signatures/bands are narrow per-row transforms; the only
shuffle is the band-hash self-join, whose build side is (doc_id, band_hash)
— tiny relative to text — and AQE handles hot bands.  At 10^12 docs the
band join is the canonical MinHash-LSH layout (shuffle on band_hash).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdownsample_spark.operators.text import _shingles_expr
from tsdownsample_spark.plans.materialize import materialize_shared

# MinHash hash family: ONE md5 per shingle (the only hash both engines
# share), then k universal-hash transforms h_j(b) = (A[j]*b + B[j]) mod P
# over its first 8 hex digits — 16x fewer md5 passes than hashing per j,
# which dominates the signature cost at scale.  30-bit odd multipliers keep
# A[j]*b < 2^62 (no BIGINT overflow); P is the largest 32-bit prime.
MINHASH_P = 4294967291
_rng = np.random.default_rng(99)
MINHASH_A = [int(a) | 1 for a in _rng.integers(1 << 20, 1 << 30, size=64)]
MINHASH_B = [int(b) for b in _rng.integers(0, 1 << 30, size=64)]
del _rng


def _h32_expr(inner: str, hash: str) -> str:
    """32-bit base hash of a string expression, as a SQL fragment.

    ``md5`` (first 8 hex digits -> conv to bigint) is the portable default:
    it is the one hash DuckDB shares, so the oracle-backed contract rows
    replay it verbatim.  ``xxhash64`` is the scale path: one native JVM
    64-bit hash masked to 32 bits — no 32-char hex-string materialization,
    no conv() parse, so far fewer bytes cross the memory bus per shingle
    (the measured bottleneck of the dedup scaling workload on this host).
    """
    if hash == "md5":
        return f"CAST(conv(substring(md5({inner}), 1, 8), 16, 10) AS BIGINT)"
    if hash == "xxhash64":
        # mask to 32 bits so the k universal-hash products A[j]*b stay
        # below 2^62 (no BIGINT overflow), same contract as the md5 base
        return f"(xxhash64({inner}) & 4294967295L)"
    raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc exact-dup verdict: content hash, group size, keeper flag.

    Window over ``content_hash`` — ONE shuffle, no join, no broadcast: the
    per-hash state is bounded by the duplicate-group size, never by corpus
    size, so this survives arbitrarily many distinct documents (the previous
    shape broadcast one row per distinct hash — unbounded at 100 TB).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
        .select(id_col, "content_hash", "group_size", "keep")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle: int = 3,
    hash: str = "md5",
) -> DataFrame:
    """(id, sig: array<bigint>[k]) — MinHash over word-``shingle``-grams:
    one base hash per shingle -> 32-bit base, k universal-hash minima.

    ``hash="md5"`` (default) is oracle-portable; ``hash="xxhash64"`` is the
    production path (see ``_h32_expr``) — same signature semantics, a
    different (equally universal) base family, ~3x less hashing work and no
    hex-string traffic."""
    if k > len(MINHASH_A):
        raise ValueError(f"k <= {len(MINHASH_A)} supported")
    sh = _shingles_expr(text_col, shingle)
    base = f"transform(_sh, s -> {_h32_expr('s', hash)})"
    mins = ", ".join(
        f"array_min(transform(_b, b -> ({MINHASH_A[j]}L * b + {MINHASH_B[j]}L) % {MINHASH_P}L))"
        for j in range(k)
    )
    # materialize the shingle/base arrays once per row; k passes reuse them
    return (
        df.select(F.col(id_col), F.expr(sh).alias("_sh"))
        .select(F.col(id_col), F.expr(base).alias("_b"))
        .select(F.col(id_col), F.expr(f"array({mins})").alias("sig"))
    )


def banded_signatures(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
    hash: str = "md5",
) -> DataFrame:
    """(id, band_idx, band_hash) rows: each signature split into ``bands``
    bands of ``rows`` values, each band hashed to one value — the canonical
    LSH shuffle key (docs sharing any band hash are candidates).

    ``hash="md5"`` stringifies the band and emits a 32-char hex key (the
    oracle-portable default); ``hash="xxhash64"`` hashes the bigint slice
    directly to ONE 8-byte key — the shuffle key shrinks 4x and the
    stringify pass disappears, which is what the band self-join shuffles
    at 100 TB."""
    if hash == "xxhash64":
        band_expr = (
            f"transform(sequence(0, {bands - 1}), "
            f"b -> xxhash64(slice(sig, b * {rows} + 1, {rows})))"
        )
    else:
        band_expr = (
            f"transform(sequence(0, {bands - 1}), "
            f"b -> md5(concat_ws('|', transform(slice(sig, b * {rows} + 1, {rows}), "
            f"v -> CAST(v AS STRING)))))"
        )
    return sig_df.select(
        F.col(id_col), F.posexplode(F.expr(band_expr)).alias("band_idx", "band_hash")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows: int = 4,
    hash: str = "md5",
) -> DataFrame:
    """Banded LSH: docs sharing any band hash become a candidate pair
    (id_a < id_b, distinct).

    The banded-signature base feeds BOTH sides of the self-join, and
    Catalyst does not share the subtree — left alone the minhash
    signatures (the expensive per-doc hashing) are derived twice.  It is
    therefore materialized once per invocation (plans/materialize.py);
    the join then probes the cached blocks from both aliases."""
    banded = materialize_shared(banded_signatures(
        sig_df, id_col=id_col, bands=bands, rows=rows, hash=hash
    ))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.0,
    hash: str | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over distinct shingles.

    Scale shape: shingle sets are joined to the pairs with plain shuffle
    joins on id, restricted first (left-semi) to the ids that actually
    appear in a candidate pair — candidate verification touches only the
    candidate neighborhood, never a broadcast of the full corpus.  AQE still
    downgrades to broadcast when the semi-joined side is genuinely small.

    ``hash="xxhash64"`` replaces each shingle STRING with its 64-bit hash
    before the set ops, so the shuffled/intersected sets are 8 bytes per
    element instead of ~8+ bytes per WORD — the Jaccard value is unchanged
    up to 64-bit collisions (~n²/2^65 per doc pair, negligible).  Default
    ``None`` keeps raw strings for exact oracle parity.

    r6: ``pairs`` is consumed four times here (the id-restriction union
    twice, then both verify joins) and the shingle-set base twice — both
    are materialized once per invocation (plans/materialize.py) so the
    candidate derivation and the per-doc shingling run once, not 4x/2x.
    """
    sh = F.expr(f"array_distinct({_shingles_expr(text_col, shingle)})")
    if hash == "xxhash64":
        sh = F.expr(
            f"array_distinct(transform({_shingles_expr(text_col, shingle)}, "
            f"s -> xxhash64(s)))"
        )
    pairs = materialize_shared(pairs)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs = materialize_shared(
        df.select(F.col(id_col), sh.alias("sh")).join(ids, id_col, "left_semi")
    )
    j = (
        pairs.join(
            docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if threshold > 0:
        j = j.filter(F.col("jaccard") >= threshold)
    return j


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.0,
    hash: str | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact SET CONTAINMENT over distinct
    shingles — the asymmetric companion to :func:`jaccard_pairs`.

    Jaccard under-scores subsumption: a short doc fully embedded in a long
    one (quote farms, boilerplate wrappers, page + page-with-nav) has
    ``J = |A|/|B| → 0`` as the host grows, yet it is a textbook near-dup
    the keep-first policy should collapse.  Containment fixes the
    denominator to one side: ``c_a = |A∩B|/|A|`` (how much of A is inside
    B), ``c_b = |A∩B|/|B|``, and ``containment = max(c_a, c_b)`` — 1.0
    whenever either doc's shingle set is a subset of the other's,
    regardless of length ratio.

    Same scale shape as :func:`jaccard_pairs` (and the same optional
    ``hash="xxhash64"`` 8-byte-element form): shingle sets are left-semi
    restricted to ids appearing in a candidate pair before any set op —
    cost is bounded by the candidate neighborhood, never all-pairs.
    ``threshold`` filters on the max-containment score.
    Output: (id_a, id_b, c_a, c_b, containment).

    r6: ``pairs`` (4 consumers) and the shingle-set base (2) are
    materialized once per invocation, exactly like :func:`jaccard_pairs`.
    """
    sh = F.expr(f"array_distinct({_shingles_expr(text_col, shingle)})")
    if hash == "xxhash64":
        sh = F.expr(
            f"array_distinct(transform({_shingles_expr(text_col, shingle)}, "
            f"s -> xxhash64(s)))"
        )
    pairs = materialize_shared(pairs)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs = materialize_shared(
        df.select(F.col(id_col), sh.alias("sh")).join(ids, id_col, "left_semi")
    )
    out = (
        pairs.join(
            docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("_i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("c_a", F.round(F.col("_i") / F.size("sh_a"), 6))
        .withColumn("c_b", F.round(F.col("_i") / F.size("sh_b"), 6))
        .withColumn("containment", F.greatest("c_a", "c_b"))
        .select("id_a", "id_b", "c_a", "c_b", "containment")
    )
    if threshold > 0:
        out = out.filter(F.col("containment") >= threshold)
    return out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash: str = "md5",
) -> DataFrame:
    """Per-doc SimHash: bit j is set iff the sum over words of
    (2*bit_j(h32(word)) - 1) is >= 0, h32 = the 32-bit base hash
    (``_h32_expr``: md5 hex default, xxhash64 scale path).

    Single pass: word hashes materialize once, then ONE fold accumulates all
    ``bits`` counters per word (the naive nested form re-evaluates the hash
    transform once per bit — 32x the hashing).

    r6: the md5 path runs as a ``mapInPandas`` batch kernel (guide
    section 4.2): the interpreted JVM fold allocates a ``bits``-long
    array per WORD (zip_with per element — 5.8 s at sf1.0), while the
    kernel memoizes word->h32 across the batch (Zipf vocabularies hash
    each distinct word once) and bit-counts with one vectorized
    reduceat per batch (~1.5 s).  Values are exact integers — identical
    fold.  The xxhash64 scale path stays a pure JVM expression (no
    Python md5 equivalent needed there).
    """
    if hash != "md5":
        hs = f"transform(split({text_col}, ' '), w -> {_h32_expr('w', hash)})"
        counts = (
            f"aggregate(_hs, array_repeat(0L, {bits}), (acc, h) -> "
            f"zip_with(acc, sequence(0, {bits - 1}), "
            f"(a, j) -> a + 2 * ((h div shiftleft(1L, j)) % 2) - 1))"
        )
        sim = (
            f"aggregate(zip_with({counts}, sequence(0, {bits - 1}), "
            f"(c, j) -> IF(c >= 0, shiftleft(1L, j), 0L)), 0L, (a, b) -> a + b)"
        )
        return df.select(F.col(id_col), F.expr(hs).alias("_hs")).select(
            F.col(id_col), F.expr(sim).alias("simhash")
        )

    from pyspark.sql.types import LongType, StructField, StructType

    src = df.select(id_col, text_col)
    out_schema = StructType(
        [src.schema[id_col], StructField("simhash", LongType())]
    )
    nbits = bits

    def kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        memo: dict = {}
        jrange = np.arange(nbits, dtype=np.int64)
        weights = (np.int64(1) << jrange)

        def h32(w):
            v = memo.get(w)
            if v is None:
                v = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16)
                memo[w] = v
            return v

        for pdf in batches:
            texts = pdf[text_col]
            hs_all = []
            starts = []
            nwords = []
            pos = 0
            for s in texts:
                starts.append(pos)
                if s is None:
                    nwords.append(-1)
                    continue
                ws = s.split(" ")
                hs_all.extend(h32(w) for w in ws)
                pos += len(ws)
                nwords.append(len(ws))
            if hs_all:
                hs = np.asarray(hs_all, dtype=np.int64)
                bitmat = ((hs[:, None] >> jrange) & 1).astype(np.int8)
                # clamp: a trailing null-text row's start == len(hs);
                # reduceat needs in-range indices — null rows' garbage
                # segments are masked to NULL below anyway
                idx = np.minimum(np.asarray(starts), len(hs) - 1)
                seg = np.add.reduceat(bitmat, idx, axis=0)
            else:
                seg = np.zeros((len(texts), nbits), dtype=np.int64)
            nw = np.asarray(nwords, dtype=np.int64)
            # counter_j = 2*ones_j - n_words ; bit set iff >= 0
            setbits = (2 * seg.astype(np.int64) - nw[:, None]) >= 0
            sim = (setbits * weights[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash": pd.array(
                        [None if n < 0 else int(v) for n, v in zip(nw, sim)],
                        dtype="Int64",
                    ),
                }
            )

    return src.mapInPandas(kernel, out_schema)


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    shingle: int = 3,
) -> DataFrame:
    """Pairwise corpus-slice overlap report: for every pair of ``by``
    slices (a < b), the number of distinct word-``shingle``-grams they
    SHARE and the Jaccard similarity of their shingle sets — the
    "how much does crawl X repeat crawl Y" audit run before mixing
    corpora, the slice-level analogue of cross_contamination's per-doc
    report (and of divergence.py's distributional pairwise matrix, which
    compares frequency SHAPE where this compares set MEMBERSHIP).

    Scale shape: ONE distinct (slice, shingle) projection (map-side
    combinable — shuffle is distinct cardinality, not corpus size), a
    self-equi-join on the shingle, and a pair-grained count.  Each
    shingle contributes at most ``slices^2/2`` joined rows, so the join
    output is bounded by distinct-shingles x pairs — a pairwise matrix is
    inherently a FEW-slices operator (sources, crawls, dumps), never a
    per-document one; per-document overlap is cross_contamination /
    minhash LSH.  Jaccard denominators ride a tiny per-slice distinct
    count, AQE-broadcast on the join back.

    Output: (``{by}_a``, ``{by}_b``, n_shared, n_a, n_b, jaccard), only
    pairs with ``n_shared > 0``.
    """
    if shingle < 1:
        raise ValueError(f"shingle must be >= 1, got {shingle}")
    # r6 shape: ONE shuffle on the shingle key building each shingle's
    # slice-membership SET (collect_set partial-aggregates map-side, sets
    # are <= slice-count elements), then a map-side-combined count per
    # distinct membership set — a handful of rows for any realistic slice
    # count.  Every pairwise statistic falls out of those mask counts:
    # n_shared(a,b) = sum over masks containing both, n_a = sum over
    # masks containing a.  The previous form self-equi-joined the
    # (slice, shingle) table on the shingle — a second full shuffle of
    # both sides plus join build/probe over corpus-distinct rows, which
    # the r6 bench measured at 30 s at sf1.0 vs ~8 s for this form.
    sh = F.expr(f"array_distinct({_shingles_expr(text_col, shingle)})")
    s = (
        df.select(F.col(by), sh.alias("_sh"))
        .select(by, F.explode("_sh").alias("_shingle"))
    )
    memb = s.groupBy("_shingle").agg(
        F.sort_array(F.collect_set(by)).alias("_srcs")
    )
    # masks has two consumers (totals, pairs) — but do NOT materialize it:
    # both consumers run concurrently inside one job and AQE reuses the
    # identical membership-aggregation exchange, so the corpus pass is
    # already shared at runtime; an eager materialization only adds a
    # serial barrier (measured 1.2x LOSS in the r6 interleaved A/B:
    # 6.3 s ident vs 7.7 s materialized at sf1.0 scale)
    masks = memb.groupBy("_srcs").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    totals = (
        masks.select(F.explode("_srcs").alias(by), "_c")
        .groupBy(by)
        .agg(F.sum("_c").alias("_n"))
    )
    # all (a, b) with a < b from each sorted membership set (slice-count
    # sized arrays — this explode is over the tiny mask table)
    pairs_expr = (
        "flatten(transform(_srcs, (x, i) -> "
        "transform(slice(_srcs, i + 2, size(_srcs)), "
        f"y -> struct(x AS {by}_a, y AS {by}_b))))"
    )
    pairs = (
        masks.select(F.explode(F.expr(pairs_expr)).alias("_p"), "_c")
        .groupBy(F.col(f"_p.{by}_a").alias(f"{by}_a"),
                 F.col(f"_p.{by}_b").alias(f"{by}_b"))
        .agg(F.sum("_c").cast("long").alias("n_shared"))
    )
    ta = totals.select(F.col(by).alias(f"{by}_a"), F.col("_n").alias("n_a"))
    tb = totals.select(F.col(by).alias(f"{by}_b"), F.col("_n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), f"{by}_a")
        .join(F.broadcast(tb), f"{by}_b")
        .select(
            f"{by}_a",
            f"{by}_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def cross_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Train/eval contamination report: for every (train doc, eval doc)
    pair sharing at least ``min_overlap`` distinct word-``shingle``-grams,
    emit ``(train_doc, eval_doc, n_common)``.

    The decontamination step of an LLM data pipeline: evaluation-set
    n-grams leaking into training data inflate benchmark scores, so
    training corpora are swept against the benchmark before a run.

    Scale shape: both sides explode to distinct (id, shingle) rows and
    meet in ONE equi-join keyed on the shingle itself — at 100 TB the
    train side is huge but the eval side is a benchmark (thousands of
    docs), so AQE turns the join broadcast automatically; the output is
    bounded by actual contamination, and the groupBy pair-count is
    map-side combinable.  No corpus-x-corpus comparison ever happens.
    """
    sh = F.expr(f"array_distinct({_shingles_expr(text_col, shingle)})")
    t = (
        train.select(F.col(id_col).alias("train_doc"), sh.alias("sh"))
        .select("train_doc", F.explode("sh").alias("shingle"))
    )
    e = (
        eval_set.select(F.col(id_col).alias("eval_doc"), sh.alias("sh"))
        .select("eval_doc", F.explode("sh").alias("shingle"))
    )
    return (
        t.join(e, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_overlap)
    )


def window_spans(
    toks: DataFrame,
    window: int = 16,
    stride: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    hash: str = "md5",
) -> DataFrame:
    """One ``(<id_col>, start bigint, win_hash)`` row per aligned
    ``window``-token span — the shared derivation under ``duplicate_spans``
    (batch) and ``streaming/stream_spans`` (ingest twin).  The hashes are
    computed INSIDE one expression per document row so only (start, hash)
    pairs explode; the token array never replicates through the Generate.

    ``hash="md5"`` (default) stringifies each window ("1,2,3,...") and
    emits a 32-char hex key — DuckDB-portable, what the oracle replays.
    ``hash="xxhash64"`` hashes the token SLICE directly to ONE 8-byte
    bigint: no per-window string build, no hex materialization — the same
    bytes-over-the-bus reduction that took the dedup scaling workload from
    ~0.55 to >=0.8 (BENCH/BASELINE.md run AC); detection semantics are
    identical up to 64-bit collisions (~n²/2^65), pytest-pinned equal on
    the planted fixture."""
    if window <= 0 or stride <= 0:
        raise ValueError(f"window and stride must be positive, got {window}, {stride}")
    t = tokens_col
    if hash == "md5":
        h = (
            f"md5(concat_ws(',', transform(slice({t}, s + 1, {window}), "
            f"x -> CAST(x AS STRING))))"
        )
    elif hash == "xxhash64":
        h = f"xxhash64(slice({t}, s + 1, {window}))"
    else:
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")
    pairs = F.expr(
        f"transform(sequence(0, size({t}) - {window}, {stride}), s -> "
        f"struct(CAST(s AS BIGINT) AS start, "
        f"{h} AS win_hash))"
    )
    return (
        toks.where(F.col(t).isNotNull() & (F.size(t) >= window))
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(
            id_col, F.col("p.start").alias("start"), F.col("p.win_hash").alias("win_hash")
        )
    )


def duplicate_spans(
    toks: DataFrame,
    window: int = 16,
    stride: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_count: int = 2,
    hash: str = "md5",
    form: str = "window",
) -> DataFrame:
    """Exact duplicated token-window detection (substring-level dedup).

    Doc-level dedup (MinHash/SimHash above) misses the dominant failure
    mode of web corpora: the SAME boilerplate span (license headers,
    navigation chrome, templated paragraphs) embedded in otherwise-unique
    documents.  The standard remedy (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499) is
    substring-level: find every ``window``-token span whose exact content
    occurs ``min_count``+ times anywhere in the corpus (within OR across
    documents), so callers can cut or down-weight those spans.

    Returns one row per duplicated aligned span:
    ``(<id_col>, start bigint, win_hash string, n_dup bigint)`` where
    ``start`` is the 0-based token offset (a multiple of ``stride``) and
    ``n_dup`` the window's total occurrence count.  Detection is
    stride-ALIGNED: two occurrences match when their contents agree at
    offsets congruent mod ``stride`` — the standard recall/cost dial
    (stride=1 = full suffix-style recall at window x cost; stride=window
    = disjoint blocks).

    Scale shape: the window hashes are computed INSIDE one expression per
    document row and only ``(start, hash)`` pairs are exploded — the token
    array itself is never replicated per span row (at 5k tokens/doc a
    naive explode-then-slice would carry ~n/stride copies of the array
    through the Generate).  Two physical forms, both shuffling only span
    rows (never tokens):

    * ``form="window"`` — ONE ``COUNT(*) OVER (PARTITION BY win_hash)``:
      derives each hash once, per-hash state bounded by duplicate
      multiplicity; pays a hash-keyed exchange PLUS A FULL SORT of every
      span row (WindowExec sorts its partition input).  With ``md5`` this
      form won its A/B 1.8x (BENCH/ab_dup_spans_form.json): string-build +
      md5 dominates, and the join form below derives it twice.
    * ``form="join"`` — count-only hash AGGREGATION on the hash (codegen
      hash-agg, no sort), filter to the >= min_count survivors (on real
      corpora a sliver of all windows), join back to a re-derived span
      side.  MEASURED AND REJECTED under xxhash64 too
      (BENCH/ab_spans_join_xx.json, randomized order, both ladder levels):
      1.9x slower at 2 cores, 1.6x at 8 — cheap hashing does NOT rescue
      it, because the doubled cost is the Generate/struct explode of every
      span row, not the hash itself.  Kept for the record and for engines
      where the probe side is a materialized table (no re-derivation).

    The window form's sort-exchange is the spans scaling ladder's measured
    wall (0.41 at 2->8 cores in a calm-confirmed window,
    BENCH/scaling_runAI.json) — but it is also the cheaper plan at BOTH
    core counts, so the floor is the host's serialized sort bandwidth, not
    a fixable plan defect.  At 100 TB both forms are the published shape:
    shuffle proportional to window count, never tokens.
    """
    from pyspark.sql import Window as W

    spans = window_spans(
        toks, window=window, stride=stride, id_col=id_col,
        tokens_col=tokens_col, hash=hash
    )
    if form == "window":
        return spans.withColumn(
            "n_dup", F.count("*").over(W.partitionBy("win_hash"))
        ).where(F.col("n_dup") >= min_count)
    if form == "join":
        counts = (
            spans.groupBy("win_hash")
            .agg(F.count("*").alias("n_dup"))
            .where(F.col("n_dup") >= min_count)
        )
        return spans.join(counts, "win_hash").select(
            id_col, "start", "win_hash", "n_dup"
        )
    raise ValueError(f"form must be 'window' or 'join', got {form!r}")


def merge_duplicate_spans(
    spans: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse ``duplicate_spans`` hits into maximal per-document cut
    ranges: overlapping or touching ``[start, start+window)`` intervals
    merge into one ``(<id_col>, span_start, span_end, n_windows)`` row —
    the ranges a curation pass actually removes or down-weights (cutting
    per-window would shred documents at every stride boundary).

    Classic interval merge as ONE window pass per document: a window
    opens a new range iff its start lies past the running maximum end of
    all earlier windows (lag of a running max — no self-join, no explode).
    State per task is one row; the shuffle key is the document, so at
    corpus scale this is a single exchange over the (already small)
    duplicated-span subset.
    """
    from pyspark.sql import Window as W

    w_ord = W.partitionBy(id_col).orderBy("start")
    marked = (
        spans.select(id_col, "start")
        .withColumn("_end", F.col("start") + F.lit(int(window)))
        .withColumn(
            "_prev_max_end",
            F.max("_end").over(w_ord.rowsBetween(W.unboundedPreceding, -1)),
        )
        .withColumn(
            "_new",
            (F.col("_prev_max_end").isNull() | (F.col("start") > F.col("_prev_max_end"))).cast("int"),
        )
        .withColumn("_grp", F.sum("_new").over(w_ord))
    )
    return (
        marked.groupBy(id_col, "_grp")
        .agg(
            F.min("start").alias("span_start"),
            F.max("_end").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair list, as alternating
    large-star / small-star rounds (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond") — the published O(log^2 n)-round
    shape for trillion-edge graphs, here in pure DataFrame ops.

    Input: one row per undirected edge (``id_a``, ``id_b``); ids may be
    any orderable type (string doc ids included — ``least``/``min`` order
    lexicographically).  Output: one ``(node, component)`` row per
    NON-ROOT member, where ``component`` is the minimum id of the node's
    component; the root (the minimum itself) does not appear as a node.
    Callers wanting total assignments coalesce (see
    :func:`neardup_clusters`).

    Scale shape: each half-round is one hash exchange keyed by node (a
    window min + a projection — no collect_list, so a hub node never
    materializes its neighbor array in one task; skewed hubs are handled
    by AQE like any other hot key).  Edges stay oriented (hi -> lo)
    throughout, so state never exceeds the live edge set, which only
    shrinks toward the star graph.  Convergence is checked with a
    count+hash-sum checksum (one cheap aggregate per round, collision
    odds ~2^-64) and each round is ``localCheckpoint``-ed to truncate the
    iterative lineage — on a real cluster point ``spark.sparkContext
    .setCheckpointDir`` at durable storage and swap in ``checkpoint``.
    """
    from pyspark.sql import Window as W

    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .dropna()
        .distinct()
    )

    def _checksum(e: DataFrame):
        # bit_xor, not sum: order-insensitive, never overflows under ANSI
        # mode, and the edge set is distinct so xor-cancellation of equal
        # rows cannot occur.
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(edges)
    for _ in range(max_iter):
        # large-star: every neighbor v > u links to m = min(N(u) + {u}).
        sym = edges.union(edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo")))
        w_u = W.partitionBy("hi")
        ls = (
            sym.withColumn("m", F.least(F.min("lo").over(w_u), F.col("hi")))
            .where(F.col("lo") > F.col("hi"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: every down-neighbor (and u itself) links to min(N<(u)).
        w_h = W.partitionBy("hi")
        mm = ls.withColumn("m", F.min("lo").over(w_h))
        ss = (
            mm.select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(mm.select("hi", F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        edges = ss.localCheckpoint(eager=True)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    return edges.select(F.col("hi").alias("node"), F.col("lo").alias("component"))


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Total cluster assignment for a corpus given near-dup pairs: one row
    per document, ``(<id_col>, cluster_id, keep)`` where ``cluster_id`` is
    the minimum doc id of the document's connected component (itself when
    it has no near-dup) and ``keep`` marks the canonical representative —
    the last stage of a dedup pipeline (pairs -> clusters -> keep one).

    Scale shape: the component map holds one row per non-root MEMBER of a
    duplicate cluster — proportional to the duplicated subset, not the
    corpus — joined to the corpus on the id (AQE broadcasts it when the
    duplicate set is small; at web scale it is a plain shuffle join on
    the id key).
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    return (
        df.select(id_col)
        .join(cc, on=F.col(id_col) == F.col("node"), how="left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
            (F.col("node").isNull()).alias("keep"),
        )
    )


def cuttable_duplicate_spans(
    spans: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep-first cut policy over :func:`duplicate_spans` hits: the
    globally-first occurrence of each duplicated window (ordered by
    (doc id, start)) is the canonical copy the corpus RETAINS; every other
    occurrence becomes cuttable.  Without this, cutting "all duplicated
    spans" deletes every copy of a boilerplate block — including the one
    you wanted to keep (Lee et al. 2022 keep one occurrence).

    One ``row_number`` window over ``win_hash`` — the same hash-keyed
    exchange (and the same bounded per-hash state) as the duplicate count
    itself.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("win_hash").orderBy(id_col, "start")
    return (
        spans.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") > 1)
        .drop("_rk")
    )


def apply_span_cuts(
    toks: DataFrame,
    cuts: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Apply per-document cut ranges to the token arrays: every token whose
    0-based position falls in any ``[span_start, span_end)`` range is
    removed, preserving the order of survivors — the token-array surgery
    step that turns span detection into a cleaned corpus.

    Output: ``(<id_col>, tokens_clean, n_tok_clean bigint, n_cut bigint)``
    — one row per INPUT document (docs with no cuts pass through with
    ``n_cut = 0``; NULL token arrays stay NULL).

    Scale shape: cut ranges aggregate to ONE array per affected document
    (bounded by that doc's merged-range count, never corpus size), meet
    the corpus in a single equi-join on the id — AQE broadcasts the cut
    side when the duplicated subset is small — and the removal itself is
    one JVM ``filter``-with-index lambda per row: no explode of the token
    array, no Python in the plan.
    """
    t = tokens_col
    ranges = cuts.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_cuts")
    )
    cleaned = F.expr(
        f"CASE WHEN {t} IS NULL THEN NULL "
        f"WHEN _cuts IS NULL THEN {t} "
        f"ELSE filter({t}, (x, i) -> NOT exists(_cuts, c -> i >= c.s AND i < c.e)) "
        f"END"
    )
    return (
        toks.join(ranges, on=id_col, how="left")
        .withColumn("_clean", cleaned)
        .select(
            id_col,
            F.col("_clean").alias("tokens_clean"),
            F.size("_clean").cast("long").alias("n_tok_clean"),
            (F.size(t) - F.size("_clean")).cast("long").alias("n_cut"),
        )
    )


def lsh_recall_report(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    hash: str = "md5",
) -> dict:
    """Measured recall of banded-LSH candidates against EXACT truth.

    Truth = all pairs with exact shingle-Jaccard >= ``threshold``
    (O(n²) — a DIAGNOSTIC for a sample or fixture, never the corpus);
    LSH = :func:`minhash_signatures` -> :func:`lsh_candidate_pairs` with
    the same (k, bands, rows).  Because the pipeline's verification stage
    is exact Jaccard, candidate recall IS pipeline recall, and precision
    is uninteresting (false candidates are filtered exactly); what LSH can
    lose is only the true pairs that never become candidates — this
    measures exactly that, the ANN-recall closure's dedup twin.

    Theory cross-check: P(candidate | J=s) = 1 - (1 - s^rows)^bands; at
    the (4,4) default and s=0.8 that is ~0.87, rising steeply with s.
    Returns {"true_pairs", "lsh_true_candidates", "recall",
    "candidate_pairs"}.
    """
    ids = df.select(id_col)
    a = ids.select(F.col(id_col).alias("id_a"))
    b = ids.select(F.col(id_col).alias("id_b"))
    all_pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    truth = jaccard_pairs(
        df, all_pairs, text_col=text_col, id_col=id_col, shingle=shingle,
        threshold=threshold, hash=None,
    ).select("id_a", "id_b")
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, k=k, shingle=shingle, hash=hash
    )
    cand = lsh_candidate_pairs(sigs, id_col=id_col, bands=bands, rows=rows, hash=hash)
    n_truth = truth.count()
    n_cand = cand.count()
    n_hit = truth.join(cand, ["id_a", "id_b"], "left_semi").count()
    return {
        "true_pairs": n_truth,
        "lsh_true_candidates": n_hit,
        "recall": (n_hit / n_truth) if n_truth else None,
        "candidate_pairs": n_cand,
        "config": {"threshold": threshold, "k": k, "bands": bands,
                   "rows": rows, "shingle": shingle, "hash": hash},
    }
