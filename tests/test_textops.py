"""Text analysis, dedup, similarity, and multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.operators.dedup import (
    dedup_exact,
    duplicate_spans,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from tsdownsample_spark.operators.multimodal import (
    byte_histogram,
    decode_media,
    frame_sample,
    synth_media,
)
from tsdownsample_spark.operators.similarity import cosine_topk, lsh_ann_topk
from tsdownsample_spark.operators.text import doc_fingerprint, lang_id, text_features


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeds(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


class TestText:
    def test_features(self, spark, docs):
        out = text_features(docs).collect()
        for r in out:
            assert r.n_words >= 1
            assert r.token_count >= r.n_words  # every word >= 1 token
            assert 0 <= r.punct_ratio <= 1
            assert 0 <= r.quality_score <= 1
        # deterministic: same doc -> same score
        a = {r.doc_id: r.quality_score for r in out}
        b = {r.doc_id: r.quality_score for r in text_features(docs).collect()}
        assert a == b

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog sat on the mat of the house"),
                (2, "der Hund und die Katze und der Vogel"),
                (3, "le chat et le chien et les oiseaux"),
                (4, "el perro y el gato y los pajaros"),
                (5, "zzz qqq"),
            ],
            "doc_id int, text string",
        )
        got = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
        assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}

    def test_fingerprints(self, spark, docs):
        out = doc_fingerprint(docs)
        rows = out.collect()
        assert all(len(r.fp_exact) == 16 and len(r.fp_shingle) == 16 for r in rows)
        # identical text -> identical fingerprints
        dup = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
            "doc_id int, text string",
        )
        fr = {r.doc_id: (r.fp_exact, r.fp_shingle) for r in doc_fingerprint(dup).collect()}
        assert fr[1] == fr[2] != fr[3]


class TestDedup:
    def test_exact(self, spark):
        df = spark.createDataFrame(
            [("a", "same text"), ("b", "same text"), ("c", "other")],
            "doc_id string, text string",
        )
        got = {r.doc_id: (r.keep, r.group_size) for r in dedup_exact(df).collect()}
        assert got == {"a": (True, 2), "b": (False, 2), "c": (True, 1)}

    def test_minhash_lsh_finds_near_dups(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("lazy", "sleepy")
        far = "completely different words nothing shared at all here whatsoever truly"
        df = spark.createDataFrame(
            [("a", base), ("b", near), ("c", far)], "doc_id string, text string"
        )
        sig = minhash_signatures(df, k=16)
        assert sig.count() == 3
        pairs = lsh_candidate_pairs(sig, bands=4, rows=4)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert ("a", "b") in got
        assert ("a", "c") not in got and ("b", "c") not in got
        j = jaccard_pairs(df, pairs).collect()
        jac = {(r.id_a, r.id_b): r.jaccard for r in j}
        assert jac[("a", "b")] > 0.5

    def test_simhash_near_equal(self, spark):
        df = spark.createDataFrame(
            [
                ("a", "alpha beta gamma delta epsilon zeta eta theta"),
                ("b", "alpha beta gamma delta epsilon zeta eta iota"),
                ("c", "one two three four five six seven eight"),
            ],
            "doc_id string, text string",
        )
        got = {r.doc_id: r.simhash for r in simhash(df).collect()}
        ham_ab = bin(got["a"] ^ got["b"]).count("1")
        ham_ac = bin(got["a"] ^ got["c"]).count("1")
        assert ham_ab < ham_ac

    def test_lsh_on_real_docs(self, spark, docs):
        sig = minhash_signatures(docs.withColumn("doc_id", F.col("doc_id").cast("string")))
        pairs = lsh_candidate_pairs(sig)
        assert pairs.count() >= 0  # plumbing holds on real table

    def test_xxhash64_pipeline_semantics(self, spark):
        """The xxhash64 scale path (operators/dedup.py:_h32_expr) is a
        different base-hash family but the SAME algorithm: near-dups still
        collide in a band, far docs don't, and the verified Jaccard value
        is hash-INDEPENDENT (equal to the md5 path's, since the hashed
        shingle sets are isomorphic to the string sets up to 64-bit
        collisions)."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("lazy", "sleepy")
        far = "completely different words nothing shared at all here whatsoever truly"
        df = spark.createDataFrame(
            [("a", base), ("b", near), ("c", far)], "doc_id string, text string"
        )
        sig = minhash_signatures(df, k=16, hash="xxhash64")
        pairs = lsh_candidate_pairs(sig, bands=4, rows=4, hash="xxhash64")
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert ("a", "b") in got
        assert ("a", "c") not in got and ("b", "c") not in got
        # band keys are native 8-byte bigints, not 32-char hex strings
        from tsdownsample_spark.operators.dedup import banded_signatures

        band_schema = dict(banded_signatures(sig, hash="xxhash64").dtypes)
        assert band_schema["band_hash"] == "bigint"
        j_fast = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(df, pairs, hash="xxhash64").collect()
        }
        j_md5 = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(df, pairs).collect()
        }
        assert j_fast == j_md5 and j_fast[("a", "b")] > 0.5

    def test_simhash_xxhash64_same_shape(self, spark):
        df = spark.createDataFrame(
            [
                ("a", "alpha beta gamma delta epsilon zeta eta theta"),
                ("b", "alpha beta gamma delta epsilon zeta eta iota"),
                ("c", "one two three four five six seven eight"),
            ],
            "doc_id string, text string",
        )
        got = {r.doc_id: r.simhash for r in simhash(df, hash="xxhash64").collect()}
        ham_ab = bin(got["a"] ^ got["b"]).count("1")
        ham_ac = bin(got["a"] ^ got["c"]).count("1")
        assert ham_ab < ham_ac
        assert all(0 <= v < (1 << 32) for v in got.values())


class TestSimilarity:
    def test_brute_force_topk_matches_numpy(self, spark, embeds):
        probes = embeds.filter(F.col("vec_id") < 3)
        got = cosine_topk(embeds, probes, k=5).collect()
        pdf = embeds.toPandas()
        mat = np.stack(pdf.embedding.map(np.asarray))
        ids = pdf.vec_id.to_numpy()
        mat64 = mat.astype(np.float64)
        norms = np.sqrt((mat64 * mat64).sum(1))
        for pid in range(3):
            pi = np.where(ids == pid)[0][0]
            cos = (mat64 @ mat64[pi]) / (norms * norms[pi])
            order = sorted(
                [(round(c, 6), i) for c, i in zip(cos, ids) if i != pid],
                key=lambda t: (-t[0], t[1]),
            )[:5]
            mine = sorted(
                [(r.cos_r, r.neighbor_id) for r in got if r.probe_id == pid],
            )
            assert sorted([(c, i) for c, i in order]) == mine

    def test_lsh_ann_subset_of_bucket(self, spark, embeds):
        probes = embeds.filter(F.col("vec_id") < 4)
        out = lsh_ann_topk(embeds, probes, k=5, n_planes=4)
        rows = out.collect()
        assert len(rows) > 0
        # every probe's neighbors share its bucket by construction
        assert all(r.rank <= 5 for r in rows)

    def test_lsh_recall_vs_brute_force(self, spark, embeds):
        probes = embeds.filter(F.col("vec_id") < 8)
        exact = cosine_topk(embeds, probes, k=3).collect()
        approx = lsh_ann_topk(embeds, probes, k=3, n_planes=2).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r.probe_id, set()).add(r.neighbor_id)
        hit = tot = 0
        for r in approx:
            tot += 1
            hit += r.neighbor_id in exact_sets.get(r.probe_id, set())
        # 2 planes = 4 buckets -> decent recall on random data
        assert tot > 0 and hit / tot > 0.2

    def test_multiprobe_expands_candidates_monotonically(self, spark, embeds):
        """nprobe buckets are distinct and include the base bucket, so the
        candidate set — and hence the achievable recall — can only grow."""
        from tsdownsample_spark.operators.similarity import (
            ivf_ann_topk,
            recall_at_k,
        )

        probes = embeds.filter(F.col("vec_id") < 16)
        exact = cosine_topk(embeds, probes, k=10).cache()
        prev = -1.0
        for np_ in (1, 3, 5):
            ap = lsh_ann_topk(embeds, probes, k=10, n_planes=4, nprobe=np_)
            r = recall_at_k(exact, ap).agg(F.avg("recall")).collect()[0][0]
            assert r >= prev - 1e-9
            prev = r
        prev = -1.0
        for np_ in (1, 2, 4):
            ap = ivf_ann_topk(embeds, probes, k=10, n_cells=8, nprobe=np_)
            r = recall_at_k(exact, ap).agg(F.avg("recall")).collect()[0][0]
            assert r >= prev - 1e-9
            prev = r
        exact.unpersist()

    def test_nprobe_full_scan_is_exact(self, spark, embeds):
        """Probing ALL cells/buckets must reproduce exact brute-force top-k:
        the approximation comes only from pruning, never from scoring."""
        from tsdownsample_spark.operators.similarity import (
            ivf_ann_topk,
            recall_at_k,
        )

        probes = embeds.filter(F.col("vec_id") < 8)
        exact = cosine_topk(embeds, probes, k=5).cache()
        full_ivf = ivf_ann_topk(embeds, probes, k=5, n_cells=4, nprobe=4)
        r = recall_at_k(exact, full_ivf).agg(F.min("recall")).collect()[0][0]
        assert r == 1.0
        exact.unpersist()

    def test_ann_recall_report_floors(self, spark, embeds):
        """The measured accuracy contract (VERDICT r4 task 6): recall@10 on
        the embeddings fixture, nprobe=1 documented as-is, multiprobe must
        clear a stated floor.  Floors are set ~15pts under the measured
        values (lsh: 1->~.28 3->~.55 5->~.70; ivf: 1->~.35 2->~.55 4->~.80
        on sf0.001's 500 random vectors) so a real regression trips them
        but seed-level jitter does not."""
        from tsdownsample_spark.operators.similarity import ann_recall_report

        probes = embeds.filter(F.col("vec_id") < 24)
        rep = ann_recall_report(embeds, probes, k=10)
        assert rep["lsh_nprobe=5"] >= rep["lsh_nprobe=1"]
        assert rep["ivf_nprobe=4"] >= rep["ivf_nprobe=1"]
        assert rep["lsh_nprobe=5"] >= 0.4
        assert rep["ivf_nprobe=4"] >= 0.5
        assert all(0.0 <= v <= 1.0 for v in rep.values())

    def test_ivf_trained_centroids_beat_random_on_clustered_data(self, spark):
        """On CLUSTERED embeddings (the real-corpus shape — the parquet
        fixture is isotropic random, where recall ~ fraction scanned is the
        information floor), k-means-trained cells concentrate each probe's
        true neighbors into its own cell: trained nprobe=1 recall must be
        near-exact (measured 0.9625 vs 0.8625 random on this fixture)."""
        from tsdownsample_spark.operators.similarity import (
            ivf_ann_topk,
            ivf_train_centroids,
            recall_at_k,
        )

        rng = np.random.default_rng(42)
        dim, n_clusters, per = 16, 8, 50
        centers = rng.standard_normal((n_clusters, dim)) * 4
        rows = []
        vid = 0
        for c in range(n_clusters):
            pts = centers[c] + rng.standard_normal((per, dim))
            for p in pts:
                rows.append((vid, [float(v) for v in p]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()
        probes = df.filter(F.col("vec_id") % 50 == 0)  # one per cluster
        exact = cosine_topk(df, probes, k=10, vec_col="embedding").cache()

        trained = ivf_train_centroids(df, n_cells=8, dim=dim, iters=4)
        r_trained = (
            recall_at_k(
                exact,
                ivf_ann_topk(df, probes, k=10, n_cells=8, dim=dim, centroids=trained),
            )
            .agg(F.avg("recall"))
            .collect()[0][0]
        )
        r_random = (
            recall_at_k(
                exact, ivf_ann_topk(df, probes, k=10, n_cells=8, dim=dim)
            )
            .agg(F.avg("recall"))
            .collect()[0][0]
        )
        assert r_trained >= 0.9, (r_trained, r_random)
        assert r_trained > r_random, (r_trained, r_random)
        # the trained model is tiny and serializable — the 100 TB contract
        assert len(trained) == 8 and all(len(c) == dim for c in trained)
        exact.unpersist()
        df.unpersist()


class TestMultimodal:
    def test_decode_and_features(self, spark):
        media = synth_media(spark, n=32, seed=1)
        dec = decode_media(media)
        rows = dec.collect()
        assert all(r.n_bytes == r.width * r.height * r.channels for r in rows)
        feats = byte_histogram(media, bins=16).collect()
        for r in feats:
            v = np.asarray(r.features)
            assert len(v) == 16
            assert abs(v.sum() - 1.0) < 1e-9

    def test_frame_sample(self, spark):
        media = synth_media(spark, n=16, seed=2)
        out = frame_sample(media, n_frames=4).collect()
        for r in out:
            assert 1 <= len(r.frames) <= 4

    def test_resize_roundtrip(self, spark):
        """Resized payloads re-decode with the new dims; pixel values are the
        exact nearest-neighbor gather of the source payload."""
        import numpy as np
        import struct as _struct

        from tsdownsample_spark.operators.multimodal import (
            decode_media,
            media_params,
            resize_media,
            synth_media,
        )

        media = synth_media(spark, n=12, seed=5)
        out = resize_media(media, out_w=16, out_h=12)
        dec = decode_media(
            out.select("media_id", "kind", out.data_resized.alias("data"))
        )
        rows = {r["media_id"]: r for r in dec.collect()}
        params = {mid: (k, w, h, c, p) for mid, k, w, h, c, p in media_params(12, 5)}
        for mid, r in rows.items():
            k, w, h, c, payload = params[mid]
            assert (r["width"], r["height"], r["channels"]) == (16, 12, c)
            pix = np.frombuffer(payload, dtype=np.uint8)[: w * h * c].reshape(h, w, c)
            yi = np.minimum(((np.arange(12) + 0.5) * h / 12).astype(int), h - 1)
            xi = np.minimum(((np.arange(16) + 0.5) * w / 16).astype(int), w - 1)
            exp = pix[yi][:, xi].tobytes()
            assert bytes(r["data"])[14:] == exp


def test_curate_documents_all_gates_and_priority(spark):
    """Every gate fires on crafted docs, and priority is duplicate >
    language > too_short > low_quality (first failing wins)."""
    from tsdownsample_spark.operators.curate import curate_documents

    good = ("the project and the team worked through the plan of the day "
            "and shipped the build to the users in the morning")
    docs = [
        ("d1", good),                                  # ok
        ("d2", good),                                  # duplicate of d1
        ("d3", "der und die der und die der und die der und die der und die"),  # language
        ("d4", "the cat sat"),                         # too_short (3 words)
        # English (one 'the') but punctuation-heavy, stopword-poor, short:
        # quality ~0.42 < 0.45 while the language gate still reads 'en'
        ("d5", "the x1; x2; x3; x4; x5; x6; x7; x8; x9; x10; x11;"),
        # duplicate AND foreign: duplicate wins (priority)
        ("d6", "der und die der und die der und die der und die der und die"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           curate_documents(df, min_quality=0.45, langs=("en",), min_words=8).collect()}
    assert out["d1"]["reason"] == "ok" and out["d1"]["keep"] is True
    assert out["d2"]["reason"] == "duplicate" and out["d2"]["keep"] is False
    assert out["d3"]["reason"] == "language"
    assert out["d4"]["reason"] == "too_short"
    assert out["d5"]["reason"] == "low_quality"
    # d3 < d6 lexicographically, so d6 is the non-keeper of the dup group
    # AND foreign — duplicate outranks language
    assert out["d6"]["reason"] == "duplicate"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="langs"):
        curate_documents(df, langs=())
    # a bare string would explode into per-character codes -> loud error
    with _pytest.raises(ValueError, match="sequence"):
        curate_documents(df, langs="en")
    # NULL-text docs report no_text, not a bogus shared-md5(NULL) duplicate
    nulls = spark.createDataFrame(
        [("n1", None), ("n2", None), ("n3", good)], "doc_id string, text string"
    )
    outn = {r["doc_id"]: r for r in curate_documents(nulls).collect()}
    assert outn["n1"]["reason"] == "no_text" and outn["n1"]["keep"] is False
    assert outn["n2"]["reason"] == "no_text"
    assert outn["n3"]["reason"] == "ok"


def test_scrub_pii_counts_order_and_placeholders(spark):
    from tsdownsample_spark.operators.text import scrub_pii

    rows = [
        # every kind once; SSN must win over phone for xxx-xx-xxxx
        ("p1", "mail a.b+c@ex-ample.co.uk ssn 123-45-6789 "
               "call 555.123.4567 host 10.0.0.255 end"),
        ("p2", "no pii here at all"),
        ("p3", None),
        # two emails, dotted-quad INSIDE an email is consumed by the email
        # pass first (redaction order), so n_ipv4 stays 0
        ("p4", "x@1.2.3.4.example.com then y@z.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    p1 = out["p1"]
    assert (p1.n_email, p1.n_ssn, p1.n_phone, p1.n_ipv4) == (1, 1, 1, 1)
    assert p1.text == ("mail <EMAIL> ssn <SSN> call <PHONE> host <IP> end")
    p2 = out["p2"]
    assert (p2.n_email, p2.n_ssn, p2.n_phone, p2.n_ipv4) == (0, 0, 0, 0)
    assert p2.text == "no pii here at all"
    assert out["p3"].text is None  # NULL propagates, no crash
    p4 = out["p4"]
    assert (p4.n_email, p4.n_ipv4) == (2, 0)
    assert p4.text == "<EMAIL> then <EMAIL>"
    # other columns survive; out_col keeps the original
    kept = scrub_pii(df, out_col="clean").collect()[0]
    assert set(kept.asDict()) == {
        "doc_id", "text", "clean", "n_email", "n_ssn", "n_phone", "n_ipv4"
    }
    with pytest.raises(ValueError, match="n_email"):
        scrub_pii(df.withColumn("n_email", F.lit(1)))


def test_repetition_stats(spark):
    from tsdownsample_spark.operators.text import repetition_stats

    rows = [
        # 6 words, 3 distinct; bigrams: 5 total ('a b','b a','a b','b c',
        # 'c c') -> 4 distinct; trigrams: 4 total, 4 distinct; top word a/b=2
        ("r1", "a b a b c c"),
        ("r2", "x x x x"),           # all same: dup=0.75, top=1.0
        ("r3", "u v w"),             # all distinct; <3+1 words: one 3-gram
        ("r4", "solo"),              # 1 word: every ratio 0, top=1
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    r1 = out["r1"]
    assert r1.n_words == 6
    assert r1.dup_word_ratio == pytest.approx(1 - 3 / 6, abs=1e-6)
    assert r1.dup_2gram_ratio == pytest.approx(1 - 4 / 5, abs=1e-6)
    assert r1.dup_3gram_ratio == 0.0
    assert r1.top_word_ratio == pytest.approx(2 / 6, abs=1e-6)
    r2 = out["r2"]
    assert r2.dup_word_ratio == 0.75 and r2.top_word_ratio == 1.0
    assert r2.dup_2gram_ratio == pytest.approx(1 - 1 / 3, abs=1e-6)
    r3 = out["r3"]
    assert (r3.dup_word_ratio, r3.dup_3gram_ratio) == (0.0, 0.0)
    r4 = out["r4"]
    assert r4.n_words == 1 and r4.top_word_ratio == 1.0
    assert (r4.dup_word_ratio, r4.dup_2gram_ratio, r4.dup_3gram_ratio) == (
        0.0, 0.0, 0.0)


def test_repetition_stats_no_shuffle(spark):
    from tsdownsample_spark.operators.text import repetition_stats

    df = spark.createDataFrame([("d", "a b c")], "doc_id string, text string")
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map, zero shuffle


class TestDuplicateSpans:
    """Substring-level dedup: aligned window hashing + global count
    (operators/dedup.duplicate_spans; oracle twin = q_dup_spans)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def test_cross_doc_boilerplate_detected_uniques_silent(self, spark):
        boiler = list(range(1000, 1032))  # 32 tokens = 3 aligned 16-windows
        rows = [
            ("a", boiler + [1, 2, 3, 4, 5, 6, 7, 8]),
            ("b", [9, 9, 9, 9, 9, 8, 8, 8] + boiler),  # 8-aligned offset
            ("u1", list(range(1, 60))),  # unique
            ("u2", list(range(500, 580))),  # unique
        ]
        out = duplicate_spans(self._df(spark, rows), window=16, stride=8).collect()
        docs = {r.doc_id for r in out}
        assert docs == {"a", "b"}
        # windows at content offsets 0/8/16 of the boilerplate, each seen
        # once per doc -> n_dup == 2, starts shifted by the 8-token prefix
        a = sorted(r.start for r in out if r.doc_id == "a")
        b = sorted(r.start for r in out if r.doc_id == "b")
        assert a == [0, 8, 16] and b == [8, 16, 24]
        assert all(r.n_dup == 2 for r in out)

    def test_intra_doc_repeat_detected(self, spark):
        chunk = list(range(70, 86))  # exactly one window
        rows = [("solo", chunk + [1, 2, 3, 4, 5, 6, 7, 8] + chunk)]
        out = duplicate_spans(self._df(spark, rows), window=16, stride=8).collect()
        assert sorted(r.start for r in out) == [0, 24]
        assert all(r.n_dup == 2 for r in out)

    def test_unaligned_duplicate_not_detected(self, spark):
        # the same 16 tokens at offsets 0 and 3: stride-8 alignment means
        # the windows sample DIFFERENT content offsets -> no match (the
        # documented recall/cost dial; stride=1 recovers it)
        chunk = list(range(70, 86))
        rows = [("a", chunk + [1, 2]), ("b", [5, 5, 5] + chunk + [1])]
        assert duplicate_spans(self._df(spark, rows), window=16, stride=8).count() == 0
        assert (
            duplicate_spans(self._df(spark, rows), window=16, stride=1).count() > 0
        )

    def test_null_and_short_rows_skipped(self, spark):
        rows = [("n", None), ("s", [1, 2, 3]), ("t", list(range(16)))]
        assert duplicate_spans(self._df(spark, rows), window=16, stride=8).count() == 0

    def test_min_count_threshold(self, spark):
        w = list(range(16))
        rows = [("a", w), ("b", w), ("c", w)]
        df = self._df(spark, rows)
        assert duplicate_spans(df, window=16, stride=8, min_count=3).count() == 3
        assert duplicate_spans(df, window=16, stride=8, min_count=4).count() == 0

    def test_plan_is_python_free(self, spark):
        df = self._df(spark, [("a", list(range(32)))])
        plan = (
            duplicate_spans(df).  # noqa: B950
            _jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestMergeDuplicateSpans:
    def _spans(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, start long")

    def test_overlapping_and_touching_merge(self, spark):
        from tsdownsample_spark.operators.dedup import merge_duplicate_spans

        # [0,16)+[8,24) overlap; [24,40) touches 24 -> one [0,40) range;
        # [56,72) is disjoint
        spans = self._spans(spark, [("a", 0), ("a", 8), ("a", 24), ("a", 56)])
        got = sorted(
            (r.span_start, r.span_end, r.n_windows)
            for r in merge_duplicate_spans(spans, window=16).collect()
        )
        assert got == [(0, 40, 3), (56, 72, 1)]

    def test_contained_window_does_not_split(self, spark):
        from tsdownsample_spark.operators.dedup import merge_duplicate_spans

        # wide coverage via many starts: [0,16),[8,24),[16,32) then a gap
        # window whose start equals a PREVIOUS end but not the running max
        spans = self._spans(spark, [("a", 0), ("a", 8), ("a", 16), ("a", 48)])
        got = sorted(
            (r.span_start, r.span_end) for r in
            merge_duplicate_spans(spans, window=16).collect()
        )
        assert got == [(0, 32), (48, 64)]

    def test_per_doc_independence(self, spark):
        from tsdownsample_spark.operators.dedup import merge_duplicate_spans

        spans = self._spans(spark, [("a", 0), ("b", 8)])
        got = {(r.doc_id, r.span_start, r.span_end)
               for r in merge_duplicate_spans(spans, window=16).collect()}
        assert got == {("a", 0, 16), ("b", 8, 24)}

    def test_composes_with_duplicate_spans(self, spark):
        from tsdownsample_spark.operators.dedup import (
            duplicate_spans,
            merge_duplicate_spans,
        )

        boiler = list(range(1000, 1048))  # 48 tokens
        df = spark.createDataFrame(
            [("a", boiler + [1, 2, 3, 4, 5, 6, 7, 8]),
             ("b", [7, 7, 7, 7, 7, 7, 7, 7] + boiler)],
            "doc_id string, tokens array<int>",
        )
        out = merge_duplicate_spans(duplicate_spans(df, window=16, stride=8), window=16)
        got = {(r.doc_id, r.span_start, r.span_end, r.n_windows) for r in out.collect()}
        # aligned windows at content offsets 0/8/16/24/32 of the 48-token
        # block -> one merged range covering the whole block in each doc
        assert got == {("a", 0, 48, 5), ("b", 8, 56, 5)}


class TestSpanCuts:
    """Keep-first policy + token-array surgery
    (operators/dedup.cuttable_duplicate_spans / apply_span_cuts;
    oracle twin = q_dup_span_cut)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def _cut(self, spark, rows, **kw):
        from tsdownsample_spark.operators.dedup import (
            apply_span_cuts,
            cuttable_duplicate_spans,
            duplicate_spans,
            merge_duplicate_spans,
        )

        df = self._df(spark, rows)
        spans = duplicate_spans(df, window=16, stride=8, **kw)
        cuts = merge_duplicate_spans(cuttable_duplicate_spans(spans), window=16)
        out = apply_span_cuts(df, cuts)
        return {r.doc_id: (r.tokens_clean, r.n_tok_clean, r.n_cut)
                for r in out.collect()}

    def test_keep_first_retains_one_copy(self, spark):
        boiler = list(range(1000, 1016))
        tail_a = [1, 2, 3, 4, 5, 6, 7, 8] * 2
        tail_b = [9, 10, 11, 12, 13, 14, 15, 16] * 2
        got = self._cut(spark, [("a", boiler + tail_a), ("b", boiler + tail_b)])
        # doc "a" sorts first -> keeps the boilerplate; "b" loses it
        assert got["a"] == (boiler + tail_a, 32, 0)
        assert got["b"] == (tail_b, 16, 16)

    def test_within_doc_second_occurrence_cut(self, spark):
        block = list(range(2000, 2016))
        mid = [1, 2, 3, 4, 5, 6, 7, 8]
        rows = [("a", block + mid + block)]
        got = self._cut(spark, rows)
        assert got["a"] == (block + mid, 24, 16)

    def test_no_dups_passthrough(self, spark):
        rows = [("a", list(range(40))), ("b", list(range(500, 540)))]
        got = self._cut(spark, rows)
        assert got["a"] == (list(range(40)), 40, 0)
        assert got["b"] == (list(range(500, 540)), 40, 0)

    def test_null_tokens_stay_null(self, spark):
        rows = [("a", None), ("b", list(range(2000, 2016)) * 2)]
        got = self._cut(spark, rows)
        assert got["a"] == (None, None, None)
        # within-doc duplicate at aligned offsets 0 and 16: first kept
        assert got["b"][2] == 16

    def test_cut_plan_is_python_free(self, spark):
        from tsdownsample_spark.operators.dedup import apply_span_cuts

        toks = self._df(spark, [("a", list(range(32)))])
        cuts = spark.createDataFrame(
            [("a", 0, 16)], "doc_id string, span_start long, span_end long"
        )
        plan = (
            apply_span_cuts(toks, cuts)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_duplicate_spans_xxhash64_same_detection(spark):
    """The xxhash64 scale path detects the same (doc, start) span set as
    the md5 oracle path (hash only changes the key representation)."""
    from tsdownsample_spark.operators.dedup import duplicate_spans

    boiler = list(range(1000, 1048))
    df = spark.createDataFrame(
        [("a", boiler + [1, 2, 3, 4, 5, 6, 7, 8]),
         ("b", [7, 7, 7, 7, 7, 7, 7, 7] + boiler),
         ("u", list(range(5000, 5100)))],
        "doc_id string, tokens array<int>",
    )
    md5_set = {(r.doc_id, r.start, r.n_dup) for r in
               duplicate_spans(df, window=16, stride=8).collect()}
    xx = duplicate_spans(df, window=16, stride=8, hash="xxhash64")
    xx_set = {(r.doc_id, r.start, r.n_dup) for r in xx.collect()}
    assert md5_set == xx_set and len(md5_set) > 0
    # and the key really is a bigint (no string materialization)
    assert dict(xx.dtypes)["win_hash"] == "bigint"


def test_semantic_dedup_planted_clusters(spark):
    """Two tight embedding clusters + singletons: members cluster to the
    min id, exactly one keeper per cluster, singletons keep themselves."""
    import numpy as np

    from tsdownsample_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    c1 = rng.normal(0, 1, 8)
    c2 = rng.normal(0, 1, 8)
    rows = []
    for i in range(3):  # ids 0,1,2 -> cluster around c1
        rows.append((i, (c1 + rng.normal(0, 0.01, 8)).tolist()))
    for i in range(3, 5):  # ids 3,4 -> cluster around c2
        rows.append((i, (c2 + rng.normal(0, 0.01, 8)).tolist()))
    rows.append((5, rng.normal(0, 1, 8).tolist()))  # singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cluster_id, r.keep)
           for r in semantic_dedup(df, threshold=0.98, n_cells=2, dim=8,
                                   seed=5).collect()}
    assert len(out) == 6
    assert out[0] == (0, True) and out[1] == (0, False) and out[2] == (0, False)
    assert out[3] == (3, True) and out[4] == (3, False)
    assert out[5] == (5, True)


class TestLshRecallReport:
    """Measured dedup recall (the ANN-recall closure's dedup twin): banded
    LSH can only lose true pairs that never become candidates — the report
    quantifies exactly that against exact all-pairs Jaccard truth."""

    def test_fixture_recall_is_total(self, spark, docs):
        from tsdownsample_spark.operators.dedup import lsh_recall_report

        rep = lsh_recall_report(docs, threshold=0.5)
        # the fixture's planted near-dups are one-word swaps (J ~ 0.9),
        # deep inside the (4,4) banding sweet spot: all of them candidates
        assert rep["true_pairs"] > 0
        assert rep["recall"] == 1.0

    def test_graded_similarity_hits_the_theory_curve(self, spark):
        """P(candidate | J=s) = 1 - (1 - s^rows)^bands: ~0.99 at s~0.9,
        ~0.06 at s~0.33.  A graded fixture must show BOTH — near-total
        recall of high-sim pairs and (documented) loss of low-sim ones —
        proving the report measures the miss region instead of echoing 1."""
        import numpy as np

        from tsdownsample_spark.operators.dedup import lsh_recall_report

        rng = np.random.default_rng(5)
        vocab = [f"w{i:05d}" for i in range(20_000)]
        rows, did = [], 0

        def fresh(n):
            return [vocab[i] for i in rng.choice(len(vocab), n, replace=False)]

        for shared_words in (95, 50):          # J ~ 0.9 and ~ 0.33
            for _ in range(40):
                base = fresh(100)
                twin = base[:shared_words] + fresh(100 - shared_words)
                rows.append((f"d{did:05d}", " ".join(base))); did += 1
                rows.append((f"d{did:05d}", " ".join(twin))); did += 1
        df = spark.createDataFrame(rows, "doc_id string, text string")
        hi = lsh_recall_report(df, threshold=0.7)   # captures the 95-shared tier
        lo = lsh_recall_report(df, threshold=0.25)  # includes the 50-shared tier
        assert hi["true_pairs"] >= 35
        assert hi["recall"] >= 0.9              # theory ~0.99 at s~0.9
        assert lo["true_pairs"] > hi["true_pairs"]
        # the low-sim tier is MOSTLY missed at (4,4) — that is the point
        low_tier_truth = lo["true_pairs"] - hi["true_pairs"]
        low_tier_hit = lo["lsh_true_candidates"] - hi["lsh_true_candidates"]
        assert low_tier_truth >= 35
        assert low_tier_hit / low_tier_truth <= 0.5   # theory ~0.06 at s~0.33


class TestContainmentPairs:
    def test_subset_doc_scores_one_while_jaccard_does_not(self, spark):
        """A short doc fully embedded in a long one: containment = 1.0
        exactly (its shingle set is a subset), while Jaccard stays well
        below 1 — the asymmetry containment_pairs exists to expose."""
        from tsdownsample_spark.operators.dedup import containment_pairs

        short = "alpha beta gamma delta epsilon"
        long = short + " zeta eta theta iota kappa " + short
        df = spark.createDataFrame(
            [("s", short), ("l", long)], "doc_id string, text string"
        )
        pairs = spark.createDataFrame([("l", "s")], "id_a string, id_b string")
        row = containment_pairs(df, pairs).collect()[0]
        assert row.containment == 1.0
        # the subset side is c_b (id_b = the short doc)
        assert row.c_b == 1.0 and row.c_a < 1.0
        jac = jaccard_pairs(df, pairs).collect()[0].jaccard
        assert jac < 0.6

    def test_manual_counts_and_xxhash_form_agree(self, spark):
        from tsdownsample_spark.operators.dedup import containment_pairs

        a = "one two three four five"      # 3-shingles: 3 distinct
        b = "one two three nine ten"       # shares exactly 1 shingle
        df = spark.createDataFrame(
            [("a", a), ("b", b)], "doc_id string, text string"
        )
        pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
        row = containment_pairs(df, pairs).collect()[0]
        assert row.c_a == pytest.approx(1 / 3, abs=1e-6)
        assert row.c_b == pytest.approx(1 / 3, abs=1e-6)
        assert row.containment == row.c_a
        xx = containment_pairs(df, pairs, hash="xxhash64").collect()[0]
        assert (xx.c_a, xx.c_b, xx.containment) == (
            row.c_a, row.c_b, row.containment,
        )

    def test_threshold_filters_on_max_side(self, spark):
        from tsdownsample_spark.operators.dedup import containment_pairs

        short = "alpha beta gamma delta epsilon"
        long = short + " zeta eta theta iota kappa"
        other = "uno dos tres cuatro cinco"
        df = spark.createDataFrame(
            [("s", short), ("l", long), ("o", other)],
            "doc_id string, text string",
        )
        pairs = spark.createDataFrame(
            [("l", "s"), ("l", "o")], "id_a string, id_b string"
        )
        kept = containment_pairs(df, pairs, threshold=0.9).collect()
        assert [(r.id_a, r.id_b) for r in kept] == [("l", "s")]


class TestSourceOverlapMatrix:
    def _mk(self, spark):
        rows = [
            (1, "the quick brown fox jumps", "A"),
            (2, "the quick brown cat sits", "A"),
            (3, "the quick brown fox jumps", "B"),   # exact dup of doc 1
            (4, "completely different words here", "B"),
            (5, "nothing in common at all", "C"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_counts_and_jaccard(self, spark):
        from tsdownsample_spark.operators.dedup import source_overlap_matrix

        got = {
            (r["source_a"], r["source_b"]): r
            for r in source_overlap_matrix(self._mk(spark), shingle=3).collect()
        }
        # A's distinct 3-shingles: doc1 {tqb, qbf, bfj} + doc2 {tqb, qbc, bcs}
        # -> 5; B: doc3 {tqb, qbf, bfj} + doc4 {cdw, dwh} -> 5; shared = 3
        ab = got[("A", "B")]
        assert ab["n_shared"] == 3 and ab["n_a"] == 5 and ab["n_b"] == 5
        assert ab["jaccard"] == pytest.approx(3 / 7)
        # C shares nothing -> pair absent (n_shared > 0 only)
        assert ("A", "C") not in got and ("B", "C") not in got

    def test_short_doc_whole_text_shingle(self, spark):
        from tsdownsample_spark.operators.dedup import source_overlap_matrix

        df = spark.createDataFrame(
            [(1, "hi there", "A"), (2, "hi there", "B")],
            "doc_id long, text string, source string",
        )
        got = source_overlap_matrix(df, shingle=3).collect()
        assert len(got) == 1
        assert got[0]["n_shared"] == 1 and got[0]["jaccard"] == 1.0

    def test_plan_no_cartesian_and_broadcast_totals(self, spark):
        from tsdownsample_spark.operators.dedup import source_overlap_matrix

        out = source_overlap_matrix(self._mk(spark))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "BroadcastHashJoin" in plan  # the tiny totals join-back

    def test_validation(self, spark):
        from tsdownsample_spark.operators.dedup import source_overlap_matrix

        with pytest.raises(ValueError, match="shingle"):
            source_overlap_matrix(self._mk(spark), shingle=0)
