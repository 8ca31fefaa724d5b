"""LLM-pipeline operator tests: dedup correctness on constructed
duplicates, LSH recall vs exact ground truth, text-analysis semantics,
multimodal plumbing determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
    exact_dedup_groups,
    near_dup_pairs,
    normalized_dedup_groups,
    simhash_near_dup_pairs,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
    ann_topk_ivf_exact,
    ann_topk_lsh_exact,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
    decode_image_features,
    with_media_meta,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
    cosine_topk,
    with_recall_at_k,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
    lang_id,
    quality_score,
    word_shingles,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load


def docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


BASE = "the quick brown fox jumps over the lazy dog again and again today"


def test_exact_dedup_groups(spark):
    df = docs_df(spark, [BASE, BASE, "something else entirely here now"])
    got = {r.canonical_id: r.n_copies for r in exact_dedup_groups(df).collect()}
    assert got == {0: 2, 2: 1}


def test_normalized_dedup_catches_case_and_punct(spark):
    df = docs_df(spark, [BASE, BASE.upper() + "!!", "unrelated text body"])
    got = {r.canonical_id: r.n_copies for r in normalized_dedup_groups(df).collect()}
    assert got == {0: 2, 2: 1}


def test_minhash_near_dup_finds_planted_pair(spark):
    near = BASE.replace("dog", "cat")  # one word differs -> high Jaccard
    far = "completely different content with no overlap at all whatsoever ok"
    df = docs_df(spark, [BASE, near, far])
    pairs = near_dup_pairs(df, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(p[1] != 2 and p[0] != 2 for p in got)


def test_minhash_lsh_full_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates must recover every brute-force pair >= tau."""
    docs = load(spark, sf_dir, "documents")
    lsh = {(r.id_a, r.id_b) for r in near_dup_pairs(docs, threshold=0.8).collect()}

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        verify_jaccard,
        with_shingles,
    )

    sh = with_shingles(docs).select("doc_id", "shingles")
    a = sh.selectExpr("doc_id AS id_a", "shingles AS s_a")
    b = sh.selectExpr("doc_id AS id_b", "shingles AS s_b")
    all_pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    brute = {
        (r.id_a, r.id_b)
        for r in verify_jaccard(all_pairs, with_shingles(docs), threshold=0.8).collect()
    }
    assert brute  # dataset contains planted near-dups
    assert lsh == brute


def test_simhash_pairs_are_true_near_dups(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    sim = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(docs).collect()}
    assert sim
    jacc = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    # hamming<=3 on 64-bit simhash implies strong similarity: every pair
    # must also clear Jaccard 0.5
    assert sim <= jacc


def test_hot_bucket_cap_bounds_quadratic_blowup(spark):
    # 5k copies of one doc -> every LSH band / SimHash chunk bucket is
    # hot; uncapped that is ~12.5M candidate pairs per bucket. With the
    # cap, hot buckets are thinned to ~cap members (id-hash thinning:
    # EXPECTED cap, binomially concentrated — 2*cap is a >5-sigma
    # bound), so candidate work stays ~cap^2/2 per bucket and the job
    # stays small. (Identical copies are the EXACT dedup pass's job —
    # corpus_prep runs it before near-dup.)
    cap = 50
    bound = (2 * cap) * (2 * cap - 1) // 2
    texts = [BASE] * 5000 + [f"totally unrelated document number {i} qq" for i in range(3)]
    df = docs_df(spark, texts)

    sim = simhash_near_dup_pairs(df, max_bucket_size=cap)
    n_sim = sim.count()
    assert 0 < n_sim <= bound

    mh = near_dup_pairs(df, threshold=0.8, max_bucket_size=cap)
    n_mh = mh.count()
    assert 0 < n_mh <= bound

    # normal (no oversized bucket) corpus: capped == uncapped, bit-identical
    small = docs_df(spark, [BASE, BASE + " extra", "something else entirely here now"])
    capped = sorted(tuple(r) for r in near_dup_pairs(small, threshold=0.5).collect())
    uncapped = sorted(
        tuple(r)
        for r in near_dup_pairs(small, threshold=0.5, max_bucket_size=None).collect()
    )
    assert capped == uncapped


def test_identical_docs_have_equal_simhash(spark):
    df = docs_df(spark, [BASE, BASE])
    pairs = simhash_near_dup_pairs(df, max_hamming=0)
    [r] = pairs.collect()
    assert (r.id_a, r.id_b, r.hamming) == (0, 1, 0)


def test_simhash_matches_documented_digit_definition(spark):
    """The Arrow signature pass must equal an INDEPENDENT brute force of
    the documented sketch: sketch bit i = sign of summed votes on bit
    i%4 of 1-indexed md5 hex digit 16 - i//4 (the form the DuckDB
    oracle replicates). Guards the unpackbits bit-order mapping."""
    import hashlib

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        simhash_signatures,
        with_shingles,
    )

    texts = [BASE, BASE + " tail change", "totally different words here now",
             "unicode café naïve über doc text more words pad"]
    df = docs_df(spark, texts)
    sh = with_shingles(df, "text", 3).select("doc_id", "shingles")
    got = {r.doc_id: r.simhash for r in simhash_signatures(sh).collect()}

    def brute(shingles):
        votes = [0] * 64
        for s in shingles:
            hx = hashlib.md5(s.encode()).hexdigest()
            for i in range(64):
                d = int(hx[16 - i // 4 - 1], 16)  # 1-indexed digit 16-i//4
                votes[i] += 1 if d & (1 << (i % 4)) else -1
        u = sum(1 << i for i in range(64) if votes[i] > 0)
        return u - (1 << 64) if u >= 1 << 63 else u

    for r in sh.collect():
        assert got[r.doc_id] == brute(r.shingles), f"doc {r.doc_id}"


def test_cosine_topk_self_is_nearest(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    # query vectors included in corpus -> each query's top hit is itself
    res = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=1)
    for r in res.collect():
        assert r.neighbor_id == r.query_id
        assert r.cosine == pytest.approx(1.0, abs=1e-6)


def test_ann_recall_floors(spark, sf_dir):
    # Floors assert on the recall_at_k column the queries now emit —
    # the same number the driver's result snapshots record.
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(corpus, queries, 5)
    ivf = with_recall_at_k(ann_topk_ivf_exact(corpus, queries, 5), exact, 5)
    lsh = with_recall_at_k(
        ann_topk_lsh_exact(corpus, queries, 5, num_planes=4), exact, 5
    )
    # floors measured on the driver's synthetic (near-uniform) embeddings —
    # the hardest case for ANN; real clustered embeddings do better
    def mean_recall(df):
        rows = df.select("query_id", "recall_at_k").distinct().collect()
        return sum(r.recall_at_k for r in rows) / len(rows)

    assert mean_recall(ivf) >= 0.5
    assert mean_recall(lsh) >= 0.25


def test_with_recall_at_k_edge_cases(spark):
    # all-miss: ann found neighbors, none in the exact top-k -> 0.0
    ann = spark.createDataFrame(
        [(1, 100, 0.9, 1), (1, 101, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    exact = spark.createDataFrame(
        [(1, 200, 0.99, 1), (1, 201, 0.98, 2), (2, 300, 0.97, 1)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    out = with_recall_at_k(ann, exact, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # query 1: both ann rows kept, recall 0.0 (no overlap with exact)
    assert len(by_q[1]) == 2
    assert all(r.recall_at_k == 0.0 for r in by_q[1])
    # query 2: fully missed by ann -> surfaces as one null-neighbor row
    # with recall 0.0 instead of disappearing
    [missed] = by_q[2]
    assert missed.neighbor_id is None and missed.recall_at_k == 0.0

    # partial hit: 1 of k=2 found -> 0.5 on every row of that query
    ann2 = spark.createDataFrame(
        [(1, 200, 0.9, 1), (1, 101, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rnk int",
    )
    out2 = with_recall_at_k(ann2, exact.filter("query_id = 1"), k=2).collect()
    assert all(r.recall_at_k == 0.5 for r in out2)


def test_recall_ok_gate_flips_on_degraded_index(spark, sf_dir):
    # The recall_ok gate: a healthy ANN result carries recall_ok=True on
    # every row; a degraded index (here: unconverged seed centroids
    # with nprobe=1 — the degenerate-centroids failure mode, or in the
    # worst case an ANN result disjoint from the exact top-k)
    # must flip recall_ok to False in the EMITTED rows, so the driver's
    # snapshot diff catches quality regressions without pytest.
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(corpus, queries, 5)

    healthy = with_recall_at_k(
        ann_topk_ivf_exact(corpus, queries, 5), exact, 5, min_mean_recall=0.5
    )
    rows = healthy.collect()
    assert rows and all(r.recall_ok is True for r in rows)

    # worst-case degradation: an "index" returning neighbors that don't
    # exist in the exact top-k at all -> mean recall 0.0 < any floor
    broken = exact.withColumn(
        "neighbor_id", F.col("neighbor_id") + F.lit(10_000_000)
    )
    degraded = with_recall_at_k(broken, exact, 5, min_mean_recall=0.5)
    rows = degraded.collect()
    assert rows and all(r.recall_ok is False for r in rows)

    # degenerate centroids (no Lloyd iteration, single probe) may still
    # luck into candidates, but the gate column must be present and
    # consistent with the mean of the emitted recall values
    bad_ivf = ann_topk_ivf_exact(corpus, queries, 5, nprobe=1, iters=0)
    gated = with_recall_at_k(bad_ivf, exact, 5, min_mean_recall=0.5)
    out = gated.select("query_id", "recall_at_k", "recall_ok").collect()
    per_q = {r.query_id: r.recall_at_k for r in out}
    mean = sum(per_q.values()) / len(per_q)
    assert all(r.recall_ok == (mean >= 0.5) for r in out)


def test_lang_id_marker_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat of a house is here"),
            Row(doc_id=1, text="der hund und die katze ist da"),
            Row(doc_id=2, text="xyzzy plugh foobar"),
            Row(doc_id=3, text="la de le"),  # fr/es markers tie -> und
        ]
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "und", 3: "und"}


def test_quality_score_bounds_and_ordering(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    stats = docs.select(quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0
    # punctuation soup scores below clean prose of the same length
    probe = spark.createDataFrame(
        [Row(text="a clean readable sentence with plenty of ordinary words in it"),
         Row(text='!!!###$$$%%%^^^&&&***((()))___+++===[[[]]]{{{}}};;;:::"""')]
    ).select(quality_score(F.col("text")).alias("q")).collect()
    assert probe[0].q > probe[1].q


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(text="two words")])
    [r] = df.select(word_shingles(F.col("text")).alias("s")).collect()
    assert r.s == []


def test_multimodal_decode_plumbing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    media = with_media_meta(
        docs.select(F.col("doc_id").alias("media_id"),
                    F.encode(F.col("text"), "utf-8").alias("media"))
    )
    [m] = media.limit(1).collect()
    assert m.media_meta.modality == "image"
    assert m.media_meta.n_bytes == len(bytes(m.media))

    feats = decode_image_features(media)
    rows1 = {r.media_id: (r.width, r.height, r.channels, r.sha) for r in feats.collect()}
    rows2 = {r.media_id: (r.width, r.height, r.channels, r.sha) for r in feats.collect()}
    assert rows1 == rows2  # deterministic fake decode
    assert len(rows1) == 50
    assert all(16 <= v[0] < 1040 and 1 <= v[2] <= 4 for v in rows1.values())

    # codec-less formats resize to null media (DLQ-routable), not a crash
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        resize_images,
    )
    [rz] = resize_images(media.limit(1), width=8, height=8).collect()
    assert rz.media is None and rz.width is None


def test_connected_components_chain_and_clique(spark):
    """A 5-node chain (diameter 4 — needs multiple propagation rounds),
    a triangle, and an isolated pair must each collapse to min-id."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            # chain 10-11-12-13-14
            Row(id_a=10, id_b=11),
            Row(id_a=11, id_b=12),
            Row(id_a=12, id_b=13),
            Row(id_a=13, id_b=14),
            # triangle 20-21-22
            Row(id_a=20, id_b=21),
            Row(id_a=21, id_b=22),
            Row(id_a=20, id_b=22),
            # pair
            Row(id_a=30, id_b=31),
        ]
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_near_dup_clusters_keep_one_per_cluster(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        near_dup_clusters,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.llmops import _docs

    res = near_dup_clusters(_docs(spark, sf_dir)).collect()
    by_cluster: dict[int, list] = {}
    for r in res:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1
        assert keeps[0].doc_id == cid == min(m.doc_id for m in members)


def test_with_split_deterministic_and_proportional(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.sampling import (
        with_split,
    )

    docs = load(spark, sf_dir, "documents")
    s1 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="x")
    s2 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="x")
    # pure function of (id, salt): identical across evaluations
    assert (
        s1.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).count()
        == 0
    )
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}  # no null holdout
    assert counts["train"] / total == pytest.approx(0.8, abs=0.1)
    # a different salt re-rolls assignments
    s3 = with_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="y")
    moved = (
        s1.select("doc_id", "split")
        .exceptAll(s3.select("doc_id", "split"))
        .count()
    )
    assert moved > 0


def test_cross_group_near_dup_report_excludes_intra_group(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.dedup import (
        cross_group_near_dup_report,
    )
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=BASE, source="train"),
            Row(doc_id=1, text=BASE + " tail", source="bench"),  # cross pair
            Row(doc_id=2, text=BASE + " tail", source="train"),  # cross + intra
            Row(doc_id=3, text="completely different words in this one now ok",
                source="bench"),
        ]
    )
    rows = cross_group_near_dup_report(df, threshold=0.5).collect()
    [r] = rows  # intra-group (1,? same source) pairs excluded
    assert (r.group_a, r.group_b) == ("bench", "train")
    assert r.n_pairs >= 1 and r.max_jaccard >= 0.5


def _ppm(w, h, pixel_fn):
    body = bytes(
        v for y in range(h) for x in range(w) for v in pixel_fn(x, y)
    )
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_resize_images_nearest_neighbor_exact(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        resize_images,
    )
    from pyspark.sql import Row

    # 4x4 image whose pixel (x,y) = (x*10, y*10, 0): downscale to 2x2
    # must pick source pixels (0,0),(2,0),(0,2),(2,2) exactly
    img = _ppm(4, 4, lambda x, y: (x * 10, y * 10, 0))
    df = spark.createDataFrame([Row(media_id=1, media=bytearray(img)),
                                Row(media_id=2, media=bytearray(b"not ppm"))])
    out = {r.media_id: r for r in resize_images(df, 2, 2).collect()}
    r = out[1]
    assert (r.width, r.height) == (2, 2)
    assert bytes(r.media) == b"P6\n2 2\n255\n" + bytes(
        [0, 0, 0, 20, 0, 0, 0, 20, 0, 20, 20, 0]
    )
    # non-PPM row survives with null media (DLQ-routable), not an error
    assert out[2].media is None and out[2].width is None


def test_sample_frames_every_n(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.multimodal import (
        sample_frames,
    )
    from pyspark.sql import Row

    frames = [_ppm(2, 1, lambda x, y, i=i: (i, i, i)) for i in range(5)]
    video = b"".join(frames)
    df = spark.createDataFrame([Row(media_id=7, media=bytearray(video))])
    got = sorted(
        (r.frame_idx, bytes(r.frame)) for r in sample_frames(df, every_n=2).collect()
    )
    assert [i for i, _ in got] == [0, 2, 4]
    assert all(f == frames[i] for i, f in got)


def test_char_shingles_semantics(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.text import (
        char_shingles,
    )

    df = spark.createDataFrame(
        [(0, "abcdef"), (1, "abc"), (2, "  AbCdEf  ")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.s
        for r in df.select("doc_id", char_shingles(F.col("text"), 5).alias("s")).collect()
    }
    assert got[0] == ["abcde", "bcdef"]
    assert got[1] == []  # shorter than n -> empty, not an error
    assert got[2] == ["abcde", "bcdef"]  # lower(trim()) normalization


def test_chargram_near_dup_catches_typo_word_shingles_miss(spark):
    # one-char typo: 3 of 10 word-3-shingles change (J ~ 0.54, below
    # 0.7) but only ~5 of ~50 char-5-grams change (J ~ 0.83, above it
    # and comfortably inside the b=16/r=4 LSH s-curve)
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a.replace("quick", "quack")
    df = docs_df(spark, [a, b])
    word_pairs = near_dup_pairs(df, threshold=0.7).count()
    char_pairs = near_dup_pairs(
        df, threshold=0.7, shingle_unit="char", shingle_n=5
    ).count()
    assert word_pairs == 0
    assert char_pairs == 1


# --- distributed Lloyd fit + SemDeDup -----------------------------------


def _blob_rows(n_per, dim=8, seed=3):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_per):
        # blob A hugs +e0, blob B hugs +e1 (unit-ish, well separated)
        rows.append(Row(vec_id=i, embedding=[1.0] + [rng.uniform(-0.05, 0.05) for _ in range(dim - 1)]))
        rows.append(Row(vec_id=n_per + i, embedding=[rng.uniform(-0.05, 0.05), 1.0] + [rng.uniform(-0.05, 0.05) for _ in range(dim - 2)]))
    return rows


def test_fit_centroids_distributed_separates_blobs(spark):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        _assign_exact,
        _unit,
        fit_centroids_exact,
    )

    df = spark.createDataFrame(_blob_rows(40))
    centers = fit_centroids_exact(df, n_clusters=2, iters=5, dim=8)
    c = np.asarray(centers)
    assert c.shape == (2, 8)
    # unit-norm spherical centroids
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-8)
    cn = _unit(df, "vec_id", "embedding", "_id", 8, materialize=True)
    out = _assign_exact(cn, centers, 8, "_id").collect()
    a_clusters = {r._cl for r in out if r._id < 40}
    b_clusters = {r._cl for r in out if r._id >= 40}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_distributed_centers_inject_into_ivf(spark):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        fit_centroids_exact,
    )

    df = spark.createDataFrame(_blob_rows(30))
    corpus, queries = df.filter("vec_id >= 4"), df.filter("vec_id < 4")
    centers = fit_centroids_exact(corpus, n_clusters=2, iters=3, dim=8)
    # the Spark-job Lloyd fit separates the blobs: unit-norm spherical
    # centroids, one hugging +e0 (blob A) and one hugging +e1 (blob B)
    c = np.asarray(centers)
    assert c.shape == (2, 8)
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0, atol=1e-8)
    assert sorted(int(np.argmax(row)) for row in c) == [0, 1]
    out = ann_topk_ivf_exact(
        corpus, queries, k=3, nprobe=1, centers=centers, dim=8
    ).collect()
    assert len(out) == 12  # 4 queries x 3
    # nprobe=1 on separated blobs: every neighbor comes from blob A
    assert all(r.neighbor_id < 30 for r in out)


def test_semdedup_finds_planted_pairs_with_multiassign(spark):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        semdedup_pairs_exact,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
        cosine_pairs_exact,
    )

    base = _blob_rows(25)
    # plant 3 exact duplicates of vec 0 (blob A) and one of vec 25 (blob B)
    planted = [Row(vec_id=100 + j, embedding=base[0].embedding) for j in range(3)]
    planted.append(Row(vec_id=110, embedding=base[1].embedding))
    df = spark.createDataFrame(base + planted)
    sem = semdedup_pairs_exact(
        df, threshold=0.999, n_clusters=4, n_assign=2, dim=8
    ).collect()
    got = {(r.id_a, r.id_b) for r in sem}
    exact = {(r.id_a, r.id_b)
             for r in cosine_pairs_exact(df, threshold=0.999).collect()}
    # identical vectors always share their nearest clusters -> full recall
    assert exact <= got == exact
    assert {(100, 101), (100, 102), (101, 102)} <= got
    # orientation + threshold respected
    assert all(r.id_a < r.id_b and r.cosine >= 0.999 for r in sem)


def test_lsh_recall_gate_flips_on_degraded_config(spark, sf_dir):
    # The recall_ok gate must actually TRIP: 12 hyperplanes slice
    # near-uniform vectors into ~4096 buckets, so a query's 13 probed
    # buckets (own + Hamming-1 flips) hold almost no true neighbors and
    # mean recall collapses below the 0.25 floor. The production knob
    # (num_planes=4) restores it — both directions
    # asserted against the SAME gate column the emitted snapshot
    # carries, so this pins that a quality regression is visible.
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(corpus, queries, 5)

    bad = with_recall_at_k(
        ann_topk_lsh_exact(corpus, queries, 5, num_planes=12),
        exact, 5, min_mean_recall=0.25,
    )
    assert bad.select("recall_ok").distinct().collect()[0].recall_ok is False

    good = with_recall_at_k(
        ann_topk_lsh_exact(corpus, queries, 5, num_planes=4),
        exact, 5, min_mean_recall=0.25,
    )
    assert good.select("recall_ok").distinct().collect()[0].recall_ok is True


def test_ivfpq_planted_duplicate_and_recall(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_topk_ivfpq_exact,
    )

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    # plant each query INTO the corpus under a shifted id: IVF-PQ must
    # return the exact duplicate as rank 1 with cosine ~1.0 (the refine
    # step scores the shortlist exactly, so the dup cannot be outranked)
    planted = corpus.unionByName(
        queries.withColumn("vec_id", F.col("vec_id") + 100000)
    )
    # the operating point of the registered IVF-PQ queries (m16 x 64)
    out = ann_topk_ivfpq_exact(
        corpus=planted, queries=queries, k=5, m=16, n_codes=64
    )
    top1 = {r.query_id: r for r in out.filter("rnk = 1").collect()}
    assert len(top1) == 10
    for qid, r in top1.items():
        assert r.neighbor_id == qid + 100000
        assert abs(r.cosine - 1.0) < 1e-6

    # recall floor on the unplanted corpus (same floor as IVF-flat:
    # refine makes PQ error a shortlist-quality issue only)
    exact = cosine_topk(corpus, queries, 5)
    pq = with_recall_at_k(
        ann_topk_ivfpq_exact(corpus=corpus, queries=queries, k=5, m=16,
                             n_codes=64),
        exact, 5, min_mean_recall=0.5,
    )
    assert pq.select("recall_ok").distinct().collect()[0].recall_ok is True


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        _unit,
        encode_codes_arrays,
        fit_centroids_exact,
        fit_pq_codebooks_exact,
    )

    emb = load(spark, sf_dir, "embeddings")

    def normalized(df):
        return _unit(df, "vec_id", "embedding", "neighbor_id",
                     materialize=True)

    cn = normalized(emb)
    centers = fit_centroids_exact(emb, n_clusters=4, iters=1)
    books = fit_pq_codebooks_exact(
        cn.withColumnRenamed("neighbor_id", "_id"), spark,
        m=8, n_codes=16, iters=1,
    )
    # one 8-dim codeword per (subspace, code)
    assert sorted((j, t) for j, t, _ in books) == [
        (j, t) for j in range(8) for t in range(16)
    ]
    assert all(len(v) == 8 for _, _, v in books)
    enc = {
        r["neighbor_id"]: list(r["_ts"])
        for r in encode_codes_arrays(cn, centers, books, m=8).collect()
    }
    assert len(enc) == emb.count()
    assert all(len(c) == 8 for c in enc.values())  # 8 codes per vector
    assert all(0 <= t < 16 for c in enc.values() for t in c)
    # layout-independence: a repartitioned copy encodes identically
    enc2 = {
        r["neighbor_id"]: list(r["_ts"])
        for r in encode_codes_arrays(
            normalized(emb.repartition(7)), centers, books, m=8
        ).collect()
    }
    assert enc == enc2
