"""Engine-exact (oracle-replayable) IVF / IVF-PQ: persisted index ==
one-shot bit-equality, partition pruning, layout-invariant fits,
recall-gate behavior, planted-duplicate retrieval, and the persisted
paths' input contracts (format marker, unique query ids)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators import ivf_exact
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
    ann_topk_ivf_exact,
    ann_topk_ivfpq_exact,
    build_ivf_index_exact,
    build_ivfpq_index_exact,
    fit_centroids_exact,
    query_ivf_index_exact,
    query_ivfpq_index_exact,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (
    cosine_topk,
    with_recall_at_k,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_exact_index_matches_oneshot_and_prunes(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfx")
    build_ivf_index_exact(corpus, path)
    via_index = query_ivf_index_exact(spark, path, queries, k=5)
    oneshot = ann_topk_ivf_exact(corpus=corpus, queries=queries, k=5)
    assert _rows(via_index) == _rows(oneshot)
    # probed clusters partition-prune the index scan
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


@pytest.fixture(scope="module")
def ivfpq_index(spark, sf_dir, tmp_path_factory):
    """A default-parameter IVF-PQ index over vec_id >= 10 (read-only:
    tests that mutate it work on a copy)."""
    path = str(tmp_path_factory.mktemp("ivfpqx") / "idx")
    build_ivfpq_index_exact(
        _emb(spark, sf_dir).filter(F.col("vec_id") >= 10), path
    )
    return path


def test_ivfpq_exact_index_matches_oneshot(spark, sf_dir, ivfpq_index):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    via_index = query_ivfpq_index_exact(spark, ivfpq_index, queries, k=5)
    oneshot = ann_topk_ivfpq_exact(corpus=corpus, queries=queries, k=5)
    assert _rows(via_index) == _rows(oneshot)
    # the code-table scan (reading the _ts code arrays) carries a
    # cluster PartitionFilter
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "_ts" in ln]
    assert scans and any("PartitionFilters" in ln and "cluster" in ln
                         for ln in scans)


def test_ivfpq_index_without_format_marker_fails_fast(
    spark, sf_dir, tmp_path, ivfpq_index
):
    """An index without the current format marker (built before the
    layout it reads, or interrupted before the marker landed) raises a
    rebuild request up front instead of failing deep in the plan."""
    old = str(tmp_path / "old")
    shutil.copytree(ivfpq_index, old)
    shutil.rmtree(os.path.join(old, ivf_exact._IVFPQ_FORMAT_DIR))
    emb = _emb(spark, sf_dir)
    with pytest.raises(ValueError, match="rebuild the index"):
        query_ivfpq_index_exact(
            spark, old, emb.filter(F.col("vec_id") < 10), k=5
        )
    with pytest.raises(ValueError, match="rebuild the index"):
        ivf_exact.append_ivfpq_index_exact(
            emb.filter(F.col("vec_id") < 10), old, batch_id=1
        )
    # an older version number is refused the same way
    ivf_exact._write_ivfpq_format(
        spark, old, ivf_exact.IVFPQ_FORMAT_VERSION - 1
    )
    with pytest.raises(
        ValueError,
        match=f"has format version {ivf_exact.IVFPQ_FORMAT_VERSION - 1}",
    ):
        query_ivfpq_index_exact(
            spark, old, emb.filter(F.col("vec_id") < 10), k=5
        )


def test_persisted_queries_reject_repeated_query_ids(
    spark, sf_dir, tmp_path, ivfpq_index
):
    """A repeated query id would get every neighbour twice and lose
    true neighbours from its top-k; the persisted paths name the
    repeated ids instead."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).unionByName(
        emb.filter(F.col("vec_id") == 3)
    )
    with pytest.raises(ValueError, match=r"repeated ids: \[3\]"):
        query_ivfpq_index_exact(spark, ivfpq_index, queries, k=5)
    ivf = str(tmp_path / "ivfx")
    build_ivf_index_exact(emb.filter(F.col("vec_id") >= 10), ivf)
    with pytest.raises(ValueError, match=r"repeated ids: \[3\]"):
        query_ivf_index_exact(spark, ivf, queries, k=5)


def test_fit_centroids_exact_layout_invariant(spark, sf_dir):
    """DECIMAL-exact dimension sums mean the partition layout cannot
    move a centroid by an ulp — the property the SQL replay relies on."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") >= 10)
    a = fit_centroids_exact(emb, n_clusters=8, iters=2)
    b = fit_centroids_exact(emb.repartition(17), n_clusters=8, iters=2)
    c = fit_centroids_exact(emb.coalesce(1), n_clusters=8, iters=2)
    assert a == b == c


def test_ivf_exact_recall_floor_and_gate_flip(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(corpus, queries, 5)
    good = with_recall_at_k(
        ann_topk_ivf_exact(corpus, queries, 5), exact, 5, min_mean_recall=0.45
    )
    assert all(r["recall_ok"] for r in good.collect())
    # degraded config (single probe, unconverged centroids) flips the
    # gate at a floor the production config clears
    bad = with_recall_at_k(
        ann_topk_ivf_exact(corpus, queries, 5, nprobe=1, iters=0),
        exact,
        5,
        min_mean_recall=0.95,
    )
    assert not any(r["recall_ok"] for r in bad.collect())


def test_ivf_exact_planted_duplicate_rank1(spark, sf_dir):
    """A corpus vector identical to the query must come back at rank 1
    with cosine 1.0 — the IVF probe always includes the assigned
    cluster of an exact duplicate (it is the query's nearest centroid
    too)."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 10)
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("vec_id"), "embedding"
    )
    planted = corpus.unionByName(
        q0.select(F.lit(999_999).cast("long").alias("vec_id"), "embedding")
    )
    out = ann_topk_ivf_exact(corpus=planted, queries=q0, k=3).collect()
    top = [r for r in out if r["rnk"] == 1][0]
    assert top["neighbor_id"] == 999_999
    assert top["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_ivfpq_exact_refine_returns_exact_cosines(spark, sf_dir):
    """Every cosine IVF-PQ emits equals the brute-force value for that
    (query, neighbor) pair — ADC can only affect WHICH pairs surface,
    never the reported similarity (the refine contract)."""
    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    got = ann_topk_ivfpq_exact(corpus=corpus, queries=queries, k=5).collect()
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(corpus, queries, k=10_000).collect()
    }
    assert got
    for r in got:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_knn_graph_ivf_exact_excludes_self_and_finds_planted(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_knn_graph_ivf_exact,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    v0 = emb.filter(F.col("vec_id") == 0)
    planted = emb.unionByName(
        v0.select(F.lit(777_777).cast("long").alias("vec_id"), "embedding")
    )
    out = ann_knn_graph_ivf_exact(planted, k=3).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    # the exact duplicate is vector 0's rank-1 neighbor (and vice versa)
    top0 = [r for r in out if r["query_id"] == 0 and r["rnk"] == 1][0]
    assert top0["neighbor_id"] == 777_777
    topd = [r for r in out if r["query_id"] == 777_777 and r["rnk"] == 1][0]
    assert topd["neighbor_id"] == 0


def test_semdedup_exact_finds_planted_duplicates(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        semdedup_pairs_exact,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 888_000).alias("vec_id"), "embedding"
    )
    planted = emb.unionByName(dups)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs_exact(planted, threshold=0.95).collect()
    }
    for i in range(5):  # every planted duplicate pair is found
        assert (i, i + 888_000) in pairs
    # no pair ordering violations, no self-pairs
    assert all(a < b for a, b in pairs)


def test_lsh_exact_identical_vector_same_bucket(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_topk_lsh_exact,
        lsh_plane_weights_exact,
    )

    # plane weights are deterministic and reproducible
    w1 = lsh_plane_weights_exact(4, 64)
    w2 = lsh_plane_weights_exact(4, 64)
    assert w1 == w2 and len(w1) == 4 and len(w1[0]) == 64
    assert all(-1.0 <= x <= 1.0 for row in w1 for x in row)

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 10)
    q0 = emb.filter(F.col("vec_id") == 0)
    planted = corpus.unionByName(
        q0.select(F.lit(555_555).cast("long").alias("vec_id"), "embedding")
    )
    # an identical vector lands in the SAME bucket (same sign pattern)
    # so multiprobe-or-not it must surface at rank 1 with cosine 1
    out = ann_topk_lsh_exact(corpus=planted, queries=q0, k=3).collect()
    top = [r for r in out if r["rnk"] == 1][0]
    assert top["neighbor_id"] == 555_555
    assert top["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_lsh_index_matches_oneshot_and_prunes(spark, sf_dir, tmp_path):
    """opt r15: the persisted LSH bucket index (bucketed normalized
    corpus + driver-side probe derivation) must be bit-equal to the
    one-shot multiprobe search, and the probed buckets must
    partition-prune the index scan."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        ann_topk_lsh_exact,
        build_lsh_index_exact,
        query_lsh_index_exact,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lshx")
    build_lsh_index_exact(corpus, path, num_planes=4, dim=64)
    via_index = query_lsh_index_exact(
        spark, path, queries, k=5, num_planes=4, dim=64
    )
    oneshot = ann_topk_lsh_exact(
        corpus=corpus, queries=queries, k=5, num_planes=4, dim=64
    )
    assert _rows(via_index) == _rows(oneshot)
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_b" in plan


def test_lsh_index_matches_oneshot_wide_dim(spark, sf_dir, tmp_path):
    """Same bit-parity pin at a wide dim (the Arrow fold-kernel bucket
    path + driver-side numpy probe bits)."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (  # noqa: E501
        ann_topk_lsh_exact,
        build_lsh_index_exact,
        query_lsh_index_exact,
    )

    dim = 192  # > DOT_UNROLL_MAX_DIM (128) -> wide kernels
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 191), d -> "
            "element_at(cast(embedding as array<double>), (d % 64) + 1))"
        ).alias("embedding"),
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lshx80")
    build_lsh_index_exact(corpus, path, num_planes=4, dim=dim)
    via_index = query_lsh_index_exact(
        spark, path, queries, k=5, num_planes=4, dim=dim
    )
    oneshot = ann_topk_lsh_exact(
        corpus=corpus, queries=queries, k=5, num_planes=4, dim=dim
    )
    assert _rows(via_index) == _rows(oneshot)
