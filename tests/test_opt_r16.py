"""Round-16 optimization pins.

1. The IVF-PQ ADC rewrite (opt r16, guide §2.4): the array-layout
   LUT fold must be BIT-EQUAL to the retired candidates-x-m
   groupBy+sum form — the retired form is inlined here as the
   reference, exactly like the linear-probe Gram pin (r15).
2. encode_codes_arrays is a pure pivot of encode_codes_exact.
3. The ADC stage's physical plan carries no Exchange between the
   code-table scan and the rank window (the groupBy exchange is gone).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators import (
    ivf_exact,
)
from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.similarity import (  # noqa: E501
    dot_cols,
)


def _mk_vectors(spark, n, dim, start=0):
    rows = [
        (
            start + i,
            [((start + i) * 31 + d * 7) % 13 - 6.0 for d in range(dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@pytest.fixture(scope="module")
def pq_fixture(spark):
    dim, m, n_codes, n_clusters, nprobe = 16, 4, 8, 4, 2
    corpus = _mk_vectors(spark, 60, dim)
    queries = _mk_vectors(spark, 5, dim, start=1000)
    cn = ivf_exact._unit(corpus, "vec_id", "embedding", "neighbor_id",
                         dim, materialize=True)
    qn = ivf_exact._unit(queries, "vec_id", "embedding", "query_id",
                         dim, materialize=True)
    centers = ivf_exact.fit_centroids_exact(
        corpus, n_clusters, 1, "vec_id", "embedding", "ivf", dim
    )
    books = ivf_exact.fit_pq_codebooks_exact(
        cn.withColumnRenamed("neighbor_id", "_id"), spark,
        m=m, n_codes=n_codes, iters=1, dim=dim,
    )
    probes = ivf_exact._query_probes_exact(
        qn, centers, nprobe, dim
    ).localCheckpoint(eager=True)
    return dict(dim=dim, m=m, sub=dim // m, centers=centers, books=books,
                cn=cn, qn=qn, probes=probes, corpus=corpus,
                queries=queries)


def _retired_groupby_adc(spark, fx):
    """The pre-r16 ADC: candidates x m term rows through two broadcast
    joins and a groupBy sum(decimal(16,12)) — inlined as the
    bit-equality reference."""
    codes_rows = ivf_exact.encode_codes_exact(
        fx["cn"], fx["centers"], fx["books"], m=fx["m"], dim=fx["dim"]
    )
    cb_df = F.broadcast(
        spark.createDataFrame(
            [(j, t, list(v)) for j, t, v in fx["books"]],
            "_j int, _t int, _cb array<double>",
        )
    )
    qsub = F.broadcast(
        ivf_exact._subvectors(fx["qn"], "query_id", fx["m"], fx["dim"])
        .withColumnRenamed("_sv", "_qsv")
    )
    cand = codes_rows.join(
        F.broadcast(fx["probes"].select("query_id", "_cl").distinct()),
        "_cl",
    )
    terms = (
        cand.join(cb_df, ["_j", "_t"])
        .join(qsub, ["query_id", "_j"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_cols(F.col("_qsv"), F.col("_cb"), fx["sub"]), 12)
            .cast("decimal(16,12)")
            .alias("_term"),
        )
    )
    return terms.groupBy("query_id", "neighbor_id").agg(
        F.sum("_term").alias("_adc")
    )


def test_adc_array_fold_matches_retired_groupby_sum(spark, pq_fixture):
    fx = pq_fixture
    codes_arr = ivf_exact.encode_codes_arrays(
        fx["cn"], fx["centers"], fx["books"], m=fx["m"], dim=fx["dim"]
    )
    qsub = ivf_exact._subvectors(
        fx["qn"], "query_id", fx["m"], fx["dim"]
    ).withColumnRenamed("_sv", "_qsv")
    lut = ivf_exact._pq_lut(spark, qsub, fx["books"], fx["sub"])
    cand = codes_arr.join(
        F.broadcast(fx["probes"].select("query_id", "_cl").distinct()),
        "_cl",
    )
    new = cand.join(F.broadcast(lut), "query_id").select(
        "query_id", "neighbor_id",
        F.expr(ivf_exact._ADC_FOLD).alias("_adc"),
    )
    old = _retired_groupby_adc(spark, pq_fixture)
    got = sorted(
        (r["query_id"], r["neighbor_id"], str(r["_adc"]))
        for r in new.collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], str(r["_adc"]))
        for r in old.collect()
    )
    # same candidate set, bit-equal decimal sums (stringified so a
    # scale mismatch that changes the VALUE would surface; the
    # fixed-scale-12 text is identical when the values are)
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2].rstrip("0") for g in got] == [
        w[2].rstrip("0") for w in want
    ]


def test_encode_codes_arrays_is_pivot_of_rows(spark, pq_fixture):
    fx = pq_fixture
    rows = ivf_exact.encode_codes_exact(
        fx["cn"], fx["centers"], fx["books"], m=fx["m"], dim=fx["dim"]
    ).collect()
    arrs = ivf_exact.encode_codes_arrays(
        fx["cn"], fx["centers"], fx["books"], m=fx["m"], dim=fx["dim"]
    ).collect()
    want = {}
    cl = {}
    for r in rows:
        want.setdefault(r["neighbor_id"], {})[r["_j"]] = r["_t"]
        cl[r["neighbor_id"]] = r["_cl"]
    got = {r["neighbor_id"]: (list(r["_ts"]), r["_cl"]) for r in arrs}
    assert set(got) == set(want)
    for nid, (ts, c) in got.items():
        assert ts == [want[nid][j] for j in range(fx["m"])]
        assert c == cl[nid]


def test_adc_stage_has_no_exchange_before_rank_window(spark, pq_fixture):
    # the rewrite's point (guide §2.4): between the code scan and the
    # per-query rank window there is no Exchange — the only exchange
    # in the shortlist subplan is the window's own hashpartitioning
    fx = pq_fixture
    codes_arr = ivf_exact.encode_codes_arrays(
        fx["cn"], fx["centers"], fx["books"], m=fx["m"], dim=fx["dim"]
    ).localCheckpoint(eager=True)
    qsub = ivf_exact._subvectors(
        fx["qn"], "query_id", fx["m"], fx["dim"]
    ).withColumnRenamed("_sv", "_qsv")
    lut = ivf_exact._pq_lut(
        spark, qsub, fx["books"], fx["sub"]
    ).localCheckpoint(eager=True)
    shortlist = ivf_exact._adc_shortlist(
        codes_arr, fx["probes"], lut, k=3, refine_factor=2
    )
    plan = shortlist._jdf.queryExecution().executedPlan().toString()
    # exactly ONE shuffle: the rank window's hashpartitioning(query_id)
    # — the retired form had a second one (groupBy (query_id,
    # neighbor_id) over candidates x m term rows) plus a probe-dedup
    # aggregate on the broadcast side
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" not in plan, plan


def test_oneshot_ivfpq_matches_persisted_after_layout_change(
    spark, pq_fixture, tmp_path
):
    fx = pq_fixture
    path = str(tmp_path / "pqidx")
    ivf_exact.build_ivfpq_index_exact(
        fx["corpus"], path, n_clusters=4, m=fx["m"], n_codes=8,
        iters=1, pq_iters=1, dim=fx["dim"],
    )
    via_index = ivf_exact.query_ivfpq_index_exact(
        spark, path, fx["queries"], k=3, nprobe=2,
    )
    oneshot = ivf_exact.ann_topk_ivfpq_exact(
        corpus=fx["corpus"], queries=fx["queries"], k=3,
        n_clusters=4, nprobe=2, m=fx["m"], n_codes=8, iters=1,
        pq_iters=1, dim=fx["dim"],
    )
    assert sorted(map(tuple, via_index.collect())) == sorted(
        map(tuple, oneshot.collect())
    )
