"""Physical-plan pins for the round-8 operators: the shapes that
matter at 100 TB, asserted so a refactor can't silently regress them
into broadcast-less shuffles, cartesian products, or unpruned scans."""

from __future__ import annotations

from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.relational import (
    dominant_part_suppliers,
    large_volume_orders,
    small_lot_revenue,
    suppliers_sole_blame,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_lot_revenue_broadcasts_brand_slice(spark, sf_dir):
    plan = plan_of(small_lot_revenue(spark, sf_dir))
    # the Brand#1 part slice must broadcast; the brand filter must reach
    # the part scan as a pushed filter
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the brand equality must reach the part FileScan (DataFilters),
    # not evaluate post-scan
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("p_brand" in ln and "Brand#1" in ln for ln in scan_lines)


def test_large_volume_orders_semi_join_gate(spark, sf_dir):
    plan = plan_of(large_volume_orders(spark, sf_dir))
    # the HAVING subquery must land as ONE semi join, never a re-scan
    # of an aggregated-and-joined subtree per outer row
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # customer side


def test_dominant_part_suppliers_no_cartesian(spark, sf_dir):
    plan = plan_of(dominant_part_suppliers(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier dim


def test_sole_blame_dataframe_plan_has_semi_and_anti(spark, sf_dir):
    plan = plan_of(suppliers_sole_blame(spark, sf_dir))
    # the dual-quantifier shape: an explicit LEFT SEMI (EXISTS) and a
    # LEFT ANTI (NOT EXISTS) — built from the DataFrame API, not
    # spark.sql of the oracle text
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_prunes_to_pq_codes(spark, sf_dir):
    # the ADC scan path must carry the PQ code arrays (_ts, m ints per
    # vector) — the refine fetch is the only full-vector read
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.ivf_exact import (
        ann_topk_ivfpq_exact,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    plan = plan_of(ann_topk_ivfpq_exact(corpus, queries, k=3))
    assert "_ts" in plan
    assert "CartesianProduct" not in plan


def test_attribution_join_is_equi_keyed(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.analytics import (
        purchase_first_touch_attribution,
    )

    plan = plan_of(purchase_first_touch_attribution(spark, sf_dir))
    # the band join must carry the USER equi key (shuffle/broadcast hash
    # join with the time interval as residual), never a cartesian or a
    # pure range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_integrity_audit_uses_anti_joins(spark, sf_dir):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.plans.relational import (
        referential_integrity_audit,
    )

    plan = plan_of(referential_integrity_audit(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
