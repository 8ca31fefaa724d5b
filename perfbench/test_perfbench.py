"""The benchmark's own tests: the generator is deterministic, its ground
truth equals what the shipper's batch path produces, and the landed-table
check notices rows that are missing or landed twice.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import harness  # noqa: E402
from landed import Landed  # noqa: E402


def test_same_seed_same_bytes():
    a = gen.Generator(7, "backlog").corpus(2, 30)
    b = gen.Generator(7, "backlog").corpus(2, 30)
    c = gen.Generator(8, "backlog").corpus(2, 30)
    assert [f.data for f in a] == [f.data for f in b]
    assert [f.data for f in a] != [f.data for f in c]
    assert [f.truth for f in a] == [f.truth for f in b]


def test_every_message_class_is_generated():
    truth = gen.Truth()
    for f in gen.Generator(3, "backlog").corpus(4, 200):
        truth.add(f.truth)
    assert truth.control and truth.decode_errors and truth.platform
    assert truth.parse_dlq and truth.clean
    assert {d for d, _ in truth.severity} >= {gen.UNDATED, gen.TODAY.isoformat()}
    assert {s for _, s in truth.severity} == {"debug", "error"}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    harness.configure_env(str(tmp_path_factory.mktemp("spark")), 2, "1g")
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.session import get_spark

    yield get_spark("perfbench-tests")
    harness.stop_jvm()


@pytest.mark.parametrize("profile", ["backlog", "live"])
def test_truth_equals_run_batch(spark, tmp_path, profile):
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        read_kinesis_event_file,
        run_batch,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import with_log_date

    truth = gen.write_files(gen.Generator(5, profile).corpus(3, 120), str(tmp_path))
    clean, dlq = run_batch(read_kinesis_event_file(spark, str(tmp_path)))
    assert clean.count() == truth.clean
    assert dlq.count() == truth.dlq
    assert clean.select(F.sum(F.length("message"))).first()[0] == truth.message_chars
    got = Counter({
        (r[0], r[1]): r[2]
        for r in with_log_date(clean)
        .groupBy(F.col("log_date").cast("string"), "severity").count().collect()
    })
    assert got == truth.severity


def test_landed_check_catches_lost_and_duplicated_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
        StreamingShipper,
    )

    files = gen.Generator(9, "live").corpus(4, 20)
    truth = {f.name: f.truth for f in files}
    gen.write_files(files, str(tmp_path / "src"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    StreamingShipper(spark, str(tmp_path / "src"), out, ckpt,
                     max_files_per_trigger=2).start(available_now=True).awaitTermination()
    landed = Landed(out, ckpt, truth)
    assert landed.missing_files() == []
    assert landed.check() == (set(), [])

    # one batch's rows landing again under another batch id
    logs = os.path.join(out, "logs")
    (spark.read.parquet(logs).filter("ingest_batch = 0")
     .withColumn("ingest_batch", F.lit(7))
     .write.mode("append").partitionBy("log_date", "ingest_batch").parquet(logs))
    bad, problems = Landed(out, ckpt, truth).check()
    assert 7 in bad and problems

    # a file the checkpoint never read
    extra = gen.Generator(10, "live", stream="late").corpus(1, 5)[0]
    assert Landed(out, ckpt, {**truth, extra.name: extra.truth}).missing_files() == [extra.name]
