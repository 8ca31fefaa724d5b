"""Control-plane tests (C1-C6) over temp dirs — no Spark needed except
the retention integration check."""

from __future__ import annotations

from datetime import date

from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
    SubscriptionFilter,
    SubscriptionRegistry,
    cycle_guard,
    discover_log_sources,
    expire_partitions,
    setup,
)


def mk_sources(tmp_path, names):
    for n in names:
        (tmp_path / n).mkdir(parents=True, exist_ok=True)


def test_discovery_prefix_filter(tmp_path):
    mk_sources(
        tmp_path,
        ["aws/lambda/fn-a", "aws/lambda/fn-b", "aws/ecs/task-c", "other/fn-d"],
    )
    got = discover_log_sources(str(tmp_path))
    rels = sorted(p.split(str(tmp_path) + "/")[1] for p in got)
    assert rels == ["aws/lambda/fn-a", "aws/lambda/fn-b"]


def test_discovery_pagination_accumulates_all(tmp_path):
    mk_sources(tmp_path, [f"aws/lambda/fn-{i:03d}" for i in range(120)])
    got = discover_log_sources(str(tmp_path), page_size=50)
    assert len(got) == 120  # 3 pages accumulated (50+50+20)


def test_cycle_guard(tmp_path):
    sources = ["/x/aws/lambda/app-fn", "/x/aws/lambda/shipper-fn"]
    assert cycle_guard(sources, "shipper-fn") == ["/x/aws/lambda/app-fn"]


def test_subscription_upsert_semantics(tmp_path):
    reg = SubscriptionRegistry(str(tmp_path / "subs.json"))
    f = SubscriptionFilter("ship-filter", "")
    assert reg.subscribe("/src/a", f) == "created"
    assert reg.subscribe("/src/a", f) == "unchanged"
    # different name -> delete + re-put (subscriber.js:36-45)
    assert reg.subscribe("/src/a", SubscriptionFilter("other", "")) == "replaced"
    # registry survives reload
    reg2 = SubscriptionRegistry(str(tmp_path / "subs.json"))
    assert reg2.sources() == ["/src/a"]


def test_retention_drops_only_expired(tmp_path):
    table = tmp_path / "logs"
    for d in ["2024-01-01", "2024-01-05", "2024-01-09", "1970-01-01"]:
        (table / f"log_date={d}").mkdir(parents=True)
        (table / f"log_date={d}" / "part-0.parquet").write_text("x")
    dropped = expire_partitions(str(table), 7, today=date(2024, 1, 10))
    assert dropped == ["log_date=1970-01-01", "log_date=2024-01-01"]
    remaining = sorted(p.name for p in table.iterdir())
    assert remaining == ["log_date=2024-01-05", "log_date=2024-01-09"]


def test_setup_end_to_end(tmp_path):
    mk_sources(tmp_path, ["aws/lambda/fn-a", "aws/lambda/shipper", "aws/other/x"])
    out = setup(
        str(tmp_path), str(tmp_path / "reg.json"), own_name="shipper"
    )
    assert len(out["sources"]) == 1
    assert list(out["results"].values()) == ["created"]
    # idempotent second run
    out2 = setup(str(tmp_path), str(tmp_path / "reg.json"), own_name="shipper")
    assert list(out2["results"].values()) == ["unchanged"]


def test_compact_partition(spark, tmp_path):
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    msgs = [
        f'{{"message":"m{i}","timestamp":"2024-01-05T00:00:0{i % 10}.000Z"}}'
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
    ).repartition(8)
    clean, _ = split_dlq(parse_log_events(df))
    table = str(tmp_path / "logs")
    # two appends of 8 partitions each -> many small files
    write_log_table(clean, table, mode="append")
    write_log_table(clean, table, mode="append")

    import glob

    part = f"{table}/log_date=2024-01-05"
    n_before = len(glob.glob(f"{part}/part-*"))
    assert n_before > 2
    reported = compact_partition(spark, table, "2024-01-05")
    assert reported == n_before
    assert len(glob.glob(f"{part}/part-*")) == 1
    back = spark.read.parquet(table)
    assert back.count() == 80  # rows preserved


def _small_file_table(spark, tmp_path):
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    msgs = [
        f'{{"message":"m{i}","timestamp":"2024-01-05T00:00:0{i % 10}.000Z"}}'
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
    ).repartition(8)
    clean, _ = split_dlq(parse_log_events(df))
    table = str(tmp_path / "logs")
    write_log_table(clean, table, mode="append")
    write_log_table(clean, table, mode="append")
    return table


def test_compact_partition_heals_crash_between_renames(spark, tmp_path):
    """Crash window 1: old dir renamed aside, new not yet in. The next
    compaction call must roll the old data back and complete normally —
    no rows lost."""
    import glob
    import os

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
    )

    table = _small_file_table(spark, tmp_path)
    part = f"{table}/log_date=2024-01-05"
    os.rename(part, f"{table}/.log_date=2024-01-05._compact_old")  # simulate mid-swap crash
    compact_partition(spark, table, "2024-01-05")
    assert len(glob.glob(f"{part}/part-*")) == 1
    assert spark.read.parquet(table).count() == 80
    assert not os.path.exists(f"{table}/.log_date=2024-01-05._compact_old")


def test_compact_partition_heals_crash_before_delete(spark, tmp_path):
    """Crash window 2: swap complete but old-aside dir not deleted. The
    partition stays fully readable throughout, and the next call cleans
    up the leftover."""
    import glob
    import os
    import shutil

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
    )

    table = _small_file_table(spark, tmp_path)
    part = f"{table}/log_date=2024-01-05"
    # simulate: a completed swap whose final delete never ran
    shutil.copytree(part, f"{table}/.log_date=2024-01-05._compact_old")
    assert spark.read.parquet(table).count() == 80  # reader unaffected
    compact_partition(spark, table, "2024-01-05")
    assert len(glob.glob(f"{part}/part-*")) == 1
    assert spark.read.parquet(table).count() == 80
    assert not os.path.exists(f"{table}/.log_date=2024-01-05._compact_old")


def test_retention_integrates_with_sink(spark, tmp_path):
    """Partitions written by the sink are exactly what retention drops."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    msgs = [
        '{"message":"old","timestamp":"2024-01-01T00:00:01.000Z"}',
        '{"message":"new","timestamp":"2024-01-09T00:00:01.000Z"}',
    ]
    df = spark.createDataFrame(
        [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
    )
    clean, _ = split_dlq(parse_log_events(df))
    table = str(tmp_path / "logs")
    write_log_table(clean, table, mode="overwrite")
    dropped = expire_partitions(table, 7, today=date(2024, 1, 10))
    assert dropped == ["log_date=2024-01-01"]
    assert [r["message"] for r in spark.read.parquet(table).collect()] == ["new"]


def test_maintenance_over_streaming_layout(spark, tmp_path):
    """Retention + compaction over the STREAMING sink layout
    (log_date=D/ingest_batch=N): retention drops a whole date with its
    nested batch dirs; compaction folds a date's per-batch dirs into the
    reserved ingest_batch=-1 leaf with data intact."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    def clean_for(day, tag):
        msgs = [
            f'{{"message":"{tag}{i}","timestamp":"2024-01-0{day}T00:00:01.000Z"}}'
            for i in range(3)
        ]
        df = spark.createDataFrame(
            [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
        )
        clean, _ = split_dlq(parse_log_events(df))
        return clean

    table = str(tmp_path / "logs")
    # three micro-batches: two land on day 1, one on day 9
    write_log_table(clean_for(1, "a"), table, batch_id=0)
    write_log_table(clean_for(1, "b"), table, batch_id=1)
    write_log_table(clean_for(9, "c"), table, batch_id=2)

    import os

    day1 = os.path.join(table, "log_date=2024-01-01")
    assert sorted(
        d for d in os.listdir(day1) if d.startswith("ingest_batch=")
    ) == ["ingest_batch=0", "ingest_batch=1"]

    # compaction folds day 1's two batch dirs into the reserved leaf
    n_before = compact_partition(spark, table, "2024-01-01")
    assert n_before >= 2
    assert [
        d for d in os.listdir(day1) if d.startswith("ingest_batch=")
    ] == ["ingest_batch=-1"]
    back = spark.read.parquet(table)
    assert back.count() == 9
    assert back.filter("log_date = '2024-01-01'").count() == 6
    # folded + unfolded dates coexist readably; batch ids survive as -1/2
    assert sorted(
        r["ingest_batch"] for r in back.select("ingest_batch").distinct().collect()
    ) == [-1, 2]

    # retention drops the whole compacted day-1 tree
    dropped = expire_partitions(table, 7, today=date(2024, 1, 10))
    assert dropped == ["log_date=2024-01-01"]
    assert spark.read.parquet(table).count() == 3
    assert {r["message"] for r in spark.read.parquet(table).collect()} == {
        "c0", "c1", "c2"
    }


def test_compact_table_folds_closed_dates_only(spark, tmp_path):
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_table,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    def clean_for(day):
        msgs = [
            f'{{"message":"x{i}","timestamp":"2024-01-0{day}T00:00:01.000Z"}}'
            for i in range(2)
        ]
        df = spark.createDataFrame(
            [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
        )
        return split_dlq(parse_log_events(df))[0]

    table = str(tmp_path / "logs")
    write_log_table(clean_for(1), table, batch_id=0)
    write_log_table(clean_for(1), table, batch_id=1)
    write_log_table(clean_for(8), table, batch_id=2)  # "today": stays hot

    import os

    reported = compact_table(spark, table, before=date(2024, 1, 8))
    assert set(reported) == {"log_date=2024-01-01"}
    assert reported["log_date=2024-01-01"] >= 2
    # day 8 untouched (still per-batch), day 1 folded
    day8 = os.path.join(table, "log_date=2024-01-08")
    assert [d for d in os.listdir(day8) if d.startswith("ingest_batch=")] == [
        "ingest_batch=2"
    ]
    assert spark.read.parquet(table).count() == 6
    # second nightly run: day 1 is already folded to one file -> skipped
    # (O(one day) maintenance, not O(full table) rewrites)
    assert compact_table(spark, table, before=date(2024, 1, 8)) == {}


def test_compact_table_refuses_inflight_batch_dates(spark, tmp_path):
    """Concurrent-maintenance guard: with the writing stream's
    checkpoint_dir, compact_table must NOT fold a date that contains a
    batch newer than the stream's last COMMIT — that batch can still be
    retried, and a retry would land beside the folded copy."""
    import os

    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_table,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    def clean_for(day, tag):
        msgs = [
            f'{{"message":"{tag}{i}","timestamp":"2024-01-0{day}T00:00:01.000Z"}}'
            for i in range(2)
        ]
        df = spark.createDataFrame(
            [Row(awsRegion="r", logGroup="g", logStream="s", message=m) for m in msgs]
        )
        return split_dlq(parse_log_events(df))[0]

    table = str(tmp_path / "logs")
    write_log_table(clean_for(1, "a"), table, batch_id=0)
    write_log_table(clean_for(1, "b"), table, batch_id=1)
    write_log_table(clean_for(2, "c"), table, batch_id=2)  # in-flight

    # simulate a checkpoint whose commits show batches 0 and 1 durable;
    # batch 2 wrote its files but has NOT committed (could be retried)
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    for b in (0, 1):
        (ckpt / "commits" / str(b)).write_text("{}")

    reported = compact_table(
        spark, table, before=None, checkpoint_dir=str(ckpt)
    )
    # day 1 (batches 0,1 committed) folds; day 2 (batch 2 in flight) refused
    assert set(reported) == {"log_date=2024-01-01"}
    day2 = os.path.join(table, "log_date=2024-01-02")
    assert [d for d in os.listdir(day2) if d.startswith("ingest_batch=")] == [
        "ingest_batch=2"
    ]

    # batch 2 commits -> the next nightly folds day 2 too
    (ckpt / "commits" / "2").write_text("{}")
    reported = compact_table(
        spark, table, before=None, checkpoint_dir=str(ckpt)
    )
    assert set(reported) == {"log_date=2024-01-02"}

    # fresh/missing checkpoint: nothing is committed -> nothing folds
    empty_ckpt = tmp_path / "ckpt_fresh"
    empty_ckpt.mkdir()
    write_log_table(clean_for(3, "d"), table, batch_id=3)
    assert (
        compact_table(spark, table, before=None, checkpoint_dir=str(empty_ckpt))
        == {}
    )


def test_compact_partition_reattaches_concurrent_leaf(spark, tmp_path):
    """Concurrent-append safety: a batch leaf that landed while (or
    crashed after) a fold was in flight — i.e. a leaf in the swept-aside
    dir that the folded leaf's sidecar does not cover — is re-attached,
    not deleted."""
    import os
    import shutil

    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    def clean(i):
        df = spark.createDataFrame(
            [Row(awsRegion="r", logGroup="g", logStream="s",
                 message=f'{{"message":"x{i}","timestamp":"2024-02-01T00:00:01.000Z"}}')]
        )
        return split_dlq(parse_log_events(df))[0]

    table = str(tmp_path / "logs")
    for b in range(2):
        write_log_table(clean(b), table, batch_id=b)
    # fold batches 0-1: writes the .folded_batches sidecar
    compact_partition(spark, table, "2024-02-01")
    part = os.path.join(table, "log_date=2024-02-01")
    sidecar = os.path.join(part, "ingest_batch=-1", ".folded_batches")
    assert os.path.isfile(sidecar)
    assert open(sidecar).read().splitlines() == [
        "ingest_batch=0", "ingest_batch=1"
    ]

    # simulate the crash-after-swap-with-concurrent-write state: the
    # old-aside dir still exists, holding the folded copies PLUS a
    # fresh batch (=2) the stream landed mid-fold
    write_log_table(clean(2), table, batch_id=2)
    old = os.path.join(table, ".log_date=2024-02-01._compact_old")
    os.makedirs(old)
    os.rename(os.path.join(part, "ingest_batch=2"),
              os.path.join(old, "ingest_batch=2"))
    shutil.copytree(os.path.join(part, "ingest_batch=-1"),
                    os.path.join(old, "ingest_batch=0"))
    assert spark.read.parquet(table).count() == 2  # fresh batch aside

    compact_partition(spark, table, "2024-02-01")
    # heal re-attached the un-folded leaf and dropped the folded copies
    assert not os.path.exists(old)
    assert spark.read.parquet(table).count() == 3
    rows = {r.message for r in spark.read.parquet(table).collect()}
    assert rows == {"x0", "x1", "x2"}


def test_compact_partition_merges_into_recreated_dir(spark, tmp_path):
    """If the stream recreates the partition dir between the two swap
    renames, the folded payload merges in beside the fresh leaf instead
    of failing (simulated via the equivalent healed state)."""
    import os

    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        _reattach_unfolded,
    )

    # build the post-merge layout by hand and check _reattach_unfolded's
    # contract directly: sidecar-covered leafs stay deleted, others move
    part = str(tmp_path / "t" / "log_date=2024-03-01")
    old = str(tmp_path / "t" / ".log_date=2024-03-01._compact_old")
    os.makedirs(os.path.join(part, "ingest_batch=-1"))
    with open(os.path.join(part, "ingest_batch=-1", ".folded_batches"), "w") as fh:
        fh.write("ingest_batch=0\ningest_batch=1")
    for leaf in ("ingest_batch=0", "ingest_batch=1", "ingest_batch=7"):
        os.makedirs(os.path.join(old, leaf))
    _reattach_unfolded(part, old)
    assert sorted(os.listdir(part)) == ["ingest_batch=-1", "ingest_batch=7"]
    assert sorted(os.listdir(old)) == ["ingest_batch=0", "ingest_batch=1"]


def _mk_clean(spark, day_msgs):
    """day_msgs: list of (date_str, message) -> parsed clean frame."""
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )

    rows = [
        Row(
            awsRegion="r",
            logGroup="g",
            logStream="s",
            message=f'{{"message":"{m}","timestamp":"{d}T01:00:00.000Z"}}',
        )
        for d, m in day_msgs
    ]
    clean, _ = split_dlq(parse_log_events(spark.createDataFrame(rows)))
    return clean


def test_maintain_rollup_incremental_and_idempotent(spark, tmp_path):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        maintain_rollup,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    table, rollup = str(tmp_path / "t"), str(tmp_path / "mv")
    write_log_table(
        _mk_clean(
            spark,
            [("2024-01-01", "a error"), ("2024-01-01", "b"), ("2024-01-02", "c")],
        ),
        table,
        batch_id=0,
    )
    assert sorted(maintain_rollup(spark, table, rollup)) == [
        "2024-01-01",
        "2024-01-02",
    ]
    # unchanged table -> no refreshes, rollup intact
    assert maintain_rollup(spark, table, rollup) == []
    # a new batch touching ONLY day 2 refreshes only day 2
    write_log_table(
        _mk_clean(spark, [("2024-01-02", "d error")]), table, batch_id=1
    )
    assert maintain_rollup(spark, table, rollup) == ["2024-01-02"]
    got = {
        (str(r.log_date), r.severity): r.n
        for r in spark.read.parquet(rollup).collect()
    }
    assert got == {
        ("2024-01-01", "error"): 1,
        ("2024-01-01", "debug"): 1,
        ("2024-01-02", "debug"): 1,
        ("2024-01-02", "error"): 1,
    }


def test_maintain_rollup_survives_compaction_refold(spark, tmp_path):
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        compact_partition,
        maintain_rollup,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    table, rollup = str(tmp_path / "t"), str(tmp_path / "mv")
    for b in range(2):
        write_log_table(
            _mk_clean(spark, [("2024-01-03", f"m{b}")]), table, batch_id=b
        )
    maintain_rollup(spark, table, rollup)
    before = {
        (str(r.log_date), r.severity): r.n
        for r in spark.read.parquet(rollup).collect()
    }
    compact_partition(spark, table, "2024-01-03")
    # refold changes the files -> the day re-aggregates, totals identical
    assert maintain_rollup(spark, table, rollup) == ["2024-01-03"]
    after = {
        (str(r.log_date), r.severity): r.n
        for r in spark.read.parquet(rollup).collect()
    }
    assert after == before == {("2024-01-03", "debug"): 2}


def test_maintain_rollup_skips_non_iso_partitions(spark, tmp_path):
    """A ``log_date=__HIVE_DEFAULT_PARTITION__`` dir (NULL dates) is not
    a date the pruned refresh can cover: it must be neither reported
    nor recorded as refreshed. Non-canonical spellings Python would
    still parse (20240105) are rejected the same way."""
    import json
    import os
    import shutil

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        _is_iso_date,
        maintain_rollup,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    table, rollup = str(tmp_path / "t"), str(tmp_path / "mv")
    write_log_table(
        _mk_clean(spark, [("2024-01-06", "a error")]), table, batch_id=0
    )
    shutil.copytree(
        os.path.join(table, "log_date=2024-01-06"),
        os.path.join(table, "log_date=__HIVE_DEFAULT_PARTITION__"),
    )
    assert maintain_rollup(spark, table, rollup) == ["2024-01-06"]
    with open(os.path.join(rollup, "_rollup_manifest.json")) as fh:
        assert sorted(json.load(fh)) == ["2024-01-06"]
    got = {
        (str(r.log_date), r.severity): r.n
        for r in spark.read.parquet(rollup).collect()
    }
    assert got == {("2024-01-06", "error"): 1}
    assert _is_iso_date("2024-01-05")
    assert not _is_iso_date("20240105")
    assert not _is_iso_date("__HIVE_DEFAULT_PARTITION__")


def test_maintain_rollup_skips_inflight_batches(spark, tmp_path):
    import os

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.control import (
        maintain_rollup,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import write_log_table

    table, rollup = str(tmp_path / "t"), str(tmp_path / "mv")
    ckpt = tmp_path / "ckpt" / "commits"
    ckpt.mkdir(parents=True)
    (ckpt / "0").write_text("{}")  # last committed batch = 0
    write_log_table(_mk_clean(spark, [("2024-01-04", "a")]), table, batch_id=0)
    write_log_table(_mk_clean(spark, [("2024-01-05", "b")]), table, batch_id=1)
    refreshed = maintain_rollup(
        spark, table, rollup, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert refreshed == ["2024-01-04"]  # batch 1 not committed -> day 5 stale
    (ckpt / "1").write_text("{}")
    assert maintain_rollup(
        spark, table, rollup, checkpoint_dir=str(tmp_path / "ckpt")
    ) == ["2024-01-05"]
    assert os.path.isfile(os.path.join(rollup, "_rollup_manifest.json"))
