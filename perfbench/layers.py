"""Per-layer metrics for a traced run (``--trace 1``).

All of them are taken from outside the package: spans around calls to
its exported functions, Spark's own ``StreamingQueryProgress`` and
status tracker, the JVM's GC beans and the files the sink wrote.

- Prefix ladder: cumulative prefixes of the shipper's kernel over
  ship_backlog files in batch mode, each run as one action into
  ``write.format("noop")``: read_kinesis_event_file, + try_to_binary,
  + gunzip, + from_json and the CONTROL filter (decode_records),
  + explode_log_events, + parse_log_events, + split_dlq. A layer's cost
  is rung(i) - rung(i-1). The scan rung includes the fan-out
  repartition the kernel applies; the split rung persists the kernel
  output and writes both branches, as the streaming path does.
- ``pipeline.kernel_s``: ``batch_kernel(fan_out=True)`` whole; the
  ladder's sum is reported against it. ``pipeline.kernel_1core_s`` is
  the same kernel on ``local[1]`` in a child process (kernel1.py).
- Counts at each layer boundary, which must equal the generator's
  ground truth.
- Sink: the two table writes of a persisted kernel output, timed apart.
- Streaming: per-batch durations from the workload's own streams, jobs
  per batch from the status tracker, and a span around every
  ``LogSink.ship`` call.
- Queries: the traced half of the workload's query phase (every other
  query of each kind is traced; ``trace.overhead_s`` is the traced
  minus the untraced median latency, averaged over kinds).

Which end-to-end metric each layer metric should move:

- sources.*, decode.*_s, parse.*_s, pipeline.*: ship_events_per_s on
  ship_backlog; no change predicted on ship_live or on query latency.
- sink.log_table_s, sink.dlq_s, sink.files_written, sink.bytes_written:
  ship_events_per_s on ship_backlog and freshness_* on ship_live.
- sink.table_files, sink.table_partitions: query_p50_s / query_p90_s,
  most on ship_live, whose table has the streaming layout.
- streaming.*, sink.ship_ms_p50: freshness_* on ship_live; small effect
  on ship_backlog.
- query.*, control.rollup_refresh_s: query_p50_s / query_p90_s.
- session.*, jvm.gc_ms: setup_s, peak_rss_mb and every p90.
- decode/parse counts explain the times above; host.* tell host drift
  apart from code changes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime

import gen
import harness
from landed import count_files
from queries import KINDS
from workloads import BACKLOG_RECORDS, stage

LADDER_FILES = 3
LADDER_PASSES = 2
RUNGS = ("sources.scan_s", "decode.base64_s", "decode.gunzip_s",
         "decode.envelope_s", "decode.explode_s", "parse.kernel_s",
         "parse.split_s")
DURATIONS = {  # per-layer name -> StreamingQueryProgress.durationMs key
    "streaming.trigger_ms_p50": "triggerExecution",
    "streaming.add_batch_ms_p50": "addBatch",
    "streaming.planning_ms_p50": "queryPlanning",
    "streaming.wal_commit_ms_p50": "walCommit",
    "streaming.commit_offsets_ms_p50": "commitOffsets",
    "streaming.latest_offset_ms_p50": "latestOffset",
}
HERE = os.path.dirname(os.path.abspath(__file__))


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ladder(spark, path: str):
    """[(rung name, action)] in prefix order; each action writes its
    prefix into the noop sink."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import (
        decode_records,
        explode_log_events,
        gunzip,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        batch_kernel,
        read_kinesis_event_file,
    )

    par = spark.sparkContext.defaultParallelism

    def records():
        r = read_kinesis_event_file(spark, path)
        return r.repartition(par) if r.rdd.getNumPartitions() < par else r

    def binary():
        return F.try_to_binary(F.col("data"), F.lit("base64"))

    def events():
        return explode_log_events(
            decode_records(records()).filter(~F.col("decode_error")))

    def split():
        parsed = batch_kernel(records(), observe=False).persist()
        try:
            _noop(*split_dlq(parsed))
        finally:
            parsed.unpersist()

    return [
        ("sources.scan_s", lambda: _noop(records())),
        ("decode.base64_s", lambda: _noop(records().select(binary().alias("b")))),
        ("decode.gunzip_s", lambda: _noop(records().select(gunzip(binary()).alias("g")))),
        ("decode.envelope_s", lambda: _noop(decode_records(records()))),
        ("decode.explode_s", lambda: _noop(events())),
        ("parse.kernel_s", lambda: _noop(parse_log_events(events()))),
        ("parse.split_s", split),
    ]


def _noop(*frames) -> None:
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def ladder(spark, path: str, tracer: harness.Tracer) -> dict:
    """Rung times (min over passes), layer costs and the whole kernel."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        batch_kernel,
        read_kinesis_event_file,
    )

    rungs = _ladder(spark, path)
    best: dict[str, float] = {}
    for p in range(LADDER_PASSES):
        for name, action in rungs:
            with tracer.span(f"ladder.{name}", ladder_pass=p) as s:
                action()
            best[name] = min(best.get(name, float("inf")), s["end"] - s["start"])
        with tracer.span("pipeline.kernel", ladder_pass=p) as s:
            _noop(batch_kernel(read_kinesis_event_file(spark, path),
                               observe=False, fan_out=True))
        best["pipeline.kernel_s"] = min(best.get("pipeline.kernel_s", float("inf")),
                                        s["end"] - s["start"])
    out = {}
    prev = 0.0
    for name in RUNGS:
        out[name] = (best[name] - prev, "s")
        prev = best[name]
    out["pipeline.kernel_s"] = (best["pipeline.kernel_s"], "s")
    out["ladder.sum_s"] = (prev, "s")
    out["ladder.sum_vs_kernel"] = (prev / best["pipeline.kernel_s"], "ratio")
    return out


def layer_counts(spark, path: str) -> dict[str, int]:
    """The ground-truth counts, measured at each layer boundary."""
    from pyspark.sql import functions as F

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.decode import (
        decode_records,
        explode_log_events,
        gunzip,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        parse_log_events,
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        batch_kernel,
        read_kinesis_event_file,
    )

    records = read_kinesis_event_file(spark, path)
    binary = F.try_to_binary(F.col("data"), F.lit("base64"))
    n_records, b_in, b_out = records.select(
        F.count(F.lit(1)), F.sum(F.octet_length(binary)),
        F.sum(F.octet_length(gunzip(binary)))).first()
    decoded = decode_records(records).persist()
    n_decoded, errors = decoded.select(
        F.count(F.lit(1)), F.sum(F.col("decode_error").cast("int"))).first()
    events = explode_log_events(decoded.filter(~F.col("decode_error")))
    events_in = events.count()
    parsed_rows = parse_log_events(events).count()
    decoded.unpersist()
    clean, dlq = split_dlq(batch_kernel(records, observe=False))
    return {
        "decode.bytes_in": b_in,
        "decode.bytes_out": b_out,
        "decode.errors": errors,
        "decode.control_skipped": n_records - n_decoded,
        "parse.events_in": events_in,
        "parse.platform_dropped": events_in - parsed_rows,
        "parse.clean_rows": clean.count(),
        "parse.dlq_rows": dlq.count(),
    }


def sink_writes(spark, path: str, out_dir: str, tracer: harness.Tracer) -> dict:
    """Time the log-table and DLQ writes of one persisted kernel output."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.parse import (
        split_dlq,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
        batch_kernel,
        read_kinesis_event_file,
    )
    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import (
        write_dlq,
        write_log_table,
    )

    parsed = batch_kernel(read_kinesis_event_file(spark, path),
                          observe=False, fan_out=True).persist()
    parsed.count()
    clean, dlq = split_dlq(parsed)
    logs, dlq_path = os.path.join(out_dir, "logs"), os.path.join(out_dir, "dlq")
    with tracer.span("sink.log_table") as a:
        write_log_table(clean, logs, batch_id=0)
    with tracer.span("sink.dlq") as b:
        write_dlq(dlq, dlq_path, batch_id=0)
    parsed.unpersist()
    files = [count_files(p) for p in (logs, dlq_path)]
    return {
        "sink.log_table_s": (a["end"] - a["start"], "s"),
        "sink.dlq_s": (b["end"] - b["start"], "s"),
        "sink.files_written": (sum(f[0] for f in files), "count"),
        "sink.bytes_written": (sum(f[1] for f in files), "bytes"),
    }


def _progress_time(p) -> float:
    return datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").timestamp()


def streaming(spark, shippers: list, tracer: harness.Tracer) -> dict:
    """Per-batch breakdown from the workload's streams."""
    batches, waits = [], []
    jobs = 0
    tracker = spark.sparkContext.statusTracker()
    for s in shippers:
        done = [p for p in s.query.recentProgress if p.numInputRows > 0]
        batches.extend(done)
        for a, b in zip(done, done[1:]):
            waits.append(1000 * (_progress_time(b) - _progress_time(a))
                         - a.durationMs["triggerExecution"])
        jobs += len(tracker.getJobIdsForGroup(str(s.query.runId)))
    out = {
        "streaming.batches": (len(batches), "count"),
        "streaming.rows_per_batch_p50": (_med(p.numInputRows for p in batches), "rows"),
        "streaming.trigger_wait_ms_p50": (_med(waits), "ms"),
        "streaming.jobs_per_batch": (jobs / max(1, len(batches)), "jobs"),
        "sink.ship_ms_p50": (1000 * _med(tracer.durations("sink.ship")), "ms"),
    }
    for name, key in DURATIONS.items():
        out[name] = (_med(p.durationMs.get(key, 0) for p in batches), "ms")
    return out


def tracing_overhead(out) -> float:
    """Traced minus untraced median query latency, per kind, averaged
    over the kinds that ran both ways."""
    diffs = []
    for kind in dict.fromkeys(k for k, _, _ in out.queries):
        on = [t for k, t, tr in out.queries if k == kind and tr]
        off = [t for k, t, tr in out.queries if k == kind and not tr]
        if on and off:
            diffs.append(statistics.median(on) - statistics.median(off))
    return statistics.mean(diffs) if diffs else 0.0


def kernel_1core(path: str, work: str) -> float:
    """``batch_kernel`` on local[1], in a child process with its own JVM."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "kernel1.py"), path, work],
        capture_output=True, text=True, timeout=150, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["kernel_s"]


def traced(spark, args, work: str, out, tracer: harness.Tracer,
           start_s: float, warm_s: float, gc0: int) -> dict:
    """Every per-layer metric as {name: (value, unit)}. Each layer count
    is one more operation of ``out``, failed when it differs from the
    generator's ground truth."""
    gc_ms = harness.gc_millis(spark) - gc0
    src = os.path.join(work, "ladder", "src")
    truth = gen.Truth()
    for t in stage(gen.Generator(args.seed, "backlog").corpus(
            LADDER_FILES, BACKLOG_RECORDS), src).values():
        truth.add(t)
    metrics = ladder(spark, src, tracer)
    counts = layer_counts(spark, src)
    for name, value in counts.items():
        tracer.count(name, value)
        metrics[name] = (value, "bytes" if name.endswith("bytes_in")
                         or name.endswith("bytes_out") else "count")
    wrong = [f"{n}: {v} != {truth.counts()[n]}" for n, v in counts.items()
             if v != truth.counts()[n]]
    out.attempted += len(counts)
    if wrong:
        out.fail(len(wrong), "layer counts != ground truth: " + "; ".join(wrong))
    metrics.update(sink_writes(spark, src, os.path.join(work, "ladder", "sink"), tracer))
    files, _, leaves = count_files(out.table)
    metrics["sink.table_files"] = (files, "count")
    metrics["sink.table_partitions"] = (leaves, "count")
    metrics.update(streaming(spark, out.shippers, tracer))
    for kind in KINDS:
        metrics[f"query.{kind}_s"] = (_med(tracer.durations(f"query.{kind}")), "s")
    metrics["control.rollup_refresh_s"] = (
        tracer.durations("control.rollup_refresh")[0], "s")
    metrics["trace.overhead_s"] = (tracing_overhead(out), "s")
    metrics["session.start_s"] = (start_s, "s")
    metrics["session.warmup_s"] = (warm_s, "s")
    metrics["jvm.gc_ms"] = (gc_ms, "ms")
    one = kernel_1core(src, os.path.join(work, "kernel1"))
    metrics["pipeline.kernel_1core_s"] = (one, "s")
    metrics["pipeline.speedup"] = (one / metrics["pipeline.kernel_s"][0], "x")
    return metrics
