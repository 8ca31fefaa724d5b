"""The two workloads. Each prepares its inputs from the seed before
anything is timed, ships them, then runs the seeded analyst query mix
over the table it just landed, and returns its samples plus the
operations it attempted and failed. The amount of work is fixed by the
run's seconds -- about three quarters shipping and one quarter querying
on a 4-core host -- and does not depend on how fast the run goes, so every
run of a workload takes the same number of samples of each kind.

- ship_backlog: closed loop. One availableNow drain, with default
  shipper settings, of a pre-written backlog (large envelopes, mostly
  JSON with nested user keys, several days). Decode and parse dominate;
  the fixed cost of the drain's single micro-batch is amortised, and
  every file lands with its one commit. Its query phase reads a table of
  few, larger files over several dates.
- ship_live: open loop. Small files (1-5 events per envelope, mostly
  plain and tab-structured lines, dated today) are renamed into the
  source directory at a fixed rate, well below backlog capacity, under
  the engine's default 2 s trigger. Fixed cost per micro-batch
  dominates freshness. Its query phase reads the streaming layout,
  log_date=D/ingest_batch=N with many small files, so a write-side
  change that writes more or smaller files shows its read cost here.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
from harness import Tracer
from landed import Landed
from queries import KINDS, ROUND, DuckTwin, SparkQueries, query_plan

# ship_backlog: Kinesis records per file (about 4k events), and run
# seconds per backlog file (the drain takes about half of it on a 4-core
# host; the rest covers the drain's fixed cost and the file's generation)
BACKLOG_RECORDS = 100
SECONDS_PER_FILE = 1.0
# ship_live: files per second, Kinesis records per file, and the share of
# the run's seconds the feed lasts (the last micro-batches land after it).
# Each micro-batch costs a fixed part plus a part per file, and it reads
# the files that arrived while the one before it ran; at this rate the
# per-file part stays small, so a slower host lengthens a batch about in
# proportion instead of snowballing into ever larger batches.
LIVE_RATE, LIVE_RECORDS = 5.0, 8
LIVE_SHARE = 0.625
# share of the run's seconds spent shipping; the rest runs the query mix
SHIP_SHARE = 0.75
# query mix: run seconds per timed round (a round of ten queries takes
# 2-4 s; the untimed first round comes on top)
SECONDS_PER_ROUND = 2.0
# set-up warm-up corpus, drained once or more: the first drain in a
# fresh JVM pays class loading, codegen and Python worker start, and a
# second lets the JIT settle on large envelopes (ship_backlog only; the
# live micro-batches are small)
WARM_FILES, WARM_RECORDS = 4, BACKLOG_RECORDS


def query_rounds(seconds: float) -> int:
    return max(2, round(seconds * (1 - SHIP_SHARE) / SECONDS_PER_ROUND))


@dataclass
class Outcome:
    """Samples and operation counts a workload hands back."""

    ship_rates: list[float] = field(default_factory=list)  # events/s
    freshness: list[float] = field(default_factory=list)  # s per file
    # (kind, seconds, traced)
    queries: list[tuple[str, float, bool]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)
    shippers: list = field(default_factory=list)
    table: str | None = None

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)

    def query_times(self) -> list[float]:
        return [t for _, t, _ in self.queries]


class Shipper:
    """One StreamingShipper run into fresh output and checkpoint dirs,
    with a span around every ``LogSink.ship`` call when tracing."""

    def __init__(self, spark, src: str, root: str, tracer: Tracer):
        from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
            StreamingShipper,
        )

        self.out = os.path.join(root, "out")
        self.ckpt = os.path.join(root, "ckpt")
        self.shipper = StreamingShipper(spark, src, self.out, self.ckpt)
        if tracer.enabled:
            ship = self.shipper.sink.ship

            def traced_ship(*args, **kwargs):
                with tracer.span("sink.ship", batch=kwargs.get("batch_id")):
                    return ship(*args, **kwargs)

            self.shipper.sink.ship = traced_ship
        self.query = None

    def start(self, available_now: bool):
        self.query = self.shipper.start(available_now=available_now)
        return self.query

    def landed(self, truth: dict[str, gen.Truth]) -> Landed:
        return Landed(self.out, self.ckpt, truth)


def check_ship(out: Outcome, landed: Landed) -> None:
    """Count a ship's operations: its micro-batches (failed when their
    landed rows differ from truth), its input files (failed when not
    landed), and one table-level check."""
    bad, problems = landed.check()
    missing = landed.missing_files()
    out.attempted += len(landed.commits) + len(landed.file_truth) + 1
    if bad:
        out.fail(len(bad), f"batches {sorted(bad)}: landed rows != ground truth")
    if missing:
        out.fail(len(missing), f"{len(missing)} input files not landed")
    if problems:
        out.fail(1, "; ".join(problems))


def file_freshness(landed: Landed, due: dict[str, float]) -> list[float]:
    """Per landed file: commit time of the batch that read it minus the
    time the file was due at the source."""
    return [landed.commits[landed.file_batch[f]] - t for f, t in due.items()
            if landed.file_batch.get(f) in landed.commits]


def drain(spark, src: str, root: str, truth: dict, tracer: Tracer, out: Outcome) -> None:
    """One availableNow drain of every file in ``src``: adds its
    throughput and per-file freshness (every file is due when the drain
    starts) and checks what landed."""
    ship = Shipper(spark, src, root, tracer)
    events = sum(t.events_in for t in truth.values())
    with tracer.span("streaming.drain", events=events):
        t0 = time.time()
        q = ship.start(available_now=True)
        out.attempted += 1
        try:
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001 -- a failed micro-batch is a failed op
            out.fail(1, f"stream failed: {exc}")
        wall = time.time() - t0
    out.ship_rates.append(events / wall)
    landed = ship.landed(truth)
    out.freshness.extend(file_freshness(landed, dict.fromkeys(truth, t0)))
    check_ship(out, landed)
    out.shippers.append(ship)
    out.table = os.path.join(ship.out, "logs")


def run_queries(sq: SparkQueries, plan: list, tracer: Tracer, out: Outcome) -> list:
    """Run ``plan``. When tracing, every other occurrence of each kind is
    traced, half the kinds starting with a traced one, so traced and
    untraced samples see the same kinds and rounds.
    Returns [(kind, params, answer or the exception raised)]."""
    answers = []
    seen: dict[str, int] = {}
    for kind, params in plan:
        seen[kind] = seen.get(kind, -1) + 1
        traced = tracer.enabled and (seen[kind] + KINDS.index(kind)) % 2 == 0
        with tracer.span(f"query.{kind}") if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                ans = sq.run(kind, params)
            except Exception as exc:  # noqa: BLE001 -- counted as a failed op
                ans = exc
            dt = time.perf_counter() - t0
        out.queries.append((kind, dt, traced))
        answers.append((kind, params, ans))
    return answers


def query_phase(spark, seed: int, table: str, root: str, tracer: Tracer,
                out: Outcome, rounds: int) -> None:
    """Build the severity rollup once (untimed by the query metrics),
    take a first look at the table (one round, checked but not timed:
    the first queries of each kind on a table just landed pay a one-off
    cost that later ones do not), then run the timed rounds of the query
    mix; every answer must equal its DuckDB twin over the same parquet
    files."""
    from cloudwatch_sematext_aws_lambda_log_shipper_spark import control

    rollup = os.path.join(root, "rollup")
    with tracer.span("control.rollup_refresh"):
        control.maintain_rollup(spark, table, rollup)
    twin = DuckTwin(table)
    rids = twin.request_ids()
    days = sorted({d for d, _ in rids})
    plan = query_plan(seed, days, rids, rounds + 1)
    sq = SparkQueries(spark, table, rollup)
    look = len(ROUND)
    answers = run_queries(sq, plan[:look], Tracer(False), Outcome())
    answers += run_queries(sq, plan[look:], tracer, out)
    out.attempted += len(answers)
    wrong = [k for k, p, a in answers
             if isinstance(a, Exception) or a != twin.answer(k, p)]
    if wrong:
        out.fail(len(wrong), f"queries wrong or failed: {sorted(set(wrong))}")


def stage(files: list[gen.CorpusFile], directory: str) -> dict[str, gen.Truth]:
    gen.write_files(files, directory)
    return {f.name: f.truth for f in files}


def warm_up(spark, seed: int, work: str, drains: int) -> Outcome:
    """The set-up pass that absorbs codegen and JIT, which a long-lived
    shipper pays once: ``drains`` drains of a backlog of large
    envelopes, and every query kind over what the first landed. Returns
    the drains' checked operations."""
    scratch = Outcome()
    for i in range(drains):
        root = os.path.join(work, "warm", str(i))
        src = os.path.join(root, "src")
        truth = stage(gen.Generator(seed, "backlog", stream=f"warm{i}").corpus(
            WARM_FILES, WARM_RECORDS), src)
        drain(spark, src, root, truth, Tracer(False), scratch)
        if i == 0:
            sq = SparkQueries(spark, scratch.table, os.path.join(root, "rollup"))
            for kind in KINDS:
                sq.run(kind, {"day": gen.TODAY.isoformat(), "rid": "-"})
    return scratch


class ShipBacklog:
    name = "ship_backlog"
    warm_drains = 2

    def __init__(self, seed: int, work: str, seconds: float):
        self.seed = seed
        self.rounds = query_rounds(seconds)
        self.src = os.path.join(work, "backlog", "src")
        n_files = max(2, round(seconds * SHIP_SHARE / SECONDS_PER_FILE))
        # the backlog is written before the timed window
        self.truth = stage(gen.Generator(seed, "backlog").corpus(n_files, BACKLOG_RECORDS),
                           self.src)

    def run(self, spark, tracer: Tracer) -> Outcome:
        out = Outcome()
        root = os.path.dirname(self.src)
        drain(spark, self.src, root, self.truth, tracer, out)
        query_phase(spark, self.seed, out.table, root, tracer, out, self.rounds)
        return out


class ShipLive:
    name = "ship_live"
    warm_drains = 1

    def __init__(self, seed: int, work: str, seconds: float):
        self.seed, self.work, self.seconds = seed, work, seconds
        self.root = os.path.join(work, "live")
        self.staging = os.path.join(self.root, "staging")
        self.src = os.path.join(self.root, "src")
        os.makedirs(self.src, exist_ok=True)
        n_files = max(1, round(LIVE_RATE * seconds * LIVE_SHARE))
        # payloads are encoded and written before the timed window
        self.truth = stage(gen.Generator(seed, "live").corpus(n_files, LIVE_RECORDS),
                           self.staging)

    def _feed(self, t0: float, due: dict, late: list) -> None:
        """Rename each staged file into the source dir on schedule; the
        rename is atomic, so the file source never reads a partial file."""
        for i, name in enumerate(sorted(self.truth)):
            t_due = t0 + i / LIVE_RATE
            delay = t_due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
            due[name] = t_due
            late.append(time.time() - t_due)

    def run(self, spark, tracer: Tracer) -> Outcome:
        out = Outcome()
        ship = Shipper(spark, self.src, self.root, tracer)
        q = ship.start(available_now=False)
        while q.lastProgress is None and q.isActive:  # first (empty) trigger
            time.sleep(0.05)
        due: dict[str, float] = {}
        late: list[float] = []
        feeder = threading.Thread(target=self._feed, args=(time.time() + 0.2, due, late))
        feeder.start()
        feeder.join()
        landed = ship.landed(self.truth)
        deadline = time.time() + 60
        while landed.missing_files() and q.isActive and time.time() < deadline:
            time.sleep(0.1)
            landed = ship.landed(self.truth)
        q.stop()
        out.attempted += 1
        if q.exception() is not None:
            out.fail(1, f"stream failed: {q.exception()}")
        landed = ship.landed(self.truth)
        missing = set(landed.missing_files())
        span = max(landed.commits.values(), default=0.0) - min(due.values())
        out.ship_rates.append(sum(t.events_in for f, t in self.truth.items()
                                  if f not in missing) / max(span, 1e-9))
        out.freshness = file_freshness(landed, due)
        check_ship(out, landed)
        out.shippers.append(ship)
        out.table = os.path.join(ship.out, "logs")
        # open-loop health: how late the generator ran, and whether the
        # backlog stayed flat (files due in the second half of the feed
        # waited no longer than those due in the first half)
        half = len(out.freshness) // 2
        out.notes["generator_late_ms_max"] = round(1000 * max(late), 3)
        out.notes["backlog_flat"] = half == 0 or statistics.median(
            out.freshness[half:]) <= 1.5 * statistics.median(out.freshness[:half])
        query_phase(spark, self.seed, out.table, self.root, tracer, out,
                    query_rounds(self.seconds))
        return out


WORKLOADS = {w.name: w for w in (ShipBacklog, ShipLive)}
