"""Control plane (C1-C6): source discovery, subscription registry,
cycle guard, retention — the subscriber.js analog.

The reference's control plane is AWS API calls (describeLogGroups /
putSubscriptionFilter / putRetentionPolicy, subscriber.js:12-65); the
Spark-native analog is filesystem/catalog management on the driver:

- C1 discovery: prefix-filtered listing of source directories, paged
  like describeLogGroups (limit 50 + continuation, subscriber.js:20-31).
- C2/C3 subscribe + upsert: a JSON subscription registry mapping source
  path -> filter; on conflict with a different name/pattern the entry is
  replaced (subscriber.js:34-46 delete+re-put semantics).
- C4 cycle guard: the engine's own output path never becomes an input
  (subscriber.js:70-73).
- C5 retention: drop log_date= partitions older than N days from the
  date-partitioned log table — the partition-expiry equivalent of
  putRetentionPolicy(LOG_GROUP_RETENTION_IN_DAYS=1, sample.secrets.json:6).
  This is why the sink partitions by date: retention is an O(partitions)
  directory drop, never a data rewrite, at any table size.
- C6 trigger wiring: ``setup()`` composes discover -> guard -> subscribe,
  the /subscribe HTTP + CreateLogGroup-event entry (serverless.yml:44-58).

Driver-side by design — these are metadata operations, not distributed
computation (SURVEY.md §3 EP2).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import date, timedelta

DEFAULT_PREFIX = "aws/lambda"  # sample.secrets.json:9 ('/aws/lambda')
PAGE_SIZE = 50  # subscriber.js:20


def discover_log_sources(
    base_dir: str, prefix: str = DEFAULT_PREFIX, page_size: int = PAGE_SIZE
) -> list[str]:
    """C1: paginated prefix-filtered source discovery.

    Walks base_dir for directories whose relative path starts with
    ``prefix`` (the describeLogGroups logGroupNamePrefix analog),
    accumulating page by page like the recursive nextToken loop.
    """
    matches: list[str] = []
    for root, dirs, _files in os.walk(base_dir):
        for d in sorted(dirs):
            full = os.path.join(root, d)
            rel = os.path.relpath(full, base_dir)
            if rel.startswith(prefix) and not any(
                os.path.isdir(os.path.join(full, s)) for s in os.listdir(full)
            ):
                matches.append(full)
    # page assembly (cosmetic in-process, but keeps the reference's
    # accumulate-pages shape and bounds memory per "call")
    pages = [matches[i : i + page_size] for i in range(0, len(matches), page_size)]
    out: list[str] = []
    for page in pages:
        out.extend(page)
    return out


@dataclass
class SubscriptionFilter:
    name: str
    pattern: str = ""  # reference FILTER_PATTERN default: match-all ('')
    distribution: str = "ByLogStream"  # subscriber.js:55


class SubscriptionRegistry:
    """C2/C3: persistent source->filter registry with upsert semantics."""

    def __init__(self, path: str):
        self.path = path
        self._subs: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                self._subs = json.load(f)

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(self._subs, f, indent=2, sort_keys=True)

    def subscribe(self, source: str, filt: SubscriptionFilter) -> str:
        """Subscribe a source; on conflict with a DIFFERENT name/pattern,
        replace (delete + re-put, subscriber.js:36-45). Returns one of
        'created' | 'unchanged' | 'replaced'."""
        existing = self._subs.get(source)
        new = {"name": filt.name, "pattern": filt.pattern,
               "distribution": filt.distribution}
        if existing is None:
            self._subs[source] = new
            self._save()
            return "created"
        if existing["name"] == filt.name and existing["pattern"] == filt.pattern:
            return "unchanged"
        self._subs[source] = new
        self._save()
        return "replaced"

    def sources(self) -> list[str]:
        return sorted(self._subs)


def cycle_guard(sources: list[str], own_name: str) -> list[str]:
    """C4: drop any source whose path ends with the shipper's own
    function name (feedback-loop prevention, subscriber.js:70-73)."""
    return [s for s in sources if not s.rstrip("/").endswith(own_name)]


def expire_partitions(
    table_path: str, retention_days: int, today: date | None = None
) -> list[str]:
    """C5: delete log_date= partitions strictly older than the retention
    window. Returns the dropped partition names.

    O(#partitions) directory listing + removes; no data scan, no Spark
    job — the whole point of the date-partitioned sink layout. Covers
    BOTH sink layouts: log_date is the top-level partition for batch
    (``log_date=D``) and streaming (``log_date=D/ingest_batch=N``)
    tables alike, so the recursive remove drops a streaming date's
    per-batch dirs with it.
    """
    today = today or date.today()
    cutoff = today - timedelta(days=retention_days)
    dropped: list[str] = []
    if not os.path.isdir(table_path):
        return dropped
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith("log_date="):
            continue
        try:
            part_date = date.fromisoformat(entry.split("=", 1)[1])
        except ValueError:
            continue
        if part_date < cutoff:
            shutil.rmtree(os.path.join(table_path, entry))
            dropped.append(entry)
    return dropped


def compact_partition(
    spark, table_path: str, log_date: str, target_files: int = 1
) -> int:
    """Maintenance: rewrite one log_date partition's many small files
    (streaming appends create one file set per micro-batch) into
    ``target_files`` files. Returns the file count before compaction.

    Streaming tables nest ``ingest_batch=N`` dirs under the date; those
    are FOLDED into a single ``ingest_batch=-1`` leaf (keeping partition
    depth consistent across the table — Spark cannot read mixed-depth
    layouts). -1 is reserved: real micro-batch ids are non-negative, so
    a folded leaf can never collide with a future batch's dynamic
    overwrite. Only compact dates whose batches are FINAL (a retry of a
    still-in-flight batch would land beside its folded copy — but the
    stream's checkpoint only ever retries the last uncommitted batch, so
    any date before the stream's current position is safe; nightly
    compaction of closed dates trivially satisfies this).

    At scale this is the nightly companion to retention: the streaming
    sink optimizes for latency (small frequent files), the log table's
    readers want fewer large row groups. The rewrite is a single narrow
    coalesce job per partition; the swap is two atomic directory renames
    (old aside, tmp in, delete old LAST), so a reader never observes a
    partial file set and a crash at ANY step leaves the partition
    recoverable — a crashed swap is healed on the next call. The only
    reader-visible window is a brief partition-missing gap between the
    two renames (empty result, not wrong data).

    Concurrent-append safety (nested layout): the fold reads an
    EXPLICIT snapshot of ``ingest_batch=`` leafs and records it in a
    hidden ``.folded_batches`` sidecar inside the folded leaf. A batch
    the stream lands while the fold runs is therefore never silently
    deleted: a leaf swept aside by the swap that is NOT in the sidecar
    is re-attached to the partition before the old dir is removed (the
    crash-heal path replays the same re-attach), and if the stream
    recreates the partition dir between the two renames, the folded
    payload is merged in beside the fresh leafs instead of failing.
    """
    part_dir = os.path.join(table_path, f"log_date={log_date}")
    # dot-prefixed siblings: Spark's partition discovery ignores hidden
    # dirs, so neither staging state ever surfaces as a bogus partition
    tmp_dir = os.path.join(table_path, f".log_date={log_date}._compact_tmp")
    old_dir = os.path.join(table_path, f".log_date={log_date}._compact_old")
    # heal a previously crashed swap: old-aside exists
    if os.path.isdir(old_dir):
        if os.path.isdir(part_dir):
            # crashed after swap-in. If the crash hit mid-merge (the
            # stream had recreated part_dir and the folded leaf was
            # still in tmp), land the folded payload first — old_dir
            # must never be dropped while the folded rows exist only
            # in tmp.
            folded_leaf = os.path.join(part_dir, "ingest_batch=-1")
            tmp_leaf = os.path.join(tmp_dir, "ingest_batch=-1")
            if not os.path.isdir(folded_leaf) and os.path.isfile(
                os.path.join(tmp_leaf, "_SUCCESS")
            ):
                os.rename(tmp_leaf, folded_leaf)
            _reattach_unfolded(part_dir, old_dir)
            shutil.rmtree(old_dir)
        else:
            os.rename(old_dir, part_dir)  # crashed between renames: roll back
    if os.path.isdir(tmp_dir):
        shutil.rmtree(tmp_dir)  # stale tmp from a crashed write
    before = [
        f
        for _root, _dirs, files in os.walk(part_dir)
        for f in files
        if f.startswith("part-")
    ]
    leafs = sorted(
        d for d in os.listdir(part_dir) if d.startswith("ingest_batch=")
    )
    nested = bool(leafs)
    dest = tmp_dir
    if nested:
        # explicit leaf-path read: the fold covers EXACTLY this
        # snapshot, so a leaf the stream writes mid-fold is cleanly
        # re-attachable (a bare part_dir read would leave it ambiguous
        # whether the late leaf made it into the folded data)
        df = spark.read.parquet(
            *[os.path.join(part_dir, d) for d in leafs]
        ).drop("ingest_batch")
        dest = os.path.join(tmp_dir, "ingest_batch=-1")
    else:
        df = spark.read.parquet(part_dir)
    df.coalesce(target_files).write.mode("overwrite").parquet(dest)
    if nested:
        with open(os.path.join(dest, ".folded_batches"), "w") as fh:
            fh.write("\n".join(leafs))
    os.rename(part_dir, old_dir)
    try:
        os.rename(tmp_dir, part_dir)
    except OSError:
        # the stream recreated part_dir between the renames (its new
        # batch dir is in there): merge the folded payload in beside it
        for name in os.listdir(tmp_dir):
            os.rename(
                os.path.join(tmp_dir, name), os.path.join(part_dir, name)
            )
        shutil.rmtree(tmp_dir, ignore_errors=True)
    if nested:
        _reattach_unfolded(part_dir, old_dir)
    shutil.rmtree(old_dir)
    return len(before)


def _reattach_unfolded(part_dir: str, old_dir: str) -> None:
    """Move any ``ingest_batch=`` leaf in ``old_dir`` that the folded
    leaf's ``.folded_batches`` sidecar does NOT cover back into the
    partition — it landed concurrently with the fold and its rows are
    not in the folded data. No sidecar (pre-sidecar fold, or flat
    layout) -> nothing provably unfolded -> no-op."""
    sidecar = os.path.join(part_dir, "ingest_batch=-1", ".folded_batches")
    if not os.path.isfile(sidecar):
        return
    with open(sidecar) as fh:
        folded = {line.strip() for line in fh if line.strip()}
    for d in os.listdir(old_dir):
        if (
            d.startswith("ingest_batch=")
            and d not in folded
            and not os.path.exists(os.path.join(part_dir, d))
        ):
            os.rename(os.path.join(old_dir, d), os.path.join(part_dir, d))


def _last_committed_batch(checkpoint_dir: str) -> int:
    """Highest micro-batch id the stream has COMMITTED (checkpoint
    ``commits/`` listing). Batches <= this id are durable — the stream
    only ever retries the batch after its last commit — so partitions
    they wrote are final and safe to fold. Returns -1 for a fresh or
    missing checkpoint (nothing committed: every batch is suspect)."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return -1
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    return max(ids, default=-1)


def compact_table(
    spark,
    table_path: str,
    before: date | None = None,
    target_files: int = 1,
    checkpoint_dir: str | None = None,
) -> dict[str, int]:
    """Nightly maintenance driver: compact every log_date= partition
    strictly older than ``before`` (None = all partitions — only safe
    when no stream is writing, UNLESS ``checkpoint_dir`` is passed).
    Returns {partition: files_before}.

    Concurrent-stream guard: with ``checkpoint_dir`` (the writing
    stream's checkpoint location), any date partition containing an
    ``ingest_batch=N`` leaf with N newer than the stream's last
    COMMITTED batch is refused (skipped) — that batch is in flight and
    a retry would land beside its folded copy, duplicating rows. This
    makes a misconfigured nightly (``before=None`` against a live
    stream) safe: only dates whose every batch is committed fold.

    This is the batch-folding op that keeps a streaming table's
    per-micro-batch dirs from accumulating forever: each closed date
    collapses to target_files files under the reserved folded leaf
    (see compact_partition).
    """
    out: dict[str, int] = {}
    if not os.path.isdir(table_path):
        return out
    last_committed = (
        _last_committed_batch(checkpoint_dir) if checkpoint_dir is not None else None
    )
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith("log_date="):
            continue
        day = entry.split("=", 1)[1]
        try:
            part_date = date.fromisoformat(day)
        except ValueError:
            continue
        if before is not None and part_date >= before:
            continue
        if last_committed is not None:
            batches = [
                int(d.split("=", 1)[1])
                for d in os.listdir(os.path.join(table_path, entry))
                if d.startswith("ingest_batch=")
                and d.split("=", 1)[1].lstrip("-").isdigit()
            ]
            if any(b > last_committed for b in batches):
                continue  # in-flight batch: refuse to fold this date
        # already-compacted dates (folded leaf or flat layout, at or
        # under the target file count) are skipped — nightly runs must
        # cost O(one day), not O(full table) rewrites
        part_dir = os.path.join(table_path, entry)
        children = os.listdir(part_dir)
        nested = [d for d in children if d.startswith("ingest_batch=")]
        flat_ok = not nested
        folded_ok = nested == ["ingest_batch=-1"]
        n_files = sum(
            1
            for _r, _d, files in os.walk(part_dir)
            for f in files
            if f.startswith("part-")
        )
        if (flat_ok or folded_ok) and n_files <= target_files:
            continue
        out[entry] = compact_partition(spark, table_path, day, target_files)
    return out


def setup(
    base_dir: str,
    registry_path: str,
    own_name: str,
    prefix: str = DEFAULT_PREFIX,
    filter_name: str = "log-shipper-filter",
    filter_pattern: str = "",
) -> dict[str, list[str] | dict[str, str]]:
    """C6: the /subscribe entry — discover, guard, subscribe everything.

    Returns {"sources": [...], "results": {source: status}} for
    observability (processAll, subscriber.js:84-87).
    """
    sources = cycle_guard(discover_log_sources(base_dir, prefix), own_name)
    registry = SubscriptionRegistry(registry_path)
    results = {
        s: registry.subscribe(s, SubscriptionFilter(filter_name, filter_pattern))
        for s in sources
    }
    return {"sources": sources, "results": results}


def _is_iso_date(day: str) -> bool:
    """True iff ``day`` is a canonical YYYY-MM-DD date string — the
    only spelling whose string cast of the ``log_date`` partition
    value matches it back."""
    try:
        return date.fromisoformat(day).isoformat() == day
    except ValueError:
        return False


def maintain_rollup(
    spark,
    table_path: str,
    rollup_path: str,
    group_cols: tuple[str, ...] = ("severity",),
    checkpoint_dir: str | None = None,
) -> list[str]:
    """Incrementally maintain a per-date counts MATERIALIZED VIEW over
    the date-partitioned log table — the daily-severity dashboard
    query precomputed, refreshed at O(changed days), never O(table).

    Change detection is the per-date file fingerprint (names + sizes +
    mtimes, metadata-only — the same helper the corpus caches key on):
    a date partition whose fingerprint matches the manifest is skipped;
    any change (new micro-batch, late data landing, a DLQ replay, even
    a compaction refold) re-aggregates JUST that date and dynamic-
    partition-overwrites its slice of the rollup. Re-aggregating a
    compacted-but-unchanged day wastes one O(day) pass; detecting that
    case exactly would require batch ids that survive refolds, and
    correctness never depends on skipping it.

    Idempotent and crash-safe: the overwrite replaces each date's rows
    atomically per partition, and the manifest (a `_`-prefixed sidecar
    Spark's file index ignores) is rewritten via tmp+rename AFTER the
    refresh lands — a crash between the two just refreshes those dates
    again next run. With ``checkpoint_dir``, dates carrying a batch
    newer than the stream's last committed batch are skipped (same
    in-flight guard as compact_table).
    Partition dirs whose value is not a canonical ISO date
    (``__HIVE_DEFAULT_PARTITION__``, ``20240105``) are skipped too:
    the refresh cannot cover them, so they are never reported or
    recorded as refreshed.

    Scale: ALL changed dates refresh in ONE job (opt r16, guide §2.6):
    a single partition-pruned scan filtered to the changed dates with
    map-side partial aggregation, and one dynamic partition overwrite
    that replaces exactly those dates' slices. The r15 shape ran one
    sequential read+aggregate+write job per changed date — O(changed
    days) scheduler round-trips, which a 1000-day backfill turns into
    1000 serial jobs; the one-shot refresh is the same bytes scanned
    with one scheduling round, and per-date crash granularity (the
    only thing given up) was never load-bearing — a crash before the
    manifest rename refreshes the same dates again. 100 TB tables
    still refresh in time proportional to the data that actually
    arrived since the last run.
    """
    from pyspark.sql import functions as F

    from .plans.synthcache import source_fingerprint

    refreshed: list[str] = []
    if not os.path.isdir(table_path):
        return refreshed
    manifest_path = os.path.join(rollup_path, "_rollup_manifest.json")
    manifest: dict[str, str] = {}
    if os.path.isfile(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
    last_committed = (
        _last_committed_batch(checkpoint_dir)
        if checkpoint_dir is not None
        else None
    )
    changed: dict[str, str] = {}
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith("log_date="):
            continue
        day = entry.split("=", 1)[1]
        if not _is_iso_date(day):
            # __HIVE_DEFAULT_PARTITION__ (NULL dates) or a spelling
            # Spark does not read back as this date (e.g. 20240105):
            # the pruned refresh below would cover none of its rows
            continue
        part_dir = os.path.join(table_path, entry)
        if last_committed is not None:
            batches = [
                int(d.split("=", 1)[1])
                for d in os.listdir(part_dir)
                if d.startswith("ingest_batch=")
                and d.split("=", 1)[1].lstrip("-").isdigit()
            ]
            if any(b > last_committed for b in batches):
                continue  # in-flight batch: leave this date stale
        fp = source_fingerprint(part_dir)
        if manifest.get(day) == fp:
            continue
        changed[day] = fp
    if not changed:
        return refreshed
    # one partition-pruned scan of exactly the changed dates; the
    # string->date cast matches the retired per-date lit(day) cast, and
    # dynamic overwrite replaces exactly the dates present in the output
    days_df = (
        spark.read.parquet(table_path)
        .filter(
            F.col("log_date").cast("string").isin(sorted(changed))
        )
    )
    if "ingest_batch" in days_df.columns:
        days_df = days_df.drop("ingest_batch")
    agg = (
        days_df.groupBy(
            F.col("log_date").cast("date").alias("log_date"),
            *[F.col(f"`{c}`") for c in group_cols],
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    (
        agg.select(*[F.col(f"`{c}`") for c in group_cols], "n", "log_date")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("log_date")
        .parquet(rollup_path)
    )
    manifest.update(changed)
    tmp = manifest_path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, manifest_path)
    refreshed.extend(sorted(changed))
    return refreshed
