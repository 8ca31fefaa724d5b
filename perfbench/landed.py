"""Reads what a shipper run left behind -- the checkpoint's file-source
log and commit log, and the landed log/DLQ tables -- and checks it
against the generator's ground truth. DuckDB reads the parquet files, so
no check goes through the code under test.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

from gen import Truth


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the micro-batch that read it, from the
    file source's metadata log (``sources/0/<id>`` and its compactions)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:  # first line: version
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit-log entry was written."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return {}
    return {int(n): os.stat(os.path.join(commits, n)).st_mtime
            for n in os.listdir(commits) if n.isdigit()}


def count_files(path: str) -> tuple[int, int, int]:
    """(parquet files, bytes, leaf partition dirs) under a table."""
    files = size = 0
    leaves = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                leaves.add(root)
    return files, size, len(leaves)


class Landed:
    """One shipper output (``<out>/logs`` and ``<out>/dlq``) checked
    against the truth of the files its checkpoint says it read."""

    def __init__(self, out_dir: str, checkpoint: str, file_truth: dict[str, Truth]):
        self.out_dir = out_dir
        self.file_batch = file_batches(checkpoint)
        self.commits = commit_times(checkpoint)
        self.file_truth = file_truth

    def missing_files(self) -> list[str]:
        """Input files not read by a committed batch."""
        return sorted(
            f for f in self.file_truth
            if self.file_batch.get(f) not in self.commits
        )

    def check(self) -> tuple[set[int], list[str]]:
        """Returns (ids of batches whose landed rows differ from truth,
        table-level problems). Per batch: clean and DLQ row counts and
        total message length, so a row landing in two ``ingest_batch``
        partitions (or in none) shows up. Over the table: the clean total and
        the per-date severity counts."""
        import duckdb

        expect: dict[int, Truth] = defaultdict(Truth)
        total = Truth()
        for f, t in self.file_truth.items():
            if f in self.file_batch:
                expect[self.file_batch[f]].add(t)
            total.add(t)
        con = duckdb.connect()
        con.execute("SET threads = 2")

        def read(table: str, sql: str) -> list[tuple]:
            path = os.path.join(self.out_dir, table)
            if count_files(path)[0] == 0:  # nothing landed (DuckDB would raise)
                return []
            glob = os.path.join(path, "**", "*.parquet")
            return con.execute(sql.format(
                t=f"read_parquet('{glob}', hive_partitioning = true)")).fetchall()

        logs = {b: (n, c) for b, n, c in read(
            "logs", "SELECT ingest_batch, count(*), sum(length(message)) "
                    "FROM {t} GROUP BY 1")}
        dlq = dict(read("dlq", "SELECT ingest_batch, count(*) FROM {t} GROUP BY 1"))
        bad = set()
        for b in set(expect) | set(logs) | set(dlq):
            t = expect.get(b, Truth())
            got_clean, got_chars = logs.get(b, (0, 0))
            if (got_clean, got_chars or 0, dlq.get(b, 0)) != (t.clean, t.message_chars, t.dlq):
                bad.add(b)
        problems = []
        severity = Counter({(str(d), s): n for d, s, n in read(
            "logs", "SELECT log_date, severity, count(*) FROM {t} GROUP BY ALL")})
        landed = sum(t.clean for t in expect.values())
        if sum(severity.values()) != landed:
            problems.append(f"clean rows {sum(severity.values())} != {landed}")
        if not self.missing_files() and severity != total.severity:
            problems.append("per-date severity counts differ from ground truth")
        return bad, problems
