"""Seeded Lambda-event corpus generator with exact ground truth.

Pure stdlib (random, json, gzip, base64), one process, no Spark: the
program under test only ever sees the files this module writes. Every
byte is a function of (seed, profile, size), so the same seed gives the
same corpus on any host and any day -- "today" is the fixed TODAY
anchor, not the clock.

Each file is JSON lines of Lambda events (``{"Records": [...]}``), each
record a Kinesis record whose ``data`` is base64(gzip(CloudWatch Logs
subscription payload)). The message mix covers every branch of the
shipper: JSON with nested user keys, tab-structured lines (some with a
4th tab part that the parser drops), plain lines with and without error
words, space-separated structured lines (parse-class DLQ), Lambda
platform START/END/REPORT lines (dropped), CONTROL_MESSAGE records
(dropped), undecodable base64 / non-gzip / ``{}`` records (decode-class
DLQ) and undated rows (which land in the 1970-01-01 partition).

Ground truth is derived from what each message was generated as, never
by running the shipper's own code.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

TODAY = date(2026, 10, 15)
UNDATED = "1970-01-01"
REGIONS = ("us-east-1", "eu-west-1")
# One event record per Lambda event line at most this many Kinesis
# records; a file holds at most BATCH_SIZE records (the reference's
# Kinesis batch size).
RECORDS_PER_LINE = 100
BATCH_SIZE = 1000

DEBUG_MESSAGES = (
    "user login ok",
    "cache refreshed for tenant {n}",
    "request served in {n} ms",
    "fetched {n} items from table orders",
    "queue depth is {n}",
    "handler finished step {n}",
)
# Every one of these classifies as severity=error (generic "error",
# configuration and timeout buckets); a small fixed set so top-N error
# queries see repeats.
ERROR_MESSAGES = (
    "Error: connection reset by peer",
    "TypeError: Cannot read properties of undefined (reading 'id')",
    "upstream returned error 503",
    "Task timed out after 3.00 seconds",
    "Unable to import module 'handler': No module named 'boto4'",
    "process exited before completing request",
)
CONTROL_TEXT = "CWL CONTROL MESSAGE: Checking health of destination Kinesis stream."


@dataclass(frozen=True)
class Profile:
    """Shape of one workload's input."""

    events_per_record: tuple[int, int]
    days: int
    # message kind -> relative weight
    kinds: dict
    error_share: float
    control_share: float
    bad_share: float
    events_per_request: tuple[int, int]
    # spread of one day's events, seconds after 08:00 UTC
    day_span_s: int


PROFILES = {
    # large envelopes, mostly JSON with nested user attributes, several days
    "backlog": Profile(
        events_per_record=(20, 60),
        days=4,
        kinds={"json": 60, "json_undated": 3, "structured": 12,
               "structured_q2": 3, "plain": 8, "q4": 2, "platform": 12},
        error_share=0.12,
        control_share=0.01,
        bad_share=0.01,
        events_per_request=(4, 12),
        day_span_s=6 * 3600,
    ),
    # small envelopes, mostly plain and tab-structured lines, today only
    "live": Profile(
        events_per_record=(1, 5),
        days=1,
        kinds={"json": 8, "structured": 35, "structured_q2": 5, "plain": 34,
               "q4": 3, "platform": 15},
        error_share=0.1,
        control_share=0.02,
        bad_share=0.01,
        events_per_request=(2, 6),
        day_span_s=3600,
    ),
}


@dataclass
class Truth:
    """Expected outcome of shipping a corpus. All counts are exact."""

    records: int = 0
    control: int = 0
    decode_errors: int = 0
    bytes_in: int = 0
    bytes_out: int = 0
    events_in: int = 0
    platform: int = 0
    clean: int = 0
    parse_dlq: int = 0
    # total characters of the shipped `message` column over clean rows
    message_chars: int = 0
    # (log_date, severity) -> clean rows
    severity: Counter = field(default_factory=Counter)

    @property
    def dlq(self) -> int:
        return self.decode_errors + self.parse_dlq

    def add(self, other: "Truth") -> None:
        for k in ("records", "control", "decode_errors", "bytes_in",
                  "bytes_out", "events_in", "platform", "clean", "parse_dlq",
                  "message_chars"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.severity.update(other.severity)

    def counts(self) -> dict:
        return {
            "decode.bytes_in": self.bytes_in,
            "decode.bytes_out": self.bytes_out,
            "decode.errors": self.decode_errors,
            "decode.control_skipped": self.control,
            "parse.events_in": self.events_in,
            "parse.platform_dropped": self.platform,
            "parse.clean_rows": self.clean,
            "parse.dlq_rows": self.dlq,
        }


@dataclass
class CorpusFile:
    name: str
    data: bytes
    truth: Truth


class Generator:
    """One seeded stream of files; successive calls continue the stream,
    so a workload can draw several disjoint corpora from one seed."""

    def __init__(self, seed: int, profile: str, stream: str | None = None):
        self.prefix = stream or profile
        self.rng = random.Random(f"{self.prefix}:{seed}")
        self.profile = PROFILES[profile]
        self.n_files = 0

    def _uuid(self) -> str:
        h = "%032x" % self.rng.getrandbits(128)
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"

    def _text(self, error: bool) -> str:
        if error:
            return self.rng.choice(ERROR_MESSAGES)
        return self.rng.choice(DEBUG_MESSAGES).format(n=self.rng.randrange(1000))

    def _request(self, truth: Truth, n_events: int) -> list[dict]:
        """One invocation's burst of log events (shared request id, a
        few seconds apart)."""
        p, rng = self.profile, self.rng
        day = TODAY - timedelta(days=rng.randrange(p.days))
        t = datetime(day.year, day.month, day.day, 8, tzinfo=timezone.utc)
        t += timedelta(seconds=rng.randrange(p.day_span_s),
                       milliseconds=rng.randrange(1000))
        rid = self._uuid()
        kinds, weights = zip(*p.kinds.items())
        events = []
        for _ in range(n_events):
            t += timedelta(milliseconds=rng.randrange(50, 3000))
            ts = t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"
            kind = rng.choices(kinds, weights)[0]
            error = rng.random() < p.error_share
            text = self._text(error)
            severity = "error" if error else "debug"
            log_date = ts[:10]
            if kind == "json":
                msg = json.dumps({
                    "timestamp": ts, "requestId": rid, "message": text,
                    "user": {"id": rng.randrange(10**6),
                             "plan": rng.choice(("free", "pro", "team")),
                             "tags": rng.sample(("a", "b", "c", "d"), 2)},
                    "latency_ms": rng.randrange(1, 900),
                })
            elif kind == "json_undated":
                msg = json.dumps({"requestId": rid, "message": text,
                                  "attempt": rng.randrange(1, 4)})
                log_date = UNDATED
            elif kind == "structured":
                msg = f"{ts}\t{rid}\t{text}"
            elif kind == "structured_q2":
                # the parser keeps only the first three tab parts
                msg = f"{ts}\t{rid}\t{text}\tcontext={rng.randrange(100)}"
            elif kind == "plain":
                msg = text
                log_date = UNDATED
            elif kind == "q4":
                msg = f"{ts} {rid} {text}"
                truth.parse_dlq += 1
                log_date = None
            else:  # platform
                msg = rng.choice((
                    f"START RequestId: {rid} Version: $LATEST",
                    f"END RequestId: {rid}",
                    f"REPORT RequestId: {rid}\tDuration: {rng.randrange(1, 900)}.12 ms",
                ))
                truth.platform += 1
                log_date = None
            truth.events_in += 1
            if log_date is not None:
                truth.clean += 1
                truth.message_chars += len(text)
                truth.severity[(log_date, severity)] += 1
            events.append({
                "id": str(rng.getrandbits(62)),
                "timestamp": int(t.timestamp() * 1000),
                "message": msg,
            })
        return events

    def _record(self, truth: Truth) -> dict:
        p, rng = self.profile, self.rng
        truth.records += 1
        region = rng.choice(REGIONS)
        roll = rng.random()
        if roll < p.bad_share:
            truth.decode_errors += 1
            kind = rng.randrange(3)
            if kind == 0:  # not base64 at all
                return {"kinesis": {"data": "!!!not-base64!!!"}, "awsRegion": region}
            if kind == 1:  # base64, but not a gzip stream
                raw = b"plain bytes, not gzip"
                truth.bytes_in += len(raw)
                return {"kinesis": {"data": base64.b64encode(raw).decode()},
                        "awsRegion": region}
            payload = b"{}"  # valid envelope JSON without logEvents
        elif roll < p.bad_share + p.control_share:
            truth.control += 1
            payload = json.dumps({
                "messageType": "CONTROL_MESSAGE", "owner": "CloudwatchLogs",
                "logGroup": "", "logStream": "", "subscriptionFilters": [],
                "logEvents": [{"id": "", "timestamp": 0, "message": CONTROL_TEXT}],
            }).encode()
        else:
            n = rng.randint(*p.events_per_record)
            events: list[dict] = []
            while len(events) < n:
                k = min(rng.randint(*p.events_per_request), n - len(events))
                events.extend(self._request(truth, k))
            fn = f"fn-{rng.randrange(8)}"
            day = TODAY.strftime("%Y/%m/%d")
            payload = json.dumps({
                "messageType": "DATA_MESSAGE", "owner": "123456789012",
                "logGroup": f"/aws/lambda/{fn}",
                "logStream": f"{day}/[{rng.choice(('$LATEST', '7', '12'))}]"
                             f"{rng.getrandbits(64):016x}",
                "subscriptionFilters": ["shipper"],
                "logEvents": events,
            }).encode()
        gz = gzip.compress(payload, compresslevel=6, mtime=0)
        truth.bytes_in += len(gz)
        truth.bytes_out += len(payload)
        return {"kinesis": {"data": base64.b64encode(gz).decode()},
                "awsRegion": region}

    def file(self, n_records: int) -> CorpusFile:
        """Next file of the stream: ``n_records`` Kinesis records."""
        if not 1 <= n_records <= BATCH_SIZE:
            raise ValueError(f"n_records must be in 1..{BATCH_SIZE}")
        truth = Truth()
        records = [self._record(truth) for _ in range(n_records)]
        lines = [
            json.dumps({"Records": records[i:i + RECORDS_PER_LINE]})
            for i in range(0, n_records, RECORDS_PER_LINE)
        ]
        self.n_files += 1
        name = f"{self.prefix}-{self.n_files:05d}.json"
        return CorpusFile(name, ("\n".join(lines) + "\n").encode(), truth)

    def corpus(self, n_files: int, n_records: int) -> list[CorpusFile]:
        return [self.file(n_records) for _ in range(n_files)]


def write_files(files: list[CorpusFile], directory: str) -> Truth:
    """Write ``files`` into ``directory``; returns their summed truth."""
    os.makedirs(directory, exist_ok=True)
    total = Truth()
    for f in files:
        with open(os.path.join(directory, f.name), "wb") as fh:
            fh.write(f.data)
        total.add(f.truth)
    return total
