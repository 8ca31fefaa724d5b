"""The analyst query mix over a shipped log table, each kind with a
DuckDB twin over the same parquet files (or the generator's ground
truth) that its answer must match.

Every Spark-side query goes through the package's exported functions
(``catalog``, ``streaming.pipeline``, ``control``, ``sink``); answers are
normalised to sorted tuples of plain strings and ints before comparing.
"""

from __future__ import annotations

import os
import random

VIEW = "logs"
KINDS = ("top_errors", "severity_windows", "request_sessions",
         "error_context", "request_lookup", "rollup_poll")

TOP_ERRORS_SQL = (
    "SELECT message, count(*) AS n FROM {logs} WHERE severity = 'error' "
    "GROUP BY message ORDER BY n DESC, message LIMIT 5"
)
LOOKUP_SQL = (
    "SELECT `function.name`, `@timestamp`, message, severity FROM {logs} "
    "WHERE log_date = DATE'{day}' AND `function.request.id` = '{rid}'"
)


def _ts(value) -> str:
    return value.strftime("%Y-%m-%d %H:%M:%S.%f")[:23]


class SparkQueries:
    """Runs one query of a kind against a registered log table."""

    def __init__(self, spark, table: str, rollup: str):
        from cloudwatch_sematext_aws_lambda_log_shipper_spark import catalog

        self.spark = spark
        self.table = table
        self.rollup = rollup
        catalog.register_log_table(spark, table, VIEW)

    def _day_frame(self, day: str):
        from pyspark.sql import functions as F

        from cloudwatch_sematext_aws_lambda_log_shipper_spark.sink import (
            read_log_table,
        )

        return read_log_table(self.spark, self.table).filter(
            F.col("log_date") == F.lit(day).cast("date"))

    def run(self, kind: str, params: dict) -> list[tuple]:
        from cloudwatch_sematext_aws_lambda_log_shipper_spark import (
            catalog,
            control,
        )
        from cloudwatch_sematext_aws_lambda_log_shipper_spark.streaming import (
            correlate_error_context,
            sessionized_request_stats,
            windowed_severity_counts,
        )

        if kind == "top_errors":
            rows = catalog.sql(self.spark, TOP_ERRORS_SQL.format(logs=VIEW)).collect()
            return [(r[0], r[1]) for r in rows]
        if kind == "severity_windows":
            rows = windowed_severity_counts(self._day_frame(params["day"])).collect()
            return sorted((_ts(r.window_start), r.severity, r.n) for r in rows)
        if kind == "request_sessions":
            rows = sessionized_request_stats(self._day_frame(params["day"])).collect()
            return sorted((_ts(r.session_start), _ts(r.session_end), r.function_name,
                           r.request_id, r.n_events, r.n_errors) for r in rows)
        if kind == "error_context":
            rows = correlate_error_context(self._day_frame(params["day"])).collect()
            return sorted((r.request_id, r.error_message, _ts(r.error_time),
                           r.context_message, _ts(r.context_time)) for r in rows)
        if kind == "request_lookup":
            rows = catalog.sql(self.spark, LOOKUP_SQL.format(logs=VIEW, **params)).collect()
            return sorted(tuple(r) for r in rows)
        if kind == "rollup_poll":
            control.maintain_rollup(self.spark, self.table, self.rollup)
            rows = self.spark.read.parquet(self.rollup).collect()
            return sorted((str(r.log_date), r.severity, r.n) for r in rows)
        raise ValueError(kind)


class DuckTwin:
    """The same questions asked of the same parquet files through DuckDB."""

    def __init__(self, table: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            "CREATE VIEW logs AS SELECT * EXCLUDE (attributes), "
            "TRY_CAST(\"@timestamp\" AS TIMESTAMP) AS ts FROM read_parquet("
            f"'{os.path.join(table, '**', '*.parquet')}', hive_partitioning = true)"
        )

    def rows(self, sql: str, *args) -> list[tuple]:
        return self.con.execute(sql, list(args)).fetchall()

    def request_ids(self) -> list[tuple[str, str]]:
        return [(str(d), r) for d, r in self.rows(
            'SELECT DISTINCT log_date, "function.request.id" FROM logs '
            'WHERE "function.request.id" IS NOT NULL AND ts IS NOT NULL '
            "ORDER BY 1, 2")]

    def answer(self, kind: str, params: dict) -> list[tuple]:
        day = params.get("day")
        if kind == "top_errors":
            return [tuple(r) for r in self.rows(
                "SELECT message, count(*) AS n FROM logs WHERE severity = 'error' "
                "GROUP BY message ORDER BY n DESC, message LIMIT 5")]
        if kind == "severity_windows":
            rows = self.rows(
                "SELECT time_bucket(INTERVAL 1 minute, ts) AS w, severity, count(*) "
                "FROM logs WHERE log_date = CAST(? AS DATE) AND ts IS NOT NULL "
                "GROUP BY ALL", day)
            return sorted((_ts(w), s, n) for w, s, n in rows)
        if kind == "request_sessions":
            # gap sessions: a new session starts when an event is 5 minutes
            # or more after the previous event of the same key
            rows = self.rows(
                "WITH e AS (SELECT \"function.name\" AS fn, "
                "\"function.request.id\" AS rid, ts, severity FROM logs "
                "WHERE log_date = CAST(? AS DATE) AND ts IS NOT NULL "
                "AND \"function.request.id\" IS NOT NULL), "
                "g AS (SELECT *, CASE WHEN ts - lag(ts) OVER w >= INTERVAL 5 minute "
                "THEN 1 ELSE 0 END AS brk FROM e WINDOW w AS "
                "(PARTITION BY fn, rid ORDER BY ts)), "
                "s AS (SELECT *, sum(brk) OVER (PARTITION BY fn, rid ORDER BY ts "
                "ROWS UNBOUNDED PRECEDING) AS sid FROM g) "
                "SELECT min(ts), max(ts) + INTERVAL 5 minute, fn, rid, count(*), "
                "sum(CASE WHEN severity = 'error' THEN 1 ELSE 0 END) "
                "FROM s GROUP BY fn, rid, sid", day)
            return sorted((_ts(a), _ts(b), fn, rid, n, int(e))
                          for a, b, fn, rid, n, e in rows)
        if kind == "error_context":
            rows = self.rows(
                "WITH b AS (SELECT * FROM logs WHERE log_date = CAST(? AS DATE) "
                "AND ts IS NOT NULL AND \"function.request.id\" IS NOT NULL) "
                "SELECT e.\"function.request.id\", e.message, e.ts, c.message, c.ts "
                "FROM b e JOIN b c ON e.\"function.request.id\" = c.\"function.request.id\" "
                "AND c.ts BETWEEN e.ts - INTERVAL 5 minute AND e.ts + INTERVAL 5 minute "
                "WHERE e.severity = 'error' AND c.severity <> 'error'", day)
            return sorted((r, em, _ts(et), cm, _ts(ct)) for r, em, et, cm, ct in rows)
        if kind == "request_lookup":
            return sorted(self.rows(
                'SELECT "function.name", "@timestamp", message, severity FROM logs '
                'WHERE log_date = CAST(? AS DATE) AND "function.request.id" = ?',
                day, params["rid"]))
        if kind == "rollup_poll":
            return sorted((str(d), s, n) for d, s, n in self.rows(
                "SELECT log_date, severity, count(*) FROM logs GROUP BY ALL"))
        raise ValueError(kind)


# One round of the mix. Point lookups are the analyst's most frequent
# action, then error-context drill-downs. With these weights as many
# queries run faster than the top-errors and rollup-poll pair as slower,
# so the median falls inside that pair's latencies and the p90 inside
# those of the heaviest kinds (error context, request sessions), rather
# than on the gap between two kinds.
ROUND = KINDS + ("request_lookup",) * 3 + ("error_context",)


def query_plan(seed: int, days: list[str], rids: list[tuple[str, str]],
               rounds: int) -> list[tuple[str, dict]]:
    """Seeded mix: each round runs ROUND in a seeded order, so every run
    executes the same number of queries of every kind."""
    rng = random.Random(f"queries:{seed}")
    plan = []
    for _ in range(rounds):
        for kind in rng.sample(ROUND, len(ROUND)):
            params: dict = {}
            if kind in ("severity_windows", "request_sessions", "error_context"):
                params["day"] = rng.choice(days)
            elif kind == "request_lookup":
                params["day"], params["rid"] = rng.choice(rids)
            plan.append((kind, params))
    return plan
