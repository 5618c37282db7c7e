"""qh_etl_merge: one client replays query-history records as
overlapping look-back windows and MERGEs them into a date-partitioned
parquet table.

A cycle (the write op) fetches one window as JSON pages
(``sources.json_records.paged_source``, schema inferred), splats the
``metrics`` struct (``operators.flatten``), keeps the latest record per
``query_id`` (``operators.dedup.dedup_by_key``) and upserts the result
(``operators.upsert.create_or_upsert_partitioned``). Windows overlap,
so part of every cycle updates rows the cycle before inserted and the
rest inserts new ones. After each cycle the loop runs the reference's
post-merge ANALYZE (``maintenance.compact.analyze_table``), the read
op: it scans the whole table, which grows during the run. Set-up
creates the table from the first window and runs ANALYZE, so the first
timed ANALYZE does not pay for the JVM's first pass over its code (in
set-up, that cost still counts in ``setup_s``).

Windows of 5,000 records with a 4,000-record stride put 1,000 updates
and 4,000 inserts in a cycle. Pages hold 1,000 records, five to a
cycle: the reference pulls ``max_results``-sized pages (SURVEY.md,
S7); the repository's own registered ETL query uses 100, which would
mean 50 JSON inferences a cycle and more time than a run can spend.

Check: the final table, every column of every row, equals the latest
state of every record any cycle fetched, flattened as the cycle
flattens it and read back with DuckDB; each ANALYZE reports the
``query_id`` range and the count of queries still running that the
table held at that point.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from harness import Workload, dir_bytes, p50
from inputs import QueryHistory

# the record fields a flattened row holds, plus the derived columns
COLUMNS = {
    "query_id", "query_start_time_ms", "query_end_time_ms", "status", "is_final",
    "fetch_seq", "user_id", "statement_type", "execution_time_ms", "k",
    "query_start_time", "query_date",
}


def _flat_row(rec: dict) -> dict:
    """A record as the table holds it: ``metrics`` splatted, booleans
    as the strings ``paged_source`` turns them into, and the start time
    as an instant and a UTC date."""
    row = {k: v for k, v in rec.items() if k != "metrics"}
    row.update(rec["metrics"])
    row["is_final"] = str(rec["is_final"]).lower()
    start = dt.datetime.fromtimestamp(rec["query_start_time_ms"] / 1000, dt.timezone.utc)
    row["query_start_time"] = rec["query_start_time_ms"]
    row["query_date"] = start.date().isoformat()
    return row


def _epoch_ms(ts: dt.datetime) -> int:
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return round(ts.timestamp() * 1000)


class QhEtlMerge(Workload):
    name = "qh_etl_merge"
    main_kind = "cycle"
    read_kind = "analyze"
    unit_s = 8.0  # a cycle and its ANALYZE

    def __init__(self, run):
        super().__init__(run)
        size, stride, self.page = (500, 400, 100) if self.run.tiny else (5000, 4000, 1000)
        self.qh = QueryHistory(self.run.seed, size, stride)
        self.table = self.run.path("query_history")
        self.cycles = 0  # cycles started, the set-up's create included
        self.issued = 0  # timed cycles started
        self.analyze_due = False
        self.cycle_ops: list[int] = []
        # op id -> (cycles merged when analyzed, the ANALYZE rows)
        self.analyzed: dict[int, tuple[int, list]] = {}
        self.rewritten: list[int] = []
        self.rewrite_bytes = 0
        self.source_bytes = 0

    def _cycle(self, op_id: int | None, pages) -> list[str]:
        from pyspark.sql import functions as F

        from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key
        from lakehouse_dba_tools_spark.operators.flatten import (
            splat_structs,
            with_epoch_timestamps,
        )
        from lakehouse_dba_tools_spark.operators.upsert import (
            create_or_upsert_partitioned,
        )
        from lakehouse_dba_tools_spark.sources.json_records import paged_source

        spark, tr = self.run.spark, self.run.tracer
        with tr.span("sources.paged_source", op_id):
            df = paged_source(spark, pages)
        with tr.span("operators.flatten", op_id):
            df = splat_structs(df, ["metrics"])
            df = with_epoch_timestamps(df, {"query_start_time_ms": "query_start_time"})
            df = df.withColumn("query_date", F.to_date("query_start_time"))
        with tr.span("operators.dedup", op_id):
            df = dedup_by_key(df, ["query_id"], ["fetch_seq"], keep="last")
        with tr.span("operators.merge", op_id):
            return create_or_upsert_partitioned(
                spark, df, self.table, ["query_id"], "query_date"
            )

    def _pages(self):
        pages = self.qh.pages(self.cycles, self.page)
        self.cycles += 1
        return pages

    def setup(self) -> None:
        self._cycle(None, self._pages())
        self._analyze(None)

    def next_op(self, client: int):
        if self.analyze_due:
            self.analyze_due = False
            return "analyze", self.cycles
        if self.issued >= self.run.quota:
            return None
        self.issued += 1
        self.analyze_due = True
        return "cycle", self._pages()

    def do_op(self, op_id: int, kind: str, payload) -> float:
        t0 = time.perf_counter()
        if kind == "cycle":
            self._last_rewritten = self._cycle(op_id, payload)
            latency = time.perf_counter() - t0
            self.cycle_ops.append(op_id)
            return latency
        rows = self._analyze(op_id)
        latency = time.perf_counter() - t0
        self.analyzed[op_id] = (payload, rows)
        return latency

    def _analyze(self, op_id: int | None) -> list:
        from lakehouse_dba_tools_spark.maintenance.compact import analyze_table

        spark = self.run.spark
        with self.run.tracer.span("maintenance.analyze", op_id):
            return analyze_table(spark, spark.read.parquet(self.table)).collect()

    def after_op(self, op_id: int, kind: str, pages) -> None:
        if kind != "cycle":
            return
        with self.run.tracer.overhead():
            self.rewritten.append(len(self._last_rewritten))
            self.rewrite_bytes += sum(
                dir_bytes(os.path.join(self.table, d)) for d in self._last_rewritten
            )
            self.source_bytes += sum(len(json.dumps(r)) for p in pages for r in p)

    def check(self) -> dict[int, str]:
        bad = self._check_analyze()
        problems = self._check_table()
        if problems:
            # the table is the product of every cycle, so all of them failed
            msg = f"final table differs ({len(problems)} problems): {problems[:3]}"
            bad.update({op: msg for op in self.cycle_ops})
        return bad

    def _check_table(self) -> list[str]:
        import duckdb

        expected = {
            i: _flat_row(rec) for i, rec in self.qh.latest(self.cycles).items()
        }
        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            cur = con.execute(
                "SELECT * REPLACE (CAST(query_date AS VARCHAR) AS query_date) "
                f"FROM read_parquet('{self.table}/query_date=*/*.parquet', "
                "hive_partitioning=1)"
            )
            names = [d[0] for d in cur.description]
            got = cur.fetchall()
        finally:
            con.close()
        if set(names) != COLUMNS:
            return [f"columns {sorted(names)}, expected {sorted(COLUMNS)}"]
        problems = []
        if len(got) != len(expected):
            problems.append(f"{len(got)} rows, expected {len(expected)}")
        seen = set()
        for values in got:
            row = dict(zip(names, values))
            row["query_start_time"] = _epoch_ms(row["query_start_time"])
            qid = row["query_id"]
            if qid in seen or row != expected.get(qid):
                problems.append(f"query_id {qid}: {row}")
            seen.add(qid)
        return problems

    def _check_analyze(self) -> dict[int, str]:
        bad = {}
        for op, (cycles, rows) in self.analyzed.items():
            latest = self.qh.latest(cycles)
            stats = {r["column_name"]: r for r in rows}
            qid, end = stats.get("query_id"), stats.get("query_end_time_ms")
            got = (
                qid and (qid["min_value"], qid["max_value"], qid["num_nulls"]),
                end and end["num_nulls"],
            )
            running = sum(r["query_end_time_ms"] is None for r in latest.values())
            want = (("0", str(max(latest)), 0), running)
            if got != want:
                bad[op] = f"ANALYZE (query_id range and nulls, running): {got}, expected {want}"
        return bad

    def layer_metrics(self) -> dict[str, float]:
        from lakehouse_dba_tools_spark.operators.indexio import parquet_file_count

        tr, since = self.run.tracer, self.run.measure_start
        n = max(1, len(self.rewritten))
        return {
            "sources.paged_source_ms_p50": p50(tr.durations_ms("sources.paged_source", since)),
            "operators.merge_ms_p50": p50(tr.durations_ms("operators.merge", since)),
            "operators.partitions_rewritten_per_cycle": sum(self.rewritten) / n,
            "operators.rewrite_bytes_per_source_byte": self.rewrite_bytes / max(1, self.source_bytes),
            "operators.table_files": parquet_file_count(self.table),
            "maintenance.analyze_ms": p50(tr.durations_ms("maintenance.analyze", since)),
        }
