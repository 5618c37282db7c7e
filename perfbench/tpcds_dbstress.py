"""tpcds_dbstress: two read-only clients run the 27 TPC-DS v2.13 texts
of ``workload.tpcds_corpus.CORPUS`` over a parquet warehouse.

Set-up writes the generated warehouse (``datagen.export``) into the
run's own directory and registers each table as a view. The loop is
closed: a client sends its next statement when the previous one has
returned its rows (``spark.sql(text)`` then ``collect()``, the way a
JDBC client fetches). Statements are dealt in passes: each pass is a
seeded shuffle of the whole corpus, shared by both clients. Every run
measures whole passes, so every run has the same statement mix.

Check: each statement's row count equals DuckDB's count for the same
text over the same parquet files.
"""

from __future__ import annotations

import os
import random
import re
import threading
import time
from collections import deque

from harness import Workload, dir_bytes, p50


class TpcdsDbstress(Workload):
    name = "tpcds_dbstress"
    main_kind = read_kind = "sql"
    clients = 2
    grouped_jobs = True
    unit_s = 18.0  # one pass over the corpus
    min_units = 1
    fact_scale = 1

    def __init__(self, run):
        super().__init__(run)
        from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES
        from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS

        self.corpus = dict(sorted(CORPUS.items()))
        if self.run.tiny:
            self.corpus = dict(list(self.corpus.items())[:6])
        text = "\n".join(self.corpus.values())
        # only the tables the texts read
        self.tables = [t for t in CORE_TABLES if re.search(rf"\b{t}\b", text)]
        self.wh = self.run.path("warehouse")
        self._queue: deque[str] = deque()
        self._pass = 0
        self._qlock = threading.Lock()
        self.rows: dict[int, tuple[str, int]] = {}
        self.scan: list[tuple[int, int, int]] = []

    def setup(self) -> None:
        from lakehouse_dba_tools_spark.datagen.export import warehouse_tables

        spark, tr = self.run.spark, self.run.tracer
        t0 = time.perf_counter()
        with tr.span("datagen.tables"):
            frames = warehouse_tables(spark, scale=self.fact_scale)
        with tr.span("datagen.write"):
            for t in self.tables:
                frames[t].write.mode("overwrite").parquet(os.path.join(self.wh, t))
        self.write_s = time.perf_counter() - t0
        for t in self.tables:
            spark.read.parquet(os.path.join(self.wh, t)).createOrReplaceTempView(t)

    def next_op(self, client: int):
        with self._qlock:
            if not self._queue:
                if self._pass >= self.run.quota:
                    return None
                names = list(self.corpus)
                random.Random(self.run.seed * 7919 + self._pass).shuffle(names)
                self._queue.extend(names)
                self._pass += 1
            return "sql", self._queue.popleft()

    def do_op(self, op_id: int, kind: str, name: str) -> float:
        spark, tr = self.run.spark, self.run.tracer
        t0 = time.perf_counter()
        with tr.span("workload.analyze", op_id):
            df = spark.sql(self.corpus[name])
        with tr.span("workload.fetch", op_id):
            n = len(df.collect())
        latency = time.perf_counter() - t0
        self.rows[op_id] = (name, n)
        return latency

    def after_op(self, op_id: int, kind: str, name: str) -> None:
        """Scan rows, bytes and files of one statement, from a separate
        execution's plan metrics (tracing overhead, not op latency)."""
        from lakehouse_dba_tools_spark.maintenance.metrics import (
            capture_metrics,
            scan_summary,
        )

        spark = self.run.spark
        with self.run.tracer.overhead():
            m = capture_metrics(spark, spark.sql(self.corpus[name]), name)
            rows = scan_summary(m).collect()
            self.scan.append((
                sum(r["rows_read_count"] or 0 for r in rows),
                sum(r["read_bytes"] or 0 for r in rows),
                sum(r["read_files_count"] or 0 for r in rows),
            ))

    def check(self) -> dict[int, str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            con.execute("SET memory_limit='1GB'")
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.wh, t)}/*.parquet')"
                )
            expected = {}
            for name in {n for n, _ in self.rows.values()}:
                sql = self.corpus[name]
                expected[name] = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchone()[0]
        finally:
            con.close()
        return {
            op: f"{name}: {n} rows, DuckDB {expected[name]}"
            for op, (name, n) in self.rows.items()
            if n != expected[name]
        }

    def layer_metrics(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        tr, since = self.run.tracer, self.run.measure_start
        with tr.overhead():
            rows = sum(
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                for d, _, files in os.walk(self.wh)
                for f in files
                if f.endswith(".parquet")
            )
        n = max(1, len(self.scan))
        return {
            "datagen.write_s": self.write_s,
            "datagen.rows": rows,
            "datagen.bytes": dir_bytes(self.wh),
            "workload.analyze_ms_p50": p50(tr.durations_ms("workload.analyze", since)),
            "workload.fetch_ms_p50": p50(tr.durations_ms("workload.fetch", since)),
            "sources.scan_rows_per_sql": sum(s[0] for s in self.scan) / n,
            "sources.scan_bytes_per_sql": sum(s[1] for s in self.scan) / n,
            "sources.scan_files_per_sql": sum(s[2] for s in self.scan) / n,
        }
