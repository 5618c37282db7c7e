"""Benchmark entry point: run one named workload from a seed.

    python3 perfbench/run.py --workload tpcds_dbstress --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Standard error
gets one JSON line of run details (settings, load average, sample
counts), and the full record of the run (per-op timings and, when
traced, every span) is written under ``.perfbench/out/``.

Everything the run writes lives under ``.perfbench/`` in the checkout;
the run's own work directory is wiped before and after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from corpus_index_rw import CorpusIndexRw
from harness import Run, Settings, p50, peak_rss_mb, percentile, stop_spark, wipe
from qh_etl_merge import QhEtlMerge
from spans import SchedulerCounts
from tpcds_dbstress import TpcdsDbstress

WORKLOADS = {w.name: w for w in (TpcdsDbstress, QhEtlMerge, CorpusIndexRw)}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "ops_per_s": "1/s",
    "ok_frac": "ratio",
}

# Layer metrics; a workload that never calls a layer reports 0 for it.
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "datagen.write_s": "s",
    "datagen.rows": "count",
    "datagen.bytes": "bytes",
    "workload.analyze_ms_p50": "ms",
    "workload.fetch_ms_p50": "ms",
    "sources.scan_rows_per_sql": "count",
    "sources.scan_bytes_per_sql": "bytes",
    "sources.scan_files_per_sql": "count",
    "sources.paged_source_ms_p50": "ms",
    "operators.merge_ms_p50": "ms",
    "operators.partitions_rewritten_per_cycle": "count",
    "operators.rewrite_bytes_per_source_byte": "ratio",
    "operators.table_files": "count",
    "maintenance.analyze_ms": "ms",
    "dedup.build_s": "s",
    "dedup.ingest_ms_p50": "ms",
    "dedup.pairs_per_batch": "count",
    "similarity.build_s": "s",
    "similarity.append_ms_p50": "ms",
    "similarity.search_ms_p50": "ms",
    "indexio.lsh_files": "count",
    "indexio.bm25_files": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "client.self_ms_per_op": "ms",
    "workload.self_ms_per_op": "ms",
    "sources.self_ms_per_op": "ms",
    "operators.self_ms_per_op": "ms",
    "maintenance.self_ms_per_op": "ms",
    "dedup.self_ms_per_op": "ms",
    "similarity.self_ms_per_op": "ms",
    "trace.op_p50_ms": "ms",
    "trace.read_p50_ms": "ms",
    "trace.ops_per_s": "1/s",
    "trace.overhead_ms_per_op": "ms",
}

SELF_TIME_LAYERS = ("client", "workload", "sources", "operators", "maintenance", "dedup", "similarity")


def configure(root: str, work: str) -> Settings:
    """Size the session to this machine and keep every file it writes
    inside the run's directory. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(3, int(phys_gb // 2)))}g"
    s = Settings(
        cpus=cpus,
        driver_mem=driver_mem,
        local_dirs=os.path.join(work, "spark-local"),
        tmp_dir=os.path.join(work, "tmp"),
    )
    for d in (s.local_dirs, s.tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = s.local_dirs
    os.environ["TMPDIR"] = s.tmp_dir
    # Python workers started by the JVM import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return s


def session_conf(s: Settings, work: str) -> dict[str, str]:
    return {
        # progress bars would interleave with the result line
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={s.tmp_dir}",
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own self-test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "lakehouse_dba_tools_spark")):
        print(f"perfbench: no lakehouse_dba_tools_spark package under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench", "out")
    wipe(work)
    os.makedirs(out_dir, exist_ok=True)
    settings = configure(root, work)
    sys.path.insert(0, root)
    from lakehouse_dba_tools_spark.session import get_session

    load_before = os.getloadavg()
    run = Run(args.seed, args.seconds, bool(args.trace), args.tiny, work)
    wl = WORKLOADS[args.workload](run)

    conf = session_conf(settings, work)
    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        spark = get_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    run.spark = spark
    run.sched = SchedulerCounts(spark, run.tracer)
    check_error = None
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0
        run.measure(wl)
        measure_end = max((r.end for r in run.records), default=time.perf_counter())
        check_t0 = time.perf_counter()
        try:
            bad = wl.check()
        except Exception as e:  # a check that cannot run fails every op
            check_error = repr(e)
            bad = {r.op_id: check_error for r in run.records}
        check_s = time.perf_counter() - check_t0
        layer = wl.layer_metrics() if run.traced else {}
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        wipe(work)
    load_after = os.getloadavg()

    ok = [r for r in run.records if r.error is None and r.op_id not in bad]
    attempted, failed = len(run.records), len(run.records) - len(ok)
    main_ms = [r.latency_s * 1000 for r in ok if r.kind == wl.main_kind]
    read_ms = [r.latency_s * 1000 for r in ok if r.kind == wl.read_kind]
    wall = measure_end - run.measure_start
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": p50(main_ms),
        "read_p50_ms": p50(read_ms),
        "ops_per_s": len(main_ms) / wall if wall > 0 else 0.0,
        "ok_frac": len(ok) / attempted if attempted else 0.0,
    }

    if run.traced:
        n_ops = max(1, attempted)
        self_s = run.tracer.self_time_s(run.measure_start)
        layer.update(run.sched.means())
        layer["session.start_s"] = session_s
        layer["memory.peak_rss_mb"] = rss
        for name in SELF_TIME_LAYERS:
            layer[f"{name}.self_ms_per_op"] = self_s.get(name, 0.0) * 1000 / n_ops
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        layer["trace.read_p50_ms"] = e2e["read_p50_ms"]
        layer["trace.ops_per_s"] = e2e["ops_per_s"]
        layer["trace.overhead_ms_per_op"] = run.tracer.overhead_s * 1000 / n_ops
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": vars(settings),
        "session_conf": conf,
        "load_before": load_before,
        "load_after": load_after,
        "session_start_s": session_s,
        "peak_rss_mb": rss,
        "ops": attempted,
        "ops_ok": len(ok),
        "failed_frac": failed / attempted if attempted else 0.0,
        "op_samples": len(main_ms),
        "op_p90_ms": percentile(main_ms, 90),
        "read_samples": len(read_ms),
        "read_p90_ms": percentile(read_ms, 90),
        "measured_s": wall,
        "check_s": check_s,
        "check_error": check_error,
        "failures": {str(k): v for k, v in sorted(bad.items())[:5]},
        "op_errors": [r.error for r in run.records if r.error][:3],
    }
    record = dict(details, end_to_end=e2e, per_layer=layer if run.traced else None,
                  records=[vars(r) for r in run.records],
                  spans=run.tracer.to_json())
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh)
    print(json.dumps(details), file=sys.stderr, flush=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
