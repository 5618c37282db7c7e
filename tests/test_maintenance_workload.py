from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.maintenance.audit import (
    column_stats_report,
    file_detail_report,
    rowcount_report,
)
from lakehouse_dba_tools_spark.maintenance.compact import (
    optimize_cluster,
    optimize_compact,
    vacuum_staging,
)
from lakehouse_dba_tools_spark.multimodal.binary_ops import (
    attach_fake_media,
    extract_features,
    resize_stub,
    sample_frames,
)
from lakehouse_dba_tools_spark.sources.tables import load_table
from lakehouse_dba_tools_spark.workload.harness import (
    SqlUnit,
    latency_summary,
    run_workload,
    strip_sql_comments,
)


def test_rowcount_and_file_detail(spark, sf_dir):
    dfs = {t: load_table(spark, sf_dir, t) for t in ("region", "nation")}
    counts = {r.table_name: r.n_rows for r in rowcount_report(dfs).collect()}
    assert counts["region"] == 5 and counts["nation"] == 25
    detail = file_detail_report(
        spark, {t: os.path.join(sf_dir, f"{t}.parquet") for t in dfs}
    ).collect()
    by_name = {r.table_name: r for r in detail}
    assert by_name["region"].num_rows == 5
    assert by_name["region"].size_bytes > 0


def test_column_stats_native_ordering(spark):
    df = spark.createDataFrame([(9,), (100,), (None,)], "x int")
    row = column_stats_report(df, approx_distinct=False).collect()[0]
    assert row.min_value == "9" and row.max_value == "100"
    assert row.num_nulls == 1 and row.num_distinct == 2


def test_compact_and_cluster_preserve_data(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders")
    src.repartition(8).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 8
    optimize_compact(spark, path)
    assert len(glob.glob(path + "/*.parquet")) < 8
    after = spark.read.parquet(path)
    assert after.count() == src.count()

    optimize_cluster(spark, path, ["o_custkey"], num_files=2)
    clustered = spark.read.parquet(path)
    assert clustered.count() == src.count()
    # clustering: each file owns a disjoint o_custkey range
    ranges = (
        clustered.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2

    assert vacuum_staging(path) == []


def test_workload_harness(spark, sf_dir):
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    units = [
        SqlUnit("ok_unit", "SELECT count(*) AS n FROM nation", parallel=2, repeats=3),
        SqlUnit("bad_unit", "SELECT * FROM missing_table", parallel=1, repeats=2),
    ]
    results = run_workload(spark, units)
    summary = {r.unit_name: r for r in latency_summary(results).collect()}
    assert summary["ok_unit"].n_runs == 6 and summary["ok_unit"].n_ok == 6
    assert summary["bad_unit"].n_runs == 2 and summary["bad_unit"].n_ok == 0
    assert summary["ok_unit"].p50_ms > 0


def test_strip_sql_comments():
    sql = "-- header\nSELECT 1 /* inline\nmultiline */ AS x;\n-- trailer"
    assert strip_sql_comments(sql) == "SELECT 1  AS x"


def test_multimodal_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_media(docs)
    assert dict(media.dtypes)["media"] == "binary"

    feats = extract_features(media, mode="fake")
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.feature) == 32 for r in rows)
    # determinism: same input → same features
    again = extract_features(media, mode="fake").collect()
    assert {r.doc_id: r.content_sha for r in rows} == {r.doc_id: r.content_sha for r in again}
    # histogram is L1-normalized
    assert all(abs(sum(r.feature) - 1.0) < 1e-9 for r in rows)

    frames = sample_frames(media, every_n=30, mode="fake")
    fcount = frames.groupBy("doc_id").count()
    meta = {r.doc_id: r.n_frames for r in media.filter("media_type = 'video/mp4'").collect()}
    for r in fcount.collect():
        assert r["count"] == (meta[r.doc_id] + 29) // 30

    resized = resize_stub(media, 224, 224)
    assert resized.select(F.min("width"), F.max("height")).collect()[0] == (224, 224)


def test_multimodal_real_mode_capability_probe(spark, sf_dir):
    """Round-6: the real-codec seam is an executable contract. With no
    codecs on this image the probe reports unavailable and real mode
    raises the deploy instruction; WITH Pillow present the same call
    decodes a real PNG through the identical schema (exercised here
    only if the environment ever gains the lib — no skip, both
    branches are asserted)."""
    import pytest

    from lakehouse_dba_tools_spark.multimodal.binary_ops import (
        _decode_real,
        codec_capabilities,
    )

    caps = codec_capabilities()
    assert set(caps) == {"pillow", "ffmpeg"}
    docs = load_table(spark, sf_dir, "documents").limit(2)
    media = attach_fake_media(docs)
    if caps["pillow"]:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (8, 8), 128).save(buf, format="PNG")
        feat = _decode_real(buf.getvalue(), "image/png")
        assert len(feat) > 0 and abs(feat.sum() - 1.0) < 1e-9
    else:
        with pytest.raises(Exception, match="NotImplementedError|real decode"):
            extract_features(media, mode="real").collect()
    # ffmpeg-backed paths stay gated either way in this sandbox
    if not caps["ffmpeg"]:
        with pytest.raises(NotImplementedError):
            _decode_real(b"xx", "video/mp4")


def test_wait_until_reaches_target_with_backoff():
    from lakehouse_dba_tools_spark.operators.lifecycle import wait_until

    states = iter(["STARTING", "STARTING", "RUNNING"])
    sleeps: list[float] = []
    t = [0.0]

    def clock():
        return t[0]

    def sleeper(s):
        sleeps.append(s)
        t[0] += s

    res = wait_until(
        lambda: next(states), target="RUNNING",
        poll_interval_sec=5.0, backoff=2.0, max_interval_sec=8.0,
        timeout_sec=600.0, clock=clock, sleeper=sleeper,
    )
    assert res.reached and res.final_state == "RUNNING" and res.n_polls == 3
    assert sleeps == [5.0, 8.0]  # backoff doubles then caps
    assert [s for _, s in res.history] == ["STARTING", "STARTING", "RUNNING"]


def test_wait_until_times_out():
    from lakehouse_dba_tools_spark.operators.lifecycle import wait_until

    t = [0.0]

    def clock():
        return t[0]

    def sleeper(s):
        t[0] += s

    res = wait_until(
        lambda: "STARTING", target="RUNNING",
        poll_interval_sec=10.0, timeout_sec=25.0, clock=clock, sleeper=sleeper,
    )
    assert not res.reached and res.n_polls == 3  # polls at t=0,10,20; next would breach


def test_pricing_csv_matches_literal(spark):
    from lakehouse_dba_tools_spark.queries_datagen import (
        PRICING_TIERS,
        load_pricing_dim,
    )

    rows = sorted(tuple(r) for r in load_pricing_dim(spark).collect())
    assert rows == sorted(PRICING_TIERS)


def test_poll_stamp_current_timestamp_mode(spark):
    from lakehouse_dba_tools_spark.operators.lifecycle import with_poll_stamp

    df = spark.createDataFrame([(1,)], "id int")
    out = with_poll_stamp(df).collect()[0]
    assert out.polled_timestamp is not None


def test_commit_log_history_and_checkpoint(spark, tmp_path):
    """create -> merge -> optimize leaves a DESCRIBE HISTORY trail;
    checkpoint collapses it (D8/D13 analogs over the engine's own log)."""
    from lakehouse_dba_tools_spark.maintenance.history import (
        checkpoint_log,
        describe_history,
        record_commit,
    )
    from lakehouse_dba_tools_spark.operators.upsert import create_or_upsert_parquet

    path = str(tmp_path / "orders_tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    create_or_upsert_parquet(spark, df1, path, ["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    create_or_upsert_parquet(spark, df2, path, ["k"])

    hist = describe_history(spark, path).collect()
    assert [r.operation for r in hist] == ["MERGE", "CREATE"]  # newest first
    assert hist[0].version == 1 and hist[0].num_output_rows == 3

    record_commit(path, "OPTIMIZE")
    record_commit(path, "MERGE", num_output_rows=4)
    collapsed = checkpoint_log(path, keep_last=1)
    assert collapsed == 3
    hist2 = describe_history(spark, path).collect()
    assert [r.operation for r in hist2] == ["MERGE", "CHECKPOINT"]
    assert hist2[1].version == 2  # checkpoint carries the collapsed head version


def test_partitioned_commits_record_table_row_counts(spark, tmp_path):
    """CREATE and MERGE on a partitioned table log the table's row count,
    read from the parquet files inside its partition directories."""
    from lakehouse_dba_tools_spark.maintenance.history import describe_history
    from lakehouse_dba_tools_spark.operators.upsert import create_or_upsert_partitioned

    path = str(tmp_path / "part_tbl")
    df1 = spark.createDataFrame([(1, "a", "p1"), (2, "b", "p2")], "k int, v string, p string")
    create_or_upsert_partitioned(spark, df1, path, ["k"], "p")
    created = spark.read.parquet(path).count()
    df2 = spark.createDataFrame([(2, "B", "p2"), (3, "c", "p3")], "k int, v string, p string")
    create_or_upsert_partitioned(spark, df2, path, ["k"], "p")
    merged = spark.read.parquet(path).count()

    hist = describe_history(spark, path).collect()
    assert [(r.operation, r.num_output_rows) for r in hist] == [
        ("MERGE", merged), ("CREATE", created),
    ]
    assert (created, merged) == (2, 3)


def _z_ref(ranks, bits):
    z = 0
    n = len(ranks)
    for ci, r in enumerate(ranks):
        for b in range(bits):
            z |= ((r >> b) & 1) << (b * n + ci)
    return z


def test_z_value_matches_reference_interleave(spark):
    from lakehouse_dba_tools_spark.maintenance.compact import z_value

    df = spark.createDataFrame(
        [(0, 0), (1023, 1023), (512, 1), (7, 896)], "x long, y long"
    )
    mins, maxs = {"x": 0.0, "y": 0.0}, {"x": 1023.0, "y": 1023.0}
    got = {(r.x, r.y): r.z for r in df.withColumn("z", z_value(["x", "y"], mins, maxs, 10)).collect()}
    for (x, y), z in got.items():
        assert z == _z_ref([x, y], 10), (x, y)


def test_optimize_zorder_bounds_every_dimension(spark, tmp_path):
    """Z-order's point: each output file covers a BOUNDED range of the
    second key too; lexicographic clustering leaves the trailing key's
    per-file span at ~full domain."""
    import pyarrow.parquet as pq

    from lakehouse_dba_tools_spark.maintenance.compact import (
        optimize_cluster,
        optimize_zorder,
    )

    src = str(tmp_path / "src")
    n = 64
    rows = [(i, j) for i in range(n) for j in range(n)]
    spark.createDataFrame(rows, "a long, b long").repartition(4).write.parquet(src)

    def avg_span(path, col):
        import glob as g

        spans = []
        for f in sorted(g.glob(path + "/*.parquet")):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    lex = str(tmp_path / "lex")
    zor = str(tmp_path / "zor")
    optimize_cluster(spark, src, ["a", "b"], out_path=lex, num_files=16)
    optimize_zorder(spark, src, ["a", "b"], out_path=zor, num_files=16)

    # trailing key b: z-order must shrink the per-file span vs lexicographic
    assert avg_span(zor, "b") < 0.75 * avg_span(lex, "b")
    # leading key a: z-order still bounds it (within 2x of lex's tight span)
    assert avg_span(zor, "a") < n  # bounded below full domain


def test_time_travel_versions_immutable_and_vacuumable(spark, sf_dir):
    """Versioned writes are immutable (re-writing a version errors),
    as-of reads return exact snapshots, and vacuum_versions drops only
    old version dirs while the log keeps full history."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_dba_tools_spark.maintenance.history import read_log
    from lakehouse_dba_tools_spark.maintenance.timetravel import (
        latest_version,
        read_as_of,
        table_changes,
        vacuum_versions,
        write_version,
    )

    tmp = tempfile.mkdtemp(prefix="tt_test_")
    try:
        path = f"{tmp}/t"
        a = spark.range(0, 10).select(F.col("id").alias("k"))
        b = spark.range(5, 15).select(F.col("id").alias("k"))
        assert write_version(a, path) == 0
        assert write_version(b, path) == 1
        assert latest_version(path) == 1
        assert sorted(r.k for r in read_as_of(spark, path, 0).collect()) == list(range(10))
        assert sorted(r.k for r in read_as_of(spark, path).collect()) == list(range(5, 15))
        # CDF: 5 inserts (10-14), 5 deletes (0-4)
        cdf = table_changes(spark, path, 0, 1)
        by_type = {
            r._change_type: r.n
            for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        assert by_type == {"insert": 5, "delete": 5}
        # vacuum drops v0's data but keeps its commit entry
        assert vacuum_versions(path, keep_last=1) == [0]
        assert not os.path.isdir(f"{path}/_v0")
        assert len(read_log(path)) == 2
        try:
            read_as_of(spark, path, 0)
            raise AssertionError("vacuumed version must not be readable")
        except FileNotFoundError:
            pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_version_recovers_from_orphaned_partial_commit(spark):
    """Crash-safety (round-5 advice): a `_v{N}` dir on disk with no
    matching log entry (crash between rename and record_commit) must
    not wedge the table — the next write_version reclaims the slot.
    Likewise a leftover `_tmp_v{N}` staging dir is swept."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_dba_tools_spark.maintenance.timetravel import (
        read_as_of,
        write_version,
    )

    tmp = tempfile.mkdtemp(prefix="tt_orphan_")
    try:
        path = f"{tmp}/t"
        a = spark.range(0, 5).select(F.col("id").alias("k"))
        assert write_version(a, path) == 0
        # simulate a crashed writer: orphan version dir + stale staging,
        # neither recorded in the log
        os.makedirs(f"{path}/_v1/garbage")
        os.makedirs(f"{path}/_tmp_v1")
        b = spark.range(5, 9).select(F.col("id").alias("k"))
        assert write_version(b, path) == 1  # reclaims the orphaned slot
        assert sorted(r.k for r in read_as_of(spark, path, 1).collect()) == [5, 6, 7, 8]
        assert not os.path.isdir(f"{path}/_tmp_v1")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_endpoint_controller_gates_requests_and_times_out():
    """ensure_endpoint_state (reference Endpoint_Starter/Stopper loop):
    already-at-target = one probe and NO request; otherwise exactly one
    request then poll-until-state; an endpoint that never converges
    exhausts the wait budget with reached=False (and the request was
    still issued exactly once)."""
    from lakehouse_dba_tools_spark.operators.lifecycle import (
        start_endpoint,
        stop_endpoint,
    )

    t = [0.0]
    clock, sleeper = (lambda: t[0]), (lambda d: t.__setitem__(0, t[0] + d))

    # fast path: already RUNNING
    reqs: list = []
    res, requested = start_endpoint(
        lambda: "RUNNING", reqs.append, clock=clock, sleeper=sleeper
    )
    assert res.reached and res.n_polls == 1 and not requested and reqs == []

    # normal path: the pre-check consumes one probe (gating the
    # request), then the wait loop polls until RUNNING
    states = iter(["STARTING", "STARTING", "RUNNING"])
    res, requested = start_endpoint(
        lambda: next(states), reqs.append,
        poll_interval_sec=5.0, clock=clock, sleeper=sleeper,
    )
    assert res.reached and requested and reqs == ["start"]
    assert [s for _, s in res.history] == ["STARTING", "RUNNING"]

    # never converges: wait budget exhausted, loud non-reached result
    res, requested = stop_endpoint(
        lambda: "STOPPING", reqs.append,
        poll_interval_sec=5.0, timeout_sec=20.0, clock=clock, sleeper=sleeper,
    )
    assert requested and not res.reached and res.final_state == "STOPPING"
    assert reqs == ["start", "stop"]
