from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.dedup import latest_per_group
from lakehouse_dba_tools_spark.sources.tables import load_table
from lakehouse_dba_tools_spark.streaming.windows import (
    run_stream_to_table,
    sliding_rollup,
    stream_events,
    stream_upsert_to_parquet,
    tumbling_rollup,
)


def test_tumbling_equals_batch(spark, sf_dir):
    stream_out = run_stream_to_table(tumbling_rollup(stream_events(spark, sf_dir)), spark)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("long").alias("hour_epoch"), "event_type", "n", "sum_value")
    )
    assert stream_out.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream_out).count() == 0


def test_sliding_window_overlap(spark, sf_dir):
    out = run_stream_to_table(
        sliding_rollup(stream_events(spark, sf_dir), width="1 hour", slide="30 minutes"), spark
    )
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    # every event lands in exactly 2 overlapping windows
    assert out.agg(F.sum("n")).collect()[0][0] == 2 * n_events


def test_multibatch_upsert_idempotent(spark, sf_dir, tmp_path):
    """Drive the SAME stream twice into one target — MERGE idempotency
    must leave the second run a no-op (reference QH re-run semantics)."""
    target = str(tmp_path / "target")
    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "event_type", "value", "ts")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    stream_upsert_to_parquet(
        spark, ev, target, keys=["user_id"], source_order=["ts", "event_id"], checkpoint_dir=ck1
    )
    first = {(r.user_id, r.event_id) for r in spark.read.parquet(target).collect()}
    ev2 = stream_events(spark, sf_dir).select("user_id", "event_id", "event_type", "value", "ts")
    stream_upsert_to_parquet(
        spark, ev2, target, keys=["user_id"], source_order=["ts", "event_id"], checkpoint_dir=ck2
    )
    second = {(r.user_id, r.event_id) for r in spark.read.parquet(target).collect()}
    assert first == second
    expected = {
        (r.user_id, r.event_id)
        for r in latest_per_group(
            load_table(spark, sf_dir, "events"), ["user_id"], "ts", tie_break=["event_id"]
        ).collect()
    }
    assert first == expected


def test_streaming_partitioned_sink_byte_identity(spark, sf_dir, tmp_path):
    """The streaming carrier's partition-pruned sink contract (round-7):
    after the bounded replay builds the bucket-partitioned target, a
    follow-up merge batch touching ONE key must rewrite only that
    key's bucket dir — every other bucket stays byte-identical (the
    same file-pruning invariant test_partitioned_merge pins for the
    batch path, here exercised on the streaming sink's own target)."""
    import hashlib
    import os

    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    target = str(tmp_path / "target")
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value", "ts",
        F.pmod("user_id", F.lit(8)).cast("int").alias("ubucket"),
    )
    stream_upsert_to_parquet(
        spark, ev, target, keys=["user_id"], source_order=["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ck"), partition_col="ubucket",
    )
    buckets = sorted(d for d in os.listdir(target) if d.startswith("ubucket="))
    assert len(buckets) > 1  # pruning is only meaningful across >1 dir

    def digest(pdir):
        h = hashlib.sha256()
        d = os.path.join(target, pdir)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                h.update(fn.encode())
                with open(os.path.join(d, fn), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    before = {b: digest(b) for b in buckets}
    one_user = spark.read.parquet(target).limit(1).collect()[0]
    batch = spark.createDataFrame(
        [(one_user.user_id, one_user.event_id, "updated", 1.0, one_user.ts,
          int(one_user.user_id) % 8)],
        "user_id long, event_id long, event_type string, value double, "
        "ts timestamp, ubucket int",
    )
    rewritten = create_or_upsert_partitioned(
        spark, batch, target, ["user_id"], partition_col="ubucket"
    )
    touched = f"ubucket={int(one_user.user_id) % 8}"
    assert rewritten == [touched]
    after = {b: digest(b) for b in buckets}
    for b in buckets:
        if b == touched:
            assert after[b] != before[b]
        else:
            assert after[b] == before[b], f"untouched bucket {b} was rewritten"


def test_stateful_running_profile(spark, sf_dir):
    from lakehouse_dba_tools_spark.streaming.stateful import running_user_profile

    ev = stream_events(spark, sf_dir).select(
        "user_id", "value", F.col("ts").cast("double").alias("epoch")
    )
    profile = running_user_profile(ev)
    out = run_stream_to_table(profile, spark, mode="update")
    batch = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    got = {r.user_id: (r.n_events, r.sum_value) for r in out.collect()}
    want = {r.user_id: (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want


def test_streaming_ingest_dedup_direction_and_visibility(spark):
    """Cross-batch pairs only, LATER doc as id_a; a dup pair within
    one batch is NOT reported (intra-batch dedup is a separate pass);
    appends make batch N visible to batch N+1."""
    from lakehouse_dba_tools_spark.streaming.ingest_dedup import stream_ingest_dedup

    same = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (0, same),          # batch 0 (seed corpus)
            (1, "completely different text about spark engines and shuffles"),
            (10, same),         # batch 1: dup of 0
            (11, same),         # batch 1: dup of 0 AND of 10 (same batch)
            (20, same),         # batch 2: dup of 0, 10, 11
        ],
        "doc_id long, text string",
    )
    out = stream_ingest_dedup(spark, docs, batch_size=10, threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {
        (10, 0), (11, 0),           # batch 1 vs seed; (11, 10) intra-batch -> absent
        (20, 0), (20, 10), (20, 11) # batch 2 sees appended batch-1 docs
    }
    assert all(r.jaccard == 1.0 for r in out.collect())


def test_ingest_dedup_sink_epoch_replay_idempotent(spark, tmp_path):
    """An at-least-once foreachBatch replay re-invokes the sink with
    the SAME epoch_id after its append already landed. The replayed
    epoch must replace (not extend) its recorded pairs, and the pairs
    must be identical despite the duplicated index rows."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index
    from lakehouse_dba_tools_spark.streaming.ingest_dedup import (
        make_query_then_append_sink,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_lsh_index(corpus, idx, num_perm=32, bands=8, seed=7)

    found: dict = {}
    sink = make_query_then_append_sink(spark, idx, 0.5, found)
    sink(batch, 0)
    first = sorted((r.id_a, r.id_b) for r in found[0])
    sink(batch, 0)  # replay: append already landed, same epoch_id
    assert sorted((r.id_a, r.id_b) for r in found[0]) == first == [(10, 1)]
    assert list(found) == [0]  # one slot, replaced not extended


def test_replay_in_batches_rejects_null_ids(spark):
    """A null id has no batch: it must fail with a clear error before
    any seeding or staging, not as an int() parse of the
    __HIVE_DEFAULT_PARTITION__ staging directory."""
    import pytest

    from lakehouse_dba_tools_spark.streaming.replay import replay_in_batches

    df = spark.createDataFrame(
        [(0, "a"), (None, "b"), (15, "c")], "doc_id long, text string"
    )
    calls = []
    with pytest.raises(ValueError, match="'doc_id' contains nulls"):
        replay_in_batches(
            spark, df, "doc_id", 10,
            seed_fn=lambda d: calls.append("seed"),
            sink=lambda d, e: calls.append(e),
        )
    assert calls == []
