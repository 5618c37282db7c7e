"""Skew profiler + cascade-delete semantics and plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.maintenance.skew import heavy_hitters, key_skew_profile
from lakehouse_dba_tools_spark.operators.forget import Edge, cascade_delete, deletion_audit
from lakehouse_dba_tools_spark.sources.tables import load_table


def test_skew_profile_values(spark):
    df = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 1, 2, 2, 3, 4]], ["k"]
    )
    row = key_skew_profile(df, "k").collect()[0]
    assert (row["n_rows"], row["n_keys"], row["max_freq"]) == (8, 4, 4)
    assert row["avg_freq"] == 2.0
    assert row["skew_ratio"] == 2.0


def test_heavy_hitters_order_and_tiebreak(spark):
    df = spark.createDataFrame([(k,) for k in [5, 5, 9, 9, 1]], ["k"])
    top = [(r["k"], r["freq"]) for r in heavy_hitters(df, "k", 2).collect()]
    assert top == [(5, 2), (9, 2)]  # freq desc, then key asc


def test_cascade_delete_partitions_tables(spark):
    customer = spark.createDataFrame([(1,), (2,), (3,)], ["c_custkey"])
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2), (13, 3)], ["o_orderkey", "o_custkey"]
    )
    lineitem = spark.createDataFrame(
        [(10, 1), (10, 2), (12, 1), (13, 1)], ["l_orderkey", "l_linenumber"]
    )
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem}
    survivors, deleted = cascade_delete(
        tables,
        "customer",
        F.col("c_custkey") == 1,
        [
            Edge("customer", "c_custkey", "orders", "o_custkey"),
            Edge("orders", "o_orderkey", "lineitem", "l_orderkey"),
        ],
    )
    audit = {r["table_name"]: r for r in deletion_audit(tables, deleted).collect()}
    assert audit["customer"]["rows_deleted"] == 1
    assert audit["orders"]["rows_deleted"] == 2  # orders 10, 11
    assert audit["lineitem"]["rows_deleted"] == 2  # both lines of order 10
    for t in tables:
        # survivors ∪ deleted == table, disjoint
        assert survivors[t].count() + deleted[t].count() == tables[t].count()
        assert survivors[t].intersect(deleted[t]).count() == 0


def test_cascade_delete_diamond_dag_unions_edges(spark):
    # Diamond: shipment dies when its order OR its warehouse is deleted.
    # A child with two incoming FK edges must delete the UNION of both
    # edges' matches, with no double-count when a row matches both.
    user = spark.createDataFrame([(1,), (2,)], ["u_id"])
    orders = spark.createDataFrame([(10, 1), (11, 2)], ["o_id", "o_uid"])
    warehouse = spark.createDataFrame([(100, 1), (101, 2)], ["w_id", "w_uid"])
    shipment = spark.createDataFrame(
        # (s_id, s_oid, s_wid): row 3 matches BOTH dying parents; row 4
        # only the order edge; row 5 only the warehouse edge; row 6 neither.
        [(3, 10, 100), (4, 10, 101), (5, 11, 100), (6, 11, 101)],
        ["s_id", "s_oid", "s_wid"],
    )
    tables = {"user": user, "orders": orders, "warehouse": warehouse, "shipment": shipment}
    survivors, deleted = cascade_delete(
        tables,
        "user",
        F.col("u_id") == 1,
        [
            Edge("user", "u_id", "orders", "o_uid"),
            Edge("user", "u_id", "warehouse", "w_uid"),
            Edge("orders", "o_id", "shipment", "s_oid"),
            Edge("warehouse", "w_id", "shipment", "s_wid"),
        ],
    )
    assert sorted(r["s_id"] for r in deleted["shipment"].collect()) == [3, 4, 5]
    assert [r["s_id"] for r in survivors["shipment"].collect()] == [6]
    assert deleted["shipment"].count() + survivors["shipment"].count() == 4


def test_cascade_delete_rejects_foreign_parent(spark):
    import pytest

    t = {"a": spark.createDataFrame([(1,)], ["k"]), "b": spark.createDataFrame([(1,)], ["k"])}
    with pytest.raises(ValueError, match="cycle or reference parents"):
        cascade_delete(t, "a", F.col("k") == 1, [Edge("missing", "k", "b", "k")])


def test_cascade_delete_accepts_interleaved_edge_order(spark):
    # A valid DAG whose edge LIST interleaves children: [A→B, A→C, C→B]
    # mentions B before C has a deletion set. Children must be resolved
    # by dependency, not first appearance.
    a = spark.createDataFrame([(1,), (2,)], ["a_id"])
    b = spark.createDataFrame(
        [(10, 1, 100), (11, 2, 101), (12, 2, 100)], ["b_id", "b_aid", "b_cid"]
    )
    c = spark.createDataFrame([(100, 1), (101, 2)], ["c_id", "c_aid"])
    survivors, deleted = cascade_delete(
        {"a": a, "b": b, "c": c},
        "a",
        F.col("a_id") == 1,
        [
            Edge("a", "a_id", "b", "b_aid"),
            Edge("a", "a_id", "c", "c_aid"),
            Edge("c", "c_id", "b", "b_cid"),
        ],
    )
    # b row 10 dies via A, row 12 via C(100); row 11 survives
    assert sorted(r["b_id"] for r in deleted["b"].collect()) == [10, 12]
    assert [r["b_id"] for r in survivors["b"].collect()] == [11]


def test_cascade_plan_broadcasts_and_never_shuffles_facts(spark, sf_dir):
    tables = {t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")}
    _, deleted = cascade_delete(
        tables,
        "customer",
        F.col("c_custkey") % 97 == 11,
        [
            Edge("customer", "c_custkey", "orders", "o_custkey"),
            Edge("orders", "o_orderkey", "lineitem", "l_orderkey"),
        ],
    )
    plan = deleted["lineitem"]._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_salted_join_matches_plain_inner(spark):
    from lakehouse_dba_tools_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, v) for v, k in enumerate(["a", "a", "a", "b", "c", "a"])],
        ["k", "v"],
    )
    dim = spark.createDataFrame([("a", 10), ("b", 20), ("d", 40)], ["k", "w"])
    got = sorted(
        tuple(r) for r in salted_join(fact, dim, ["k"], n_salts=4).collect()
    )
    want = sorted(tuple(r) for r in fact.join(dim, "k").collect())
    assert got == want


def test_salted_join_matches_plain_left(spark):
    from lakehouse_dba_tools_spark.operators.skew import salted_join

    fact = spark.createDataFrame([("a", 1), ("zz", 2)], ["k", "v"])
    dim = spark.createDataFrame([("a", 10)], ["k", "w"])
    got = sorted(
        (r["k"], r["v"], r["w"])
        for r in salted_join(fact, dim, ["k"], n_salts=3, how="left").collect()
    )
    assert got == [("a", 1, 10), ("zz", 2, None)]


def test_salted_join_rejects_right_full(spark):
    import pytest as _pytest

    from lakehouse_dba_tools_spark.operators.skew import salted_join

    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_join(df, df, ["k"], how=how)


def test_salted_join_salt_reaches_join_keys(spark):
    """The physical join must key on _salt (the whole point: the hot
    key's rows hash to n_salts partitions, not one)."""
    from lakehouse_dba_tools_spark.operators.skew import salted_join

    fact = spark.createDataFrame([("a", 1)] * 8, ["k", "v"])
    dim = spark.createDataFrame([("a", 10)], ["k", "w"])
    plan = (
        salted_join(fact, dim, ["k"], n_salts=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_salt" in plan


def test_pagerank_one_iteration_hand_values(spark):
    """A→B, A→C, B→C (C dangling): r1(A)=(1-d)/3, r1(B)=0.05+0.85/6,
    r1(C)=0.05+0.85*(1/6+1/3)."""
    from lakehouse_dba_tools_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C")], ["src", "dst"]
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    assert got["A"] == round(0.15 / 3, 12)
    assert got["B"] == round(0.15 / 3 + 0.85 * (1 / 3) / 2, 12)
    assert got["C"] == round(0.15 / 3 + 0.85 * ((1 / 3) / 2 + (1 / 3)), 12)


def test_pagerank_run_invariant(spark):
    """Shuffle/summation order must not leak into ranks (the
    per-iteration round(12) guarantee)."""
    from lakehouse_dba_tools_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 17, (i * 7) % 23) for i in range(300) if i % 17 != (i * 7) % 23],
        ["src", "dst"],
    ).distinct()
    a = sorted(tuple(r) for r in pagerank(edges, iterations=4).collect())
    b = sorted(
        tuple(r) for r in pagerank(edges.repartition(13), iterations=4).collect()
    )
    assert a == b


# ---- forget cascade into the persisted index family (round-12) ----


def _rowset(df, float_cols=(), ndigits=9):
    out = []
    for r in df.collect():
        d = r.asDict()
        for c in float_cols:
            d[c] = round(d[c], ndigits)
        for k, v in d.items():
            if isinstance(v, list):
                d[k] = tuple(sorted(v))
        out.append(tuple(sorted(d.items())))
    return sorted(out)


def test_lsh_forget_equals_fresh_build_and_replays(spark, sf_dir, tmp_path):
    """Post-forget LSH tables == an index freshly built from the
    filtered corpus (band keys / shingle hashes are per-doc functions
    of the stored permutation family), and a replayed forget is a
    no-op republish."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir

    docs = load_table(spark, sf_dir, "documents")
    forget = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_lsh_index(docs, a)
    rep = forget_from_lsh_index(spark, a, forget)
    assert rep["shash"]["rows_removed"] == forget.count()
    assert rep["bands"]["rows_removed"] == 16 * forget.count()
    build_lsh_index(docs.join(forget, "doc_id", "left_anti"), b)
    for table in ("bands", "shash"):
        got = spark.read.parquet(current_version_dir(f"{a}/{table}"))
        want = spark.read.parquet(current_version_dir(f"{b}/{table}"))
        assert _rowset(got) == _rowset(want)
    # replay: idempotent (0 removed, content unchanged, version advances)
    before = _rowset(spark.read.parquet(current_version_dir(f"{a}/bands")))
    rep2 = forget_from_lsh_index(spark, a, forget)
    assert rep2["bands"]["rows_removed"] == 0
    assert rep2["shash"]["rows_removed"] == 0
    assert _rowset(spark.read.parquet(current_version_dir(f"{a}/bands"))) == before


def test_bm25_forget_equals_fresh_build_tiers_and_queries(spark, sf_dir, tmp_path):
    """Post-forget postings/doclens AND the refreshed champions +
    block-max tiers == a fresh build from the filtered corpus; queries
    in all three modes answer identically; replay is a no-op."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _champ_snapshot,
        _postings_snapshot,
        _wand_snapshot,
        build_postings_index,
        forget_from_postings_index,
        query_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    forget = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    kept_docs = docs.join(forget, "doc_id", "left_anti")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    n_kept = kept_docs.count()
    build_postings_index(docs, a, champion_n=n_kept + 10, wand_buckets=8)
    rep = forget_from_postings_index(spark, a, forget)
    assert rep["doclens"]["rows_removed"] == forget.count()
    assert rep["postings"]["rows_removed"] > 0
    build_postings_index(kept_docs, b, champion_n=n_kept + 10, wand_buckets=8)

    pa, da, _ = _postings_snapshot(a)
    pb, db, _ = _postings_snapshot(b)
    assert _rowset(spark.read.parquet(pa)) == _rowset(spark.read.parquet(pb))
    assert _rowset(spark.read.parquet(da)) == _rowset(spark.read.parquet(db))
    ca, cma = _champ_snapshot(a)
    cb, cmb = _champ_snapshot(b)
    assert cma["n_docs"] == cmb["n_docs"] == n_kept
    assert round(cma["avgdl"], 9) == round(cmb["avgdl"], 9)
    assert _rowset(spark.read.parquet(ca)) == _rowset(spark.read.parquet(cb))
    assert _rowset(spark.read.parquet(f"{ca}/_termstats")) == _rowset(
        spark.read.parquet(f"{cb}/_termstats")
    )
    wa, wma = _wand_snapshot(a)
    wb, wmb = _wand_snapshot(b)
    assert wma["n_docs"] == wmb["n_docs"] == n_kept
    assert _rowset(spark.read.parquet(wa)) == _rowset(spark.read.parquet(wb))
    assert _rowset(
        spark.read.parquet(f"{wa}/_blockmax"), float_cols=("max_imp",)
    ) == _rowset(spark.read.parquet(f"{wb}/_blockmax"), float_cols=("max_imp",))

    q = "spark merge window join"
    for mode in ("exact", "champions", "wand"):
        got = [tuple(r) for r in query_postings_index(spark, a, q, k=10, mode=mode).collect()]
        want = [tuple(r) for r in query_postings_index(spark, b, q, k=10, mode=mode).collect()]
        assert got == want, mode

    rep2 = forget_from_postings_index(spark, a, forget)
    assert rep2["postings"]["rows_removed"] == 0
    assert rep2["doclens"]["rows_removed"] == 0
    got = [tuple(r) for r in query_postings_index(spark, a, q, k=10).collect()]
    want = [tuple(r) for r in query_postings_index(spark, b, q, k=10).collect()]
    assert got == want


def test_ivf_forget_matches_survivor_assignment_and_brute(spark, sf_dir, tmp_path):
    """Post-forget lists == assigning the surviving vectors under the
    STORED quantizer (the append contract), and full-probe queries
    equal brute force over the filtered corpus; replay is a no-op."""
    import numpy as np

    from lakehouse_dba_tools_spark.similarity.index import (
        _assigned_rows,
        build_ivf_index,
        forget_from_ivf_index,
        query_ivf_index,
        read_ivf_meta,
    )
    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir
    from lakehouse_dba_tools_spark.similarity.search import brute_topk

    emb = load_table(spark, sf_dir, "embeddings")
    forget = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    a = str(tmp_path / "a")
    build_ivf_index(emb, a, n_centroids=8)
    m = read_ivf_meta(a)
    rep = forget_from_ivf_index(spark, a, forget)
    assert rep["rows_removed"] == forget.count()
    survivors = emb.join(forget, "vec_id", "left_anti")
    want = _assigned_rows(survivors, np.asarray(m["centroids"]), "vec_id", "embedding")
    got = spark.read.parquet(current_version_dir(f"{a}/lists"))
    assert _rowset(got.select("cid", "neighbor_id")) == _rowset(
        want.select("cid", "neighbor_id")
    )
    # manifest matches the surviving lists
    assert read_ivf_meta(a)["cids"] == sorted(
        r["cid"] for r in got.select("cid").distinct().collect()
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_q = query_ivf_index(spark, queries, a, k=3, nprobe=8)
    want_q = brute_topk(survivors, queries, k=3)
    assert _rowset(got_q, float_cols=("sim",), ndigits=6) == _rowset(
        want_q, float_cols=("sim",), ndigits=6
    )
    rep2 = forget_from_ivf_index(spark, a, forget)
    assert rep2["rows_removed"] == 0


def test_forget_from_indexes_audit_frame(spark, sf_dir, tmp_path):
    """The cascade aggregator drives all three verbs and reports one
    deletion_audit-shaped frame."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index
    from lakehouse_dba_tools_spark.operators.forget import forget_from_indexes
    from lakehouse_dba_tools_spark.similarity.bm25 import build_postings_index
    from lakehouse_dba_tools_spark.similarity.index import build_ivf_index

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    lsh, bm, ivf = (str(tmp_path / n) for n in ("lsh", "bm", "ivf"))
    build_lsh_index(docs, lsh)
    build_postings_index(docs, bm)
    build_ivf_index(emb, ivf, n_centroids=4)
    forget = docs.filter(F.col("doc_id") % 6 == 0).select("doc_id")
    audit = forget_from_indexes(
        spark, forget, lsh_path=lsh, bm25_path=bm, ivf_path=ivf,
        vector_ids=forget.withColumnRenamed("doc_id", "vec_id"),
    )
    rows = {(r["index_name"], r["table_name"]): r for r in audit.collect()}
    assert set(rows) == {
        ("lsh", "bands"), ("lsh", "shash"),
        ("bm25", "postings"), ("bm25", "doclens"),
        ("ivf", "lists"),
    }
    for r in rows.values():
        assert r["rows_before"] == r["rows_removed"] + r["rows_after"]
        assert r["rows_removed"] > 0
    # one layout: every parameter sidecar rides inside a version
    # directory, none at an index root
    import os

    for root in (lsh, bm, ivf):
        assert not [f for f in os.listdir(root) if f.endswith(".json")]


def test_forget_everything_leaves_readable_empty_indexes(spark, sf_dir, tmp_path):
    """Tenant-offboarding edge: a forget set covering EVERY indexed row
    must publish readable zero-row tables, not the unreadable
    _SUCCESS-only directory an empty partitionBy write produces
    (indexio.write_snapshot_table guards this in one place for all
    three families)."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _postings_snapshot,
        build_postings_index,
        forget_from_postings_index,
    )
    from lakehouse_dba_tools_spark.similarity.index import (
        build_ivf_index,
        forget_from_ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    lsh, bm, ivf = (str(tmp_path / n) for n in ("lsh", "bm", "ivf"))
    build_lsh_index(docs, lsh)
    build_postings_index(docs, bm)
    build_ivf_index(emb, ivf, n_centroids=4)

    rep = forget_from_lsh_index(spark, lsh, docs.select("doc_id"))
    assert rep["shash"]["rows_after"] == 0 and rep["bands"]["rows_after"] == 0
    for t in ("bands", "shash"):
        df = spark.read.parquet(current_version_dir(f"{lsh}/{t}"))
        assert df.count() == 0  # readable, schema-bearing, zero rows
    assert "band_idx" in spark.read.parquet(
        current_version_dir(f"{lsh}/bands")
    ).columns

    rep = forget_from_postings_index(spark, bm, docs.select("doc_id"))
    assert rep["postings"]["rows_after"] == 0
    p_dir, d_dir, _ = _postings_snapshot(bm)
    assert spark.read.parquet(p_dir).count() == 0
    assert spark.read.parquet(d_dir).count() == 0

    rep = forget_from_ivf_index(spark, ivf, emb.select("vec_id"))
    assert rep["rows_after"] == 0
    lists = spark.read.parquet(current_version_dir(f"{ivf}/lists"))
    assert lists.count() == 0 and "cid" in lists.columns


def test_forget_then_ingest_composes(spark, sf_dir, tmp_path):
    """Lifecycle composition: after a forget, the index keeps serving
    the continuous-ingest path — a new batch queries against the
    POST-forget corpus (no forgotten doc can match), appends, and a
    re-query finds the batch indexed; a follow-up compact folds
    normally. Pins that forget's filtered-version publish leaves every
    downstream verb working."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
        ingest_batch,
        query_lsh_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    forget = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    path = str(tmp_path / "lsh")
    build_lsh_index(corpus, path)
    forget_from_lsh_index(spark, path, forget)
    pairs = ingest_batch(spark, batch, path, threshold=0.5)
    forgotten = {r["doc_id"] for r in forget.collect()}
    got_b = {r["id_b"] for r in pairs.collect()}
    assert not (got_b & forgotten)  # no forgotten doc matches
    # the batch is now indexed: a probe that IS a batch doc must match
    # itself-as-indexed when re-signed under a new id
    probe = batch.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    caches: list = []
    hits = query_lsh_index(spark, probe, path, threshold=0.5, caches=caches)
    ids_b = {r["id_b"] for r in hits.collect()}
    for c in caches:
        c.unpersist()
    assert ids_b & {r["doc_id"] for r in batch.limit(1).collect()}
    rep = compact_lsh_index(spark, path)
    assert rep["shash"]["rows"] > 0


# ---- round-13: erase-grade forget, tier stamps, replay ledger ----


def _resid_all_versions(spark, live: str, id_col: str, forgotten: set) -> int:
    """Forgotten-id rows across EVERY on-disk version dir of one table."""
    from lakehouse_dba_tools_spark.operators.indexio import all_version_dirs

    n = 0
    for vd in all_version_dirs(live):
        df = spark.read.parquet(vd)
        n += df.filter(F.col(id_col).isin(list(forgotten))).count()
    return n


def test_erase_grade_forget_reclaims_all_versions(spark, sf_dir, tmp_path):
    """erase=True closes the round-12 physical-erasure residue: a plain
    forget publishes the filtered version but RETAINS the complete
    pre-forget snapshot on disk (indexio publish retain=1 — proven
    here, the hazard), while an erase-grade forget vacuums every
    superseded version of every table (postings/doclens AND tiers),
    leaving zero forgotten bytes anywhere on disk. Also proves a
    planted crash-debris version dir is reclaimed."""
    import os

    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index
    from lakehouse_dba_tools_spark.operators.forget import forget_from_indexes
    from lakehouse_dba_tools_spark.operators.indexio import (
        all_version_dirs,
        current_version_dir,
    )
    from lakehouse_dba_tools_spark.similarity.bm25 import build_postings_index
    from lakehouse_dba_tools_spark.similarity.index import build_ivf_index

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    lsh, bm, ivf = (str(tmp_path / n) for n in ("lsh", "bm", "ivf"))
    build_lsh_index(docs, lsh)
    build_postings_index(docs, bm, champion_n=8, wand_buckets=4)
    build_ivf_index(emb, ivf, n_centroids=4)
    forget = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    fids = {r["doc_id"] for r in forget.collect()}

    tables = {
        f"{lsh}/bands": "doc_id", f"{lsh}/shash": "doc_id",
        f"{bm}/postings": "doc_id", f"{bm}/doclens": "doc_id",
        f"{bm}/champions": "doc_id", f"{bm}/blocked": "doc_id",
        f"{ivf}/lists": "neighbor_id",
    }

    # 1) plain forget: live snapshot is clean, but the retained
    # superseded version still holds the pre-forget rows — the hazard
    forget_from_indexes(
        spark, forget, lsh_path=lsh, bm25_path=bm, ivf_path=ivf,
        vector_ids=forget.withColumnRenamed("doc_id", "vec_id"),
    )
    retained_resid = 0
    for live, id_col in tables.items():
        cur = current_version_dir(live)
        live_ids = {
            r[id_col]
            for r in spark.read.parquet(cur).select(id_col).distinct().collect()
        }
        assert not (live_ids & fids), f"live snapshot of {live} not clean"
        superseded = [d for d in all_version_dirs(live) if d != cur]
        assert superseded, f"{live}: expected a retained pre-forget version"
        for vd in superseded:
            retained_resid += (
                spark.read.parquet(vd)
                .filter(F.col(id_col).isin(list(fids)))
                .count()
            )
    assert retained_resid > 0  # the pre-forget bytes really are on disk

    # 2) plant crash debris above the current pointer, then erase
    debris = f"{lsh}/bands.v9"
    os.makedirs(debris, exist_ok=True)
    forget_from_indexes(
        spark, forget, lsh_path=lsh, bm25_path=bm, ivf_path=ivf,
        vector_ids=forget.withColumnRenamed("doc_id", "vec_id"),
        erase=True,
    )
    assert not os.path.exists(debris)
    for live, id_col in tables.items():
        dirs = all_version_dirs(live)
        assert dirs == [current_version_dir(live)], (
            f"{live}: erase left superseded versions {dirs}"
        )
        assert _resid_all_versions(spark, live, id_col, fids) == 0


def test_forget_from_indexes_requires_vector_ids_with_ivf(spark, tmp_path):
    import pytest

    from lakehouse_dba_tools_spark.operators.forget import forget_from_indexes

    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="vector_ids is required"):
        forget_from_indexes(spark, ids, ivf_path=str(tmp_path / "ivf"))


def test_tier_stamp_detects_crashed_forget_and_writers_repair(
    spark, sf_dir, tmp_path
):
    """The publish→tier-refresh crash window (round-12 ADVICE): publish
    a new postings version WITHOUT refreshing the tiers (exactly what a
    crash mid-forget leaves) — champions/wand readers must fail loudly
    on the stamp mismatch instead of serving rows the postings deleted,
    and the next locked writer (append here, compact equivalently)
    repairs the tiers."""
    import pytest

    from lakehouse_dba_tools_spark.operators.indexio import writer_lock
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _champ_snapshot,
        _postings_snapshot,
        _wand_snapshot,
        _write_postings,
        append_to_postings_index,
        build_postings_index,
        query_postings_index,
    )
    import os

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    path = str(tmp_path / "bm")
    build_postings_index(docs, path, champion_n=8, wand_buckets=4)
    # simulate the crash: new postings version published, tiers untouched
    survivors = docs.filter(F.col("doc_id") % 3 != 0)
    with writer_lock(path):
        _write_postings(survivors, path, "text", "doc_id", fresh=True)
    cur = os.path.basename(_postings_snapshot(path)[0])
    assert _champ_snapshot(path)[1]["postings_dir"] != cur
    for mode in ("champions", "wand"):
        with pytest.raises(RuntimeError, match="derived from postings version"):
            query_postings_index(spark, path, "spark merge", k=5, mode=mode)
    # exact mode reads the postings directly — unaffected
    query_postings_index(spark, path, "spark merge", k=5, mode="exact").collect()
    # next locked writer repairs: an append heals the stale stamps
    batch = docs.filter(F.col("doc_id") % 3 == 0).limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    append_to_postings_index(batch, path)
    assert _champ_snapshot(path)[1]["postings_dir"] == cur
    assert _wand_snapshot(path)[1]["postings_dir"] == cur
    for mode in ("champions", "wand"):
        query_postings_index(spark, path, "spark merge", k=5, mode=mode).collect()


def test_replayed_ingest_cannot_resurrect_forgotten_docs(spark, sf_dir, tmp_path):
    """The at-least-once × GDPR composition (round-12 VERDICT directive
    #4), pinned semantics: FORGET WINS. A foreachBatch epoch delivered,
    then forgotten, then REDELIVERED (the replay race) must not
    re-index the forgotten docs: every append/ingest verb anti-joins
    its batch against the suppression ledger the forget verbs write.
    Covers all three families' append paths."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
        ingest_batch,
    )
    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _postings_snapshot,
        append_to_postings_index,
        build_postings_index,
        forget_from_postings_index,
    )
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        forget_from_ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % 10 != 0) & (F.col("doc_id") < 300))
    batch = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 300))
    forget = batch.filter(F.col("doc_id") % 20 == 0).select("doc_id")
    fids = {r["doc_id"] for r in forget.collect()}
    assert fids

    # LSH: deliver epoch -> forget -> REDELIVER the same epoch
    lsh = str(tmp_path / "lsh")
    build_lsh_index(corpus, lsh)
    ingest_batch(spark, batch, lsh, threshold=0.5)          # original epoch
    forget_from_lsh_index(spark, lsh, forget)
    pairs = ingest_batch(spark, batch, lsh, threshold=0.5)  # replayed epoch
    # the replayed epoch reports only surviving docs
    assert not ({r["id_a"] for r in pairs.collect()} & fids)
    for t in ("bands", "shash"):
        got = (
            spark.read.parquet(current_version_dir(f"{lsh}/{t}"))
            .filter(F.col("doc_id").isin(list(fids)))
            .count()
        )
        assert got == 0, f"replay resurrected forgotten docs in {t}"
    # the index still composes downstream: compact folds the replay dups
    compact_lsh_index(spark, lsh)
    # content == fresh build from corpus + surviving batch docs
    fresh = str(tmp_path / "fresh")
    build_lsh_index(
        corpus.unionByName(batch).join(forget, "doc_id", "left_anti"), fresh
    )
    for t in ("bands", "shash"):
        got = spark.read.parquet(current_version_dir(f"{lsh}/{t}"))
        want = spark.read.parquet(current_version_dir(f"{fresh}/{t}"))
        assert _rowset(got) == _rowset(want), t

    # BM25 append path
    bm = str(tmp_path / "bm")
    build_postings_index(corpus, bm)
    append_to_postings_index(batch, bm)                     # original epoch
    forget_from_postings_index(spark, bm, forget)
    append_to_postings_index(batch, bm)                     # replayed epoch
    p_dir, d_dir, _ = _postings_snapshot(bm)
    for d in (p_dir, d_dir):
        got = (
            spark.read.parquet(d)
            .filter(F.col("doc_id").isin(list(fids)))
            .count()
        )
        assert got == 0

    # IVF append path
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    vcorpus = emb.filter(F.col("vec_id") % 10 != 0)
    vbatch = emb.filter(F.col("vec_id") % 10 == 0)
    vforget = vbatch.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    vfids = {r["vec_id"] for r in vforget.collect()}
    ivf = str(tmp_path / "ivf")
    build_ivf_index(vcorpus, ivf, n_centroids=4)
    append_to_ivf_index(vbatch, ivf)                        # original epoch
    forget_from_ivf_index(spark, ivf, vforget)
    append_to_ivf_index(vbatch, ivf)                        # replayed epoch
    got = (
        spark.read.parquet(current_version_dir(f"{ivf}/lists"))
        .filter(F.col("neighbor_id").isin(list(vfids)))
        .count()
    )
    assert got == 0


def test_forget_ledger_folds_on_compact_and_keeps_suppressing(
    spark, sf_dir, tmp_path
):
    """compact_forget_ledger: successive forgets leave one ledger file
    each; the family's compact folds them into one distinct file and
    the suppression contract survives — a post-compact replay of a
    forgotten doc is still dropped."""
    import os

    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import (
        LEDGER_DIR,
        current_version_dir,
        read_forget_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path)
    f1 = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    f2 = docs.filter(F.col("doc_id") % 11 == 3).select("doc_id")
    forget_from_lsh_index(spark, path, f1)
    forget_from_lsh_index(spark, path, f2)
    ledger_dir = os.path.join(path, LEDGER_DIR)
    n_files = lambda: sum(
        1 for f in os.listdir(ledger_dir) if f.endswith(".parquet")
    )
    assert n_files() == 2
    want_ids = {r["doc_id"] for r in f1.union(f2).collect()}
    compact_lsh_index(spark, path)
    assert n_files() == 1
    got_ids = {r["doc_id"] for r in read_forget_ledger(spark, path).collect()}
    assert got_ids == want_ids  # folding loses no forgotten id
    # suppression still holds after the fold
    replay = docs.join(f1, "doc_id", "left_semi").limit(3)
    append_to_lsh_index(replay, path)
    bands = spark.read.parquet(current_version_dir(f"{path}/bands"))
    assert bands.filter(F.col("doc_id").isin(list(want_ids))).count() == 0


def test_builds_honor_ledger_and_reconsent_reopens(spark, sf_dir, tmp_path):
    """Backfill-resurrection guard + the explicit un-forget: a full
    REBUILD over the same path, fed a corpus snapshot that predates
    the erasure, must not re-index forgotten docs (all three families'
    build verbs anti-join the ledger under the lock); after the
    explicit remove_from_forget_ledger (re-consent / id recycling),
    the same build indexes them again."""
    import os

    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import (
        current_version_dir,
        read_forget_ledger,
        remove_from_forget_ledger,
        writer_lock,
    )
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _postings_snapshot,
        build_postings_index,
        forget_from_postings_index,
    )
    from lakehouse_dba_tools_spark.similarity.index import (
        build_ivf_index,
        forget_from_ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    forget = docs.filter(F.col("doc_id") % 4 == 1).select("doc_id")
    fids = {r["doc_id"] for r in forget.collect()}

    lsh, bm, ivf = (str(tmp_path / n) for n in ("lsh", "bm", "ivf"))
    build_lsh_index(docs, lsh)
    build_postings_index(docs, bm)
    build_ivf_index(emb, ivf, n_centroids=4)
    forget_from_lsh_index(spark, lsh, forget)
    forget_from_postings_index(spark, bm, forget)
    forget_from_ivf_index(
        spark, ivf, forget.withColumnRenamed("doc_id", "vec_id")
    )

    # the backfill: rebuild each index from the PRE-erasure corpus
    build_lsh_index(docs, lsh)
    build_postings_index(docs, bm)
    build_ivf_index(emb, ivf, n_centroids=4)
    bands = spark.read.parquet(current_version_dir(f"{lsh}/bands"))
    assert bands.filter(F.col("doc_id").isin(list(fids))).count() == 0
    p_dir = _postings_snapshot(bm)[0]
    assert (
        spark.read.parquet(p_dir).filter(F.col("doc_id").isin(list(fids))).count()
        == 0
    )
    lists = spark.read.parquet(current_version_dir(f"{ivf}/lists"))
    assert lists.filter(F.col("neighbor_id").isin(list(fids))).count() == 0

    # re-consent: explicit removal reopens the ids for indexing
    with writer_lock(lsh):
        remaining = remove_from_forget_ledger(spark, lsh, forget)
    assert remaining == 0
    assert read_forget_ledger(spark, lsh) is None or (
        read_forget_ledger(spark, lsh).count() == 0
    )
    build_lsh_index(docs, lsh)
    bands = spark.read.parquet(current_version_dir(f"{lsh}/bands"))
    assert bands.filter(F.col("doc_id").isin(list(fids))).count() > 0


def test_empty_ledger_debris_does_not_wedge_the_index(spark, sf_dir, tmp_path):
    """A ledger directory with no committed parquet (a write that died
    after mkdir) must read as 'no ledger', not wedge every subsequent
    verb on schema inference."""
    import os

    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import (
        LEDGER_DIR,
        read_forget_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    path = str(tmp_path / "lsh")
    build_lsh_index(docs.filter(F.col("doc_id") < 20), path)
    os.makedirs(os.path.join(path, LEDGER_DIR, "_temporary"), exist_ok=True)
    assert read_forget_ledger(spark, path) is None
    # append still works through the debris
    append_to_lsh_index(docs.filter(F.col("doc_id") >= 20), path)


def test_describe_forget_ledger_reports_ids_and_fold_state(
    spark, sf_dir, tmp_path
):
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import (
        describe_forget_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path)
    assert describe_forget_ledger(spark, path) == {"n_ids": 0, "n_files": 0}
    f1 = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    f2 = docs.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    forget_from_lsh_index(spark, path, f1)
    forget_from_lsh_index(spark, path, f2)
    d = describe_forget_ledger(spark, path)
    assert d["n_files"] == 2 and d["n_ids"] == f1.count() + f2.count()
    compact_lsh_index(spark, path)
    d = describe_forget_ledger(spark, path)
    assert d["n_files"] == 1 and d["n_ids"] == f1.count() + f2.count()


def test_ledger_before_publish_crash_direction_is_harmless(
    spark, sf_dir, tmp_path
):
    """The ordering contract's crash story (indexio
    append_forget_ledger): the ledger append runs BEFORE the pointer
    flip, so the only possible crash residue is a ledger entry whose
    forget never published. Pin that this residue is harmless exactly
    as documented — the ids are suppressed from appends immediately
    (fail-closed, the safe direction), and the RETRIED forget
    completes normally, leaving the index row-equal to a fresh build
    from the survivors."""
    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import (
        append_forget_ledger,
        current_version_dir,
        writer_lock,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    forget = docs.filter(F.col("doc_id") % 9 == 4).select("doc_id")
    fids = {r["doc_id"] for r in forget.collect()}
    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path)
    # simulate the crash: ledger written under the lock, publish never
    # happened (the forget verb died right after the ledger append)
    with writer_lock(path):
        append_forget_ledger(forget, path, "doc_id")
    # rows are still live (the forget never published) ...
    bands = spark.read.parquet(current_version_dir(f"{path}/bands"))
    assert bands.filter(F.col("doc_id").isin(list(fids))).count() > 0
    # ... but appends already fail CLOSED against the residue
    append_to_lsh_index(docs.filter(F.col("doc_id").isin(list(fids))).limit(2), path)
    bands = spark.read.parquet(current_version_dir(f"{path}/bands"))
    n_live = bands.filter(F.col("doc_id").isin(list(fids))).count()
    assert n_live == 16 * len(fids)  # nothing re-appended on top
    # the retried forget completes and equals a fresh survivor build
    rep = forget_from_lsh_index(spark, path, forget)
    assert rep["shash"]["rows_removed"] == len(fids)
    fresh = str(tmp_path / "fresh")
    build_lsh_index(docs.join(forget, "doc_id", "left_anti"), fresh)
    for t in ("bands", "shash"):
        got = spark.read.parquet(current_version_dir(f"{path}/{t}"))
        want = spark.read.parquet(current_version_dir(f"{fresh}/{t}"))
        assert _rowset(got) == _rowset(want), t
