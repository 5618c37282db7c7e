"""corpus_index_rw: one client alternates ingest batches and BM25
searches over the two persisted indexes.

Set-up builds the MinHash-LSH near-duplicate index
(``dedup.index.build_lsh_index``) and the BM25 postings index
(``similarity.bm25.build_postings_index``) over the first 1,990 of
5,000 seeded documents, then ingests the next 10 and searches once, so
the first timed ingest and search do not pay for the JVM's first pass
over their code (in set-up, that cost still counts in ``setup_s``).
The loop then repeats one ingest (the write op:
``dedup.index.ingest_batch`` on 250 documents, then
``append_to_postings_index``) followed by a few seeded searches (the
read ops: ``query_postings_index``, exact mode). Both indexes are
versioned parquet trees (``operators.indexio``) that every append adds
files to, so reads cost more as the run goes on. Ingest and search are
timed as separate ops, so a change that speeds one and slows the other
moves both ``op_p50_ms`` and ``read_p50_ms``.

Check: every search's top-k equals a brute-force BM25 top-k over the
documents indexed at that point; every near-duplicate pair an ingest
reports has the exact word-3-shingle Jaccard it states, at or above the
threshold; and every planted near-duplicate pair between the batch and
the index with exact Jaccard of at least ``PLANTED_MIN`` is reported.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

from harness import Workload, p50
from inputs import documents, jaccard_3shingles, search_terms

THRESHOLD = 0.5
# planted pairs copy a whole document (Jaccard 0.89 or more); MinHash
# with 16 bands of 4 rows misses a pair at 0.8 with probability 2e-4
PLANTED_MIN = 0.8
TOP_K = 10
SEARCHES_PER_INGEST = 3
WARM_DOCS = 10


class CorpusIndexRw(Workload):
    name = "corpus_index_rw"
    main_kind = "ingest"
    read_kind = "search"
    unit_s = 9.0  # an ingest and its searches

    def __init__(self, run):
        super().__init__(run)
        n, self.base, self.batch = (400, 200, 50) if self.run.tiny else (5000, 2000, 250)
        self.docs, roots = documents(self.run.seed, n)
        self.family: dict[int, list[int]] = defaultdict(list)
        for doc_id, root in enumerate(roots):
            self.family[root].append(doc_id)
        self.roots = roots
        self.max_units = (n - self.base) // self.batch
        self.tokens: list[list[str]] = []  # per document, for the brute-force check
        self.queries = search_terms(self.run.seed, 64)
        self.lsh = self.run.path("lsh")
        self.bm25 = self.run.path("bm25")
        self.indexed = self.base
        self.units = 0
        self.searches_due = 0
        self.n_searches = 0
        # op id -> (first doc of the batch, pairs)
        self.ingests: dict[int, tuple[int, list]] = {}
        # op id -> (docs indexed when searched, query, top-k)
        self.searches: dict[int, tuple[int, str, list]] = {}

    def _frame(self, rows):
        return self.run.spark.createDataFrame(rows, "doc_id long, text string")

    def setup(self) -> None:
        from lakehouse_dba_tools_spark.dedup.index import build_lsh_index
        from lakehouse_dba_tools_spark.similarity.bm25 import build_postings_index

        tr = self.run.tracer
        built = self.base - WARM_DOCS
        base = self._frame(self.docs[:built])
        t0 = time.perf_counter()
        with tr.span("dedup.build"):
            build_lsh_index(base, self.lsh)
        t1 = time.perf_counter()
        with tr.span("similarity.build"):
            build_postings_index(base, self.bm25)
        self.build_s = (t1 - t0, time.perf_counter() - t1)
        self._ingest(None, built, WARM_DOCS)
        self._search(None, self.queries[-1])

    def next_op(self, client: int):
        if self.searches_due:
            self.searches_due -= 1
            query = self.queries[self.n_searches % len(self.queries)]
            self.n_searches += 1
            return "search", (query, self.indexed)
        if self.units >= min(self.run.quota, self.max_units):
            return None
        self.units += 1
        self.searches_due = SEARCHES_PER_INGEST
        lo = self.indexed
        self.indexed += self.batch
        return "ingest", lo

    def do_op(self, op_id: int, kind: str, payload) -> float:
        t0 = time.perf_counter()
        if kind == "ingest":
            pairs = self._ingest(op_id, payload, self.batch)
            latency = time.perf_counter() - t0
            self.ingests[op_id] = (payload, pairs)
            return latency
        query, n_indexed = payload
        top = self._search(op_id, query)
        latency = time.perf_counter() - t0
        self.searches[op_id] = (n_indexed, query, top)
        return latency

    def _ingest(self, op_id: int | None, lo: int, n: int) -> list:
        from lakehouse_dba_tools_spark.dedup.index import ingest_batch
        from lakehouse_dba_tools_spark.similarity.bm25 import append_to_postings_index

        spark, tr = self.run.spark, self.run.tracer
        batch = self._frame(self.docs[lo : lo + n])
        with tr.span("dedup.ingest", op_id):
            pairs = ingest_batch(spark, batch, self.lsh, threshold=THRESHOLD).collect()
        with tr.span("similarity.append", op_id):
            append_to_postings_index(batch, self.bm25)
        return pairs

    def _search(self, op_id: int | None, query: str) -> list:
        from lakehouse_dba_tools_spark.similarity.bm25 import query_postings_index

        with self.run.tracer.span("similarity.search", op_id):
            return query_postings_index(self.run.spark, self.bm25, query, k=TOP_K).collect()

    def check(self) -> dict[int, str]:
        bad = {}
        for op, (lo, pairs) in self.ingests.items():
            problem = self._check_pairs(lo, pairs)
            if problem:
                bad[op] = problem
        for op, search in self.searches.items():
            problem = self._check_search(*search)
            if problem:
                bad[op] = problem
        return bad

    def _planted(self, lo: int) -> set[frozenset]:
        """Planted pairs between batch ``lo`` and the documents indexed
        before it, with exact Jaccard of at least ``PLANTED_MIN``."""
        text = self.docs
        out = set()
        for a in range(lo, lo + self.batch):
            for b in self.family[self.roots[a]]:
                if b < lo and jaccard_3shingles(text[a][1], text[b][1]) >= PLANTED_MIN:
                    out.add(frozenset((a, b)))
        return out

    def _check_pairs(self, lo: int, pairs: list) -> str | None:
        text = self.docs
        for p in pairs:
            exact = jaccard_3shingles(text[p["id_a"]][1], text[p["id_b"]][1])
            if exact < THRESHOLD or abs(exact - p["jaccard"]) > 1e-6:
                return f"pair {p['id_a']},{p['id_b']}: jaccard {p['jaccard']}, exact {exact}"
        missed = self._planted(lo) - {frozenset((p["id_a"], p["id_b"])) for p in pairs}
        if missed:
            return f"batch at {lo}: {len(missed)} planted pairs not reported, e.g. {sorted(next(iter(missed)))}"
        return None

    def _check_search(self, n_indexed: int, query: str, top: list) -> str | None:
        want = self._brute_force_topk(n_indexed, query)
        got_ids = [r["doc_id"] for r in top]
        want_ids = [doc_id for doc_id, _ in want]
        close = all(abs(g["bm25_score"] - w) <= 2e-4 for g, (_, w) in zip(top, want))
        if got_ids != want_ids or not close:
            return f"{query!r}: top-{TOP_K} {got_ids}, brute force {want_ids}"
        return None

    def _brute_force_topk(self, n_indexed: int, query: str) -> list[tuple[int, float]]:
        """Top-k of the first ``n_indexed`` documents, each scored with
        ``bm25_score_scalar``, the package's pure-Python transcription
        of BM25 that its tests check the Spark scorers against; ordered
        by score, then id, as ``bm25_topk`` orders. Scoring in Python
        keeps the check off the Spark jobs whose time a run has no room
        for."""
        from lakehouse_dba_tools_spark.similarity.bm25 import TOKEN_RE, bm25_score_scalar

        if not self.tokens:
            self.tokens = [re.findall(TOKEN_RE, t.lower()) for _, t in self.docs]
        docs = self.tokens[:n_indexed]
        avgdl = sum(len(d) for d in docs) / n_indexed
        terms = sorted(set(re.findall(TOKEN_RE, query.lower())))
        df_t = {t: sum(t in d for d in docs) for t in terms}
        scored = []
        for doc_id, d in enumerate(docs):
            score = 0.0
            for t in terms:
                tf = d.count(t)
                if tf:
                    score += bm25_score_scalar(n_indexed, df_t[t], tf, len(d), avgdl)
            if score > 0:
                scored.append((-score, doc_id))
        return [(doc_id, -neg) for neg, doc_id in sorted(scored)[:TOP_K]]

    def layer_metrics(self) -> dict[str, float]:
        from lakehouse_dba_tools_spark.operators.indexio import parquet_file_count

        tr, since = self.run.tracer, self.run.measure_start
        n = max(1, len(self.ingests))
        return {
            "dedup.build_s": self.build_s[0],
            "dedup.ingest_ms_p50": p50(tr.durations_ms("dedup.ingest", since)),
            "dedup.pairs_per_batch": sum(len(p) for _, p in self.ingests.values()) / n,
            "similarity.build_s": self.build_s[1],
            "similarity.append_ms_p50": p50(tr.durations_ms("similarity.append", since)),
            "similarity.search_ms_p50": p50(tr.durations_ms("similarity.search", since)),
            "indexio.lsh_files": parquet_file_count(self.lsh),
            "indexio.bm25_files": parquet_file_count(self.bm25),
        }
