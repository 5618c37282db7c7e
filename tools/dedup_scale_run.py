"""Dedup-family scale evidence: the LLM-pipeline analog of
tools/scale_run.py (the fixtures only ship documents up to sf0.1, so
the 10x tier here is a deterministic synthetic corpus built from pure
column expressions: 2% of its docs are planted near-dup neighbors,
J ~= 0.87. It is NOT the fixture corpus's shape: the sf0.1
documents.parquet plants 5% — 250 of 5,000 docs are another doc with
" dup" appended, J 0.89-0.99).

Measures, at 5k (the sf0.1 bench corpus size) and 50k docs:
- verified_near_dups end-to-end wall (MinHash sign -> band join ->
  exact-Jaccard verify)
- LSH candidate-pair count (the scale claim: bucketed candidates grow
  ~linearly with planted-dup count, never quadratically with corpus)
- persisted-index query wall for a 10% batch against the prebuilt
  index (dedup/index.py), the continuous-ingest path

Usage: python tools/dedup_scale_run.py [out.json]
Timings min-of-N (SCALE_RUN_PASSES, default 2); shared noisy host.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def synth_docs(spark, n: int):
    """Deterministic corpus: 30 tokens per doc from a 500-word vocab
    keyed by xxhash64(id, pos). Docs with id % 50 == 1 copy their
    predecessor's first 29 tokens and diverge on the last two ->
    planted near-dup pairs at J ~= 0.87, ~2% of the corpus."""
    base = F.when(F.col("id") % 50 == 1, F.col("id") - 1).otherwise(F.col("id"))
    tok = lambda seed_col, p: F.concat(
        F.lit("w"), (F.abs(F.xxhash64(seed_col, F.lit(p))) % 500).cast("string")
    )
    shared = [tok(base, p) for p in range(28)]
    own = [tok(F.col("id"), p) for p in (28, 29)]
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *shared, *own).alias("text"),
    )


def main() -> None:
    from lakehouse_dba_tools_spark import get_session
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, query_lsh_index
    from lakehouse_dba_tools_spark.dedup.minhash import (
        lsh_candidate_pairs,
        verified_near_dups,
    )

    spark = get_session(app_name="dedup_scale")
    passes = int(os.environ.get("SCALE_RUN_PASSES", "2"))
    out: dict = {"tiers": []}
    for n in (5_000, 50_000):
        docs = synth_docs(spark, n).persist()
        docs.count()
        tier: dict = {"docs": n}

        best = None
        for _ in range(passes):
            caches: list = []
            t0 = time.time()
            n_dups = verified_near_dups(docs, threshold=0.5, caches=caches).count()
            best = min(best or 1e9, time.time() - t0)
            for c in caches:  # one pinned shingle frame per pass (ADVICE)
                c.unpersist()
        tier["verified_near_dups"] = {
            "sec": round(best, 2), "pairs": n_dups,
            "us_per_doc": round(best / n * 1e6, 1),
        }

        n_cand = lsh_candidate_pairs(docs).count()
        tier["lsh_candidates"] = {
            "count": n_cand, "per_doc": round(n_cand / n, 4),
            "quadratic_would_be": n * (n - 1) // 2,
        }

        idx = tempfile.mkdtemp(prefix="dedup_scale_idx_")
        try:
            build_lsh_index(docs.filter(F.col("doc_id") % 10 != 0), idx)
            batch = docs.filter(F.col("doc_id") % 10 == 0)
            best = None
            for _ in range(passes):
                t0 = time.time()
                n_hits = query_lsh_index(spark, batch, idx, threshold=0.5).count()
                best = min(best or 1e9, time.time() - t0)
            tier["index_query_10pct_batch"] = {
                "sec": round(best, 2), "pairs": n_hits,
                "us_per_batch_doc": round(best / (n / 10) * 1e6, 1),
            }
        finally:
            import shutil

            shutil.rmtree(idx, ignore_errors=True)
        docs.unpersist()
        print(json.dumps(tier), flush=True)
        out["tiers"].append(tier)
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dedup_scale.json"
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
