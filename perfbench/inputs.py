"""Seeded inputs: query-history records and a text corpus.

Both follow the shape of the repository's sf0.1 fixtures, measured on
``events.parquet`` (100,000 rows) and ``documents.parquet`` (5,000
rows); the constants below cite the figure each one comes from. The
benchmark generates them from the seed rather than reading the
fixtures, because a run may read nothing outside its checkout. The same
seed gives the same inputs.
"""

from __future__ import annotations

import random

# events.parquet: ts starts at 2024-01-01 and is sorted; the gaps
# between consecutive events are exponential with mean 25.92 s
# (quartiles 7.4 / 17.8 / 35.8 s).
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MEAN_GAP_S = 25.92
# events.parquet: user_id uniform over 0..1499.
USERS = 1500
# events.parquet: five event types, 19.8-20.3% each. A query record
# takes them as its statement type, one for one.
STATEMENT_TYPES = {
    "view": "SELECT",
    "click": "INSERT",
    "purchase": "MERGE",
    "signup": "UPDATE",
    "error": "DELETE",
}
# events.parquet: value is exponential with mean 50.2 (deciles 5.35 ...
# 114.3, max 560.21), two decimals. A query record reads it as its run
# time in seconds.
MEAN_VALUE = 50.2
# events.parquet: props is {"k": n} with n uniform over 0..99.
PROP_K = 100


class QueryHistory:
    """A query-history API replayed as overlapping look-back windows.

    Query ``i`` is event ``i`` of a seeded events stream: its start time
    is the event time and its run time the event value. Fetch cycle
    ``c`` returns the records in window [c * stride, c * stride + size)
    at the moment the newest of them starts, so a query whose run time
    reaches past that moment comes back ``RUNNING`` (no end time, run
    time so far) and is ``FINISHED`` when a later window re-fetches it.
    Windows overlap when ``size`` > ``stride``, so each cycle updates
    rows the cycle before inserted and inserts the rest.
    """

    def __init__(self, seed: int, size: int, stride: int):
        self.size, self.stride = size, stride
        self._r = random.Random(seed)
        self._events: list[tuple[int, int, int, str, int]] = []
        self._t_ms = float(T0_MS)

    def _event(self, i: int) -> tuple[int, int, int, str, int]:
        """(start_ms, run_ms, user_id, event_type, k) of event ``i``;
        events are drawn in order, so a run's prefix never changes."""
        r = self._r
        while len(self._events) <= i:
            self._t_ms += r.expovariate(1.0 / MEAN_GAP_S) * 1000
            value = round(r.expovariate(1.0 / MEAN_VALUE), 2)
            self._events.append((
                int(self._t_ms),
                int(round(value * 1000)),
                r.randrange(USERS),
                r.choice(list(STATEMENT_TYPES)),
                r.randrange(PROP_K),
            ))
        return self._events[i]

    def window(self, cycle: int) -> tuple[int, int]:
        lo = cycle * self.stride
        return lo, lo + self.size

    def fetch_ms(self, cycle: int) -> int:
        return self._event(self.window(cycle)[1] - 1)[0]

    def record(self, i: int, cycle: int) -> dict:
        """Query ``i`` as fetch ``cycle`` returns it."""
        start, run_ms, user, etype, k = self._event(i)
        now = self.fetch_ms(cycle)
        done = start + run_ms <= now
        return {
            "query_id": i,
            "query_start_time_ms": start,
            "query_end_time_ms": start + run_ms if done else None,
            "status": "FINISHED" if done else "RUNNING",
            "is_final": done,
            "fetch_seq": cycle,
            "user_id": user,
            "statement_type": STATEMENT_TYPES[etype],
            "metrics": {"execution_time_ms": run_ms if done else now - start, "k": k},
        }

    def pages(self, cycle: int, page_size: int) -> list[list[dict]]:
        """One cycle's API pages: consecutive slices of the window, as
        page-token pagination returns them."""
        lo, hi = self.window(cycle)
        recs = [self.record(i, cycle) for i in range(lo, hi)]
        return [recs[p : p + page_size] for p in range(0, len(recs), page_size)]

    def latest(self, cycles: int) -> dict[int, dict]:
        """The latest state of every query the first ``cycles`` fetch
        cycles returned: what the merged table must hold."""
        out: dict[int, dict] = {}
        for c in range(cycles):
            lo, hi = self.window(c)
            for i in range(lo, hi):
                out[i] = self.record(i, c)
        return out


# documents.parquet: 30 words, each 3.3-3.4% of all words, plus the
# marker word "dup" below.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
# documents.parquet: 10 to 99 words, uniform (45-65 documents per length).
MIN_WORDS, MAX_WORDS = 10, 99
# documents.parquet: 250 of the 5,000 documents (5.0%) are another
# document, anywhere in the corpus, with " dup" appended (word
# 3-shingle Jaccard 0.89-0.99, median 0.98); 7 of them copy a
# document that is itself a copy and so have no partner.
NEAR_DUP_RATE = 0.05
DUP_MARK = "dup"
# queries_text.py's own BM25 query is four vocabulary words
# ("spark merge window join").
QUERY_WORDS = 4


def documents(seed: int, n: int) -> tuple[list[tuple[int, str]], list[int]]:
    """``n`` documents (doc_id, text) in the fixture's shape, and each
    document's root: the document a near-duplicate copies, or itself.
    Two documents with the same root are a planted near-duplicate
    pair. A near-duplicate copies the original text of its source
    position; when that position holds a copy itself, the
    near-duplicate has no partner in the corpus."""
    r = random.Random(seed)
    originals = [
        " ".join(r.choices(VOCAB, k=r.randint(MIN_WORDS, MAX_WORDS))) for _ in range(n)
    ]
    docs: list[tuple[int, str]] = []
    roots: list[int] = []
    for i in range(n):
        if r.random() < NEAR_DUP_RATE:
            j = r.randrange(n - 1)
            j += j >= i
            docs.append((i, f"{originals[j]} {DUP_MARK}"))
            roots.append(j)
        else:
            docs.append((i, originals[i]))
            roots.append(i)
    return docs, roots


def search_terms(seed: int, n_queries: int) -> list[str]:
    """Seeded BM25 queries of ``QUERY_WORDS`` distinct vocabulary words."""
    r = random.Random(seed ^ 0x5EED)
    return [" ".join(r.sample(VOCAB, QUERY_WORDS)) for _ in range(n_queries)]


def jaccard_3shingles(a: str, b: str) -> float:
    """Exact Jaccard of two texts' distinct word 3-shingles (the LSH
    index's default shingling)."""
    def sh(t: str) -> set[str]:
        w = t.split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0
