"""In-memory JSON-records source (reference S1, S7, P12).

The reference ingests paginated REST payloads by round-tripping through
``spark.read.json(sc.parallelize(json_strings))`` with a driver-side
walk that stringifies booleans first (`tasks/Query History API to
Delta_withmetrics.py:61-69,89-96,153-204`). We rebuild that as:

- ``records_to_df``: list-of-dicts → DataFrame with inferred (or
  declared) nested schema, optional bool normalization;
- ``paged_source``: drains a generator of pages into one record list
  and parses it with ONE ``records_to_df`` call — one schema inference
  and one scan for the whole look-back, where the reference parses each
  page and grows a union chain inside the loop (QH:225, SURVEY.md §3.1).
  Page schemas therefore merge under Spark's JSON inference rules, the
  same rules that apply within one page: a field that is a number in
  one page and a string or object in another comes back as ``string``.

The reference also drops the final page because it breaks before
parsing when ``has_next_page`` is false (QH:187-188). We keep the
page and then stop — fixed divergence, documented here.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from itertools import islice
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def normalize_bools(obj: Any) -> Any:
    """Recursively replace bools with lowercase strings (QH:61-69).

    The reference does this so JSON schema inference never sees mixed
    bool/string columns across pages.
    """
    if isinstance(obj, bool):
        return str(obj).lower()
    if isinstance(obj, dict):
        return {k: normalize_bools(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [normalize_bools(v) for v in obj]
    return obj


def records_to_df(
    spark: SparkSession,
    records: list[dict[str, Any]],
    schema: T.StructType | str | None = None,
    stringify_bools: bool = False,
) -> DataFrame:
    """Parse a list of JSON-able records into a DataFrame.

    With ``schema=None`` the nested schema is inferred exactly as the
    reference's ``spark.read.json(sc.parallelize(...))`` does (QH:96).
    Prefer passing a declared schema in production — inference scans the
    data twice and is sensitive to missing/None-only fields.
    """
    if stringify_bools:
        records = [normalize_bools(r) for r in records]
    payload = [json.dumps(r) for r in records]
    if not payload:
        if schema is None:
            raise ValueError("empty record set requires an explicit schema")
        return spark.createDataFrame([], schema)
    rdd = spark.sparkContext.parallelize(payload, len(payload) // 5000 + 1)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(rdd)


def paged_source(
    spark: SparkSession,
    pages: Iterable[list[dict[str, Any]]],
    schema: T.StructType | str | None = None,
    stringify_bools: bool = True,
    max_pages: int = 500,
) -> DataFrame:
    """Drain up to ``max_pages`` pages into one DataFrame (reference S7
    rebuilt).

    ``pages`` stands in for the REST pagination loop — any iterable
    yielding lists of records (an HTTP client, a file tailer, a fixture).
    Every record of every page, the final page included, goes into one
    list that is parsed once, so the result is a single scan with no
    union in its plan. With ``schema=None`` the columns come out in
    inference order (alphabetical) and a field whose type differs
    between pages widens as it would within one page. No records and no
    schema raises ``ValueError`` (from ``records_to_df``).
    """
    records = [r for page in islice(pages, max_pages) for r in page]
    return records_to_df(spark, records, schema=schema, stringify_bools=stringify_bools)
