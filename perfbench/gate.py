"""Exactness gate: the table must equal a batch oracle over the applied events.

The oracle is ``operators.compare.changelog_oracle`` (last event per url over
the whole applied log, deleted urls dropped) plus the ``text`` column computed
by ``functions.extract.extract_text_series`` from the winning html, so the
check includes byte-identical extracted text. The comparison is
``operators.compare.compare``: equal row counts and an empty multiset
difference in both directions over every column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yadamu___yet_another_data_migration_utility_spark.functions.extract import (
    extract_text_series,
)
from yadamu___yet_another_data_migration_utility_spark.operators.compare import (
    changelog_oracle,
    compare,
)

COLUMNS = ["url", "warc_ts", "html", "text", "lang", "_lsn"]
EVENT_COLUMNS = ["lsn", "op", "url", "warc_ts", "html", "lang"]


@F.pandas_udf(T.StringType())
def oracle_text(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


def oracle(events: DataFrame) -> DataFrame:
    """Expected final table for ``events`` in the table's column order."""
    return (changelog_oracle(events.select(*EVENT_COLUMNS))
            .withColumn("text", oracle_text(F.col("html")))
            .select(*COLUMNS))


def check_table(expected: DataFrame, actual: DataFrame) -> dict:
    """Compare two tables; both sides are cached for the four passes."""
    e, a = expected.select(*COLUMNS).persist(), actual.select(*COLUMNS).persist()
    try:
        r = compare(e, a, columns=COLUMNS)
    finally:
        e.unpersist()
        a.unpersist()
    return {"ok": r.ok, "expected_rows": r.source_rows, "actual_rows": r.target_rows,
            "missing_rows": r.missing_rows, "extra_rows": r.extra_rows}


def expected_lookups(events_pdf: pd.DataFrame, keys: list[str]) -> set[tuple]:
    """Oracle answer to a point lookup, computed in pandas from the events
    applied so far: the max-lsn event per key, absent when it is a delete."""
    ev = events_pdf[events_pdf["url"].isin(keys)]
    if ev.empty:
        return set()
    win = ev.sort_values("lsn").groupby("url", sort=False).tail(1)
    win = win[win["op"] != "D"]
    text = extract_text_series(win["html"])
    return {(u, pd.Timestamp(ts), bytes(h), t, lang, int(lsn))
            for u, ts, h, t, lang, lsn in zip(win["url"], win["warc_ts"], win["html"],
                                              text, win["lang"], win["lsn"])}


def lookup_rows(rows) -> set[tuple]:
    """Collected lookup answer in the form ``expected_lookups`` returns."""
    return {(r["url"], pd.Timestamp(r["warc_ts"]), bytes(r["html"]), r["text"],
             r["lang"], int(r["_lsn"])) for r in rows}
