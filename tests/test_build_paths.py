"""Round-6 build-latency paths: the load_table schema memo and the
parser-side expression strings must be exactly equivalent to the
construction paths they replaced (same schema, same rows, same trees)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gov_procurement_spider_spark.operators.splitter import (
    DELIMITERS,
    _split_clean,
    _split_clean_sql,
)
from gov_procurement_spider_spark.sources import tables


def test_load_table_schema_memo_identical(spark, sf_small):
    """First load infers from the parquet footer; later loads pass the
    memoized schema explicitly. Both must yield the same schema and rows."""
    for name in ("documents", "embeddings", "events"):
        tables._SCHEMA_MEMO.clear()
        first = tables.load_table(spark, sf_small, name)
        inferred_schema, inferred_count = first.schema, first.count()
        assert tables._SCHEMA_MEMO, "first load should populate the memo"
        second = tables.load_table(spark, sf_small, name)
        assert second.schema == inferred_schema
        assert second.count() == inferred_count


def test_memo_keys_are_per_path(spark, sf_small, sf_dir):
    tables._SCHEMA_MEMO.clear()
    tables.load_table(spark, sf_small, "events")
    tables.load_table(spark, sf_dir, "events")
    assert len(tables._SCHEMA_MEMO) == 2


def test_memo_sees_rewritten_file(spark, tmp_path):
    """A table file rewritten in the same process with a different schema
    is read with the new schema, not the memoized one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert tables.load_table(spark, str(tmp_path), "events").columns == ["a"]
    pq.write_table(pa.table({"x": ["p", "q"], "y": [1.5, 2.5]}), path)
    df = tables.load_table(spark, str(tmp_path), "events")
    assert df.columns == ["x", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [("p", 1.5), ("q", 2.5)]


# strings exercising every delimiter plus trim/empty-part edge cases the
# driver corpus never hits ('\n' and '|' never align there)
_SPLIT_CASES = [
    "a；b；c",
    " a ; b ;; c ",
    "x、 y 、z、",
    "line1\nline2\n\nline3",
    "p|q||r ",
    "；",
    "",
    "no-delimiter",
    "mix;of、all\nfive|kinds",
    "\\|escaped-looking\\n",
]


def test_split_clean_sql_matches_column_api(spark):
    """The expr-string splitter must produce the identical arrays the
    Column-API `_split_clean` builds, for EVERY delimiter (the oracle only
    exercises '；' and '、')."""
    df = spark.createDataFrame([(s,) for s in _SPLIT_CASES], ["v"])
    for d in DELIMITERS:
        got = df.select(
            _split_clean(F.col("v"), d).alias("old"),
            F.expr(_split_clean_sql("v", d)).alias("new"),
        ).collect()
        for row in got:
            assert row.old == row.new, (d, row)
