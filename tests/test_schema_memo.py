"""``sources.tables.read_parquet`` memoizes inferred schemas on file
identity (path, mtime, size), never on the path alone: a table
rewritten at the same path with other rows and an added column must
read back with the new schema and rows in the same session."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from document_query_system_spark.sources.tables import load, read_parquet


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    first = load(spark, str(tmp_path), "documents")
    assert first.columns == ["doc_id", "text"]
    assert sorted(map(tuple, first.collect())) == [(1, "a"), (2, "b")]

    pq.write_table(
        pa.table({"doc_id": [7, 8, 9], "text": ["x", "y", "z"], "lang": ["en"] * 3}),
        path,
    )
    second = load(spark, str(tmp_path), "documents")
    assert second.columns == ["doc_id", "text", "lang"]
    assert sorted(map(tuple, second.collect())) == [
        (7, "x", "en"),
        (8, "y", "en"),
        (9, "z", "en"),
    ]


def test_directory_overwritten_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(path)
    first = load(spark, str(tmp_path), "documents")
    assert first.columns == ["doc_id", "text"]
    assert [tuple(r) for r in first.collect()] == [(1, "a")]

    spark.createDataFrame(
        [(5, "e", 0.5), (6, "f", 1.5)], "doc_id LONG, text STRING, score DOUBLE"
    ).write.mode("overwrite").parquet(path)
    second = load(spark, str(tmp_path), "documents")
    assert second.columns == ["doc_id", "text", "score"]
    assert sorted(map(tuple, second.collect())) == [(5, "e", 0.5), (6, "f", 1.5)]


def test_concurrent_reads_share_one_schema(spark, tmp_path):
    """Two closed-loop callers share the memo: concurrent first reads
    may each infer, but every read sees the file's one schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(read_parquet, spark, path) for _ in range(16)]
            schemas = [f.result(timeout=120).schema.simpleString() for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert schemas == ["struct<a:bigint,b:string>"] * 16
