"""Golden question set + QA constants, in a module with NO query
registrations.

Lives apart from operators/search.py so that modules registering
early in the driver-coverage rotation (operators/pipeline.py's BM25,
the api facade) can share the question set without triggering
search's own ``@register`` side effects — registration order is the
driver's verification order, so a helper import must never drag a
whole already-verified module into the prefix.

The reference's golden set is 10 fixed insurance questions
(ref: src/scripts/main.py:54-65); these 10 use the synthetic
documents' vocabulary so the keyword scorer yields nonzero,
oracle-reproducible scores (FIXTURES.md §13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import local_rows

GOLDEN_QUESTIONS: list[tuple[int, str]] = [
    (1, "how does spark merge sort runs for a big table"),
    (2, "which query uses a hash join on the customer table"),
    (3, "is the window agg slow for small batch data"),
    (4, "can a vector scan filter the stream fast"),
    (5, "why is the group order sort slow"),
    (6, "does the batch query merge dup rows"),
    (7, "what column key does the join use"),
    (8, "is a small part table broadcast fast"),
    (9, "how big is the data stream per batch window"),
    (10, "which line value does the filter scan match"),
]

TOP_K = 3  # context chunks per answer (ref: src/main.py:103, 157)
SNIPPET_LEN = 500  # fallback-answer content truncation (ref: src/main.py:147)
QUESTIONS_DDL = "question_id INT, question_text STRING"  # schema of a question batch


def questions_df(spark: SparkSession) -> DataFrame:
    return local_rows(spark, GOLDEN_QUESTIONS, QUESTIONS_DDL)


def question_values_sql(questions: list[tuple[int, str]] = GOLDEN_QUESTIONS) -> str:
    """The question batch as an oracle-side (DuckDB) ``questions`` CTE."""
    rows = ",\n      ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in questions
    )
    return f"questions(question_id, question_text) AS (VALUES\n      {rows})"
