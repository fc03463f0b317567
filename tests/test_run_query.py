"""``api.run_query`` on question batches outside the golden set.

The question batch is an inline ``VALUES`` relation whose ids and
texts are bound as SQL parameters, so question text that looks like
SQL (quotes, backslashes, parameter markers) must reach the scorer
verbatim, and an empty batch must still produce the answer schema.
Each non-empty case is checked exactly against the same DuckDB oracle
SQL the registered ``q_api_run_*`` queries use.
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR

from document_query_system_spark import schemas
from document_query_system_spark.api import _api_oracle, run_query

EDGE_QUESTIONS = [
    (1, "what's the customer's order table"),
    (2, "a back\\slash in the \\n join table\\"),
    (3, "which :name uses :1 and ${var} in a join"),
    (4, "is the window slow? or the sort?"),
    (5, "¿qué tabla? café über straße 日本語 join"),
    (6, "'); DROP TABLE documents; -- order table"),
    (7, ("sort merge join table " * 500)[:10_000]),
]


def _rows(rows):
    return sorted(
        (tuple(repr(float(v)) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


@pytest.mark.parametrize("method", ["vector", "keyword"])
def test_edge_question_text_matches_oracle(method, spark, duck):
    got = run_query(spark, SF_DIR, EDGE_QUESTIONS, method=method).collect()
    want = duck.execute(_api_oracle(method, EDGE_QUESTIONS)).fetchall()
    assert {r.question_id for r in got} == {i for i, _ in EDGE_QUESTIONS}
    texts = {r.question_id: r.question_text for r in got}
    assert texts == dict(EDGE_QUESTIONS)
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("method", ["vector", "keyword"])
def test_empty_batch_returns_empty_answer_frame(method, spark):
    df = run_query(spark, SF_DIR, [], method=method)
    declared = [(f.name, f.dataType.simpleString()) for f in schemas.ANSWER.fields]
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == declared
    assert df.collect() == []
