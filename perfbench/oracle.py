"""Correctness checks, run outside the timed region.

Each check returns ``None`` when the output is right and a one-line
reason when it is not. DuckDB is the independent engine throughout:

- QA answers against the ``api._api_oracle`` SQL shape run over the same
  corpus and question batch;
- an IVF layout's id multiset against the ids the cycle should hold, and
  probe scores against dot products recomputed in numpy from the stored
  vectors and DuckDB-embedded questions;
- registered queries against ``registry.oracles()``, with rows
  normalized the way ``tests/test_oracle.py`` normalizes them.

Rounding ties. The program rounds scores to a fixed number of decimals
and its DuckDB oracles round the same expression. When the exact value
lies on a rounding midpoint the two engines may round it apart: Spark
rounds the shortest decimal form half up, DuckDB the binary value.
Midpoints are common here, because embeddings are 6-decimal values
whose products often end in 5 at the 7th place, and BM25 scores are
integer micro-unit sums rounded to 4 decimals. So where a QA vector
answer or a ``q_bm25_topk`` result differs from DuckDB, the difference
is settled in exact integer arithmetic: it is a tie, and not a failure,
only when every returned score is a half-up rounding of its exact value
or the other neighbour of a midpoint, and the rows are the top k under
those scores. Accepted ties are counted apart, so the parity gap stays
visible; any other difference is a failure.
"""

from __future__ import annotations

import datetime
import math
import os
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow.dataset as ds


def connect(sf_dir: str, tables=None) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the parquet tables of ``sf_dir`` (all of the
    program's tables unless ``tables`` names some)."""
    from document_query_system_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in tables or TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# ------------------------------------------------------------------ QA


def _values(questions) -> str:
    return ",\n      ".join(f"({i}, '{t}')" for i, t in questions)


def qa_oracle_sql(method: str, questions, top_k: int) -> str:
    """``api._api_oracle(method)`` with its golden question batch and
    top-k swapped for this request's."""
    from document_query_system_spark.api import _api_oracle
    from document_query_system_spark.operators.questions import GOLDEN_QUESTIONS, TOP_K

    sql = _api_oracle(method)
    golden, limit = _values(GOLDEN_QUESTIONS), f"WHERE rank <= {TOP_K}"
    if golden not in sql or limit not in sql:
        raise RuntimeError("api._api_oracle no longer has the expected shape")
    for _, text in questions:
        if "'" in text:
            raise ValueError(f"question not SQL-literal safe: {text!r}")
    return sql.replace(golden, _values(questions)).replace(limit, f"WHERE rank <= {int(top_k)}")


def check_qa(con, method: str, questions, top_k: int, rows, ties=None) -> str | None:
    """Ranks, doc ids and scores of one request against DuckDB. A
    vector answer that differs only by rounding ties passes, with a note
    appended to ``ties``."""
    want = sorted(
        (int(q), int(r), int(d), float(s))
        for q, r, d, s in con.execute(
            f"SELECT question_id, rank, doc_id, score FROM ({qa_oracle_sql(method, questions, top_k)})"
        ).fetchall()
    )
    got = sorted(
        (int(r["question_id"]), int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in rows
    )
    if got == want:
        return None
    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    reason = f"{len(got)} rows vs {len(want)} expected; first difference at {diff}: " + repr(
        (got[diff] if diff < len(got) else None, want[diff] if diff < len(want) else None)
    )
    if method != "vector":
        return reason
    choices = vector_choices(con, questions)
    bad = check_topk_ties(choices, [(q, d, s) for q, _, d, s in got], top_k, SCORE_DIGITS, ranks=[r for _, r, _, _ in got])
    return _settle(bad, reason, ties)


# ---------------------------------------------------------- rounding ties

#: Decimals of ``run_query`` scores and of the stored embeddings.
SCORE_DIGITS = 6
BM25_DIGITS = 4


def micro_units(values, digits: int) -> np.ndarray:
    """Values that are ``digits``-decimal numbers, as exact integers."""
    return np.rint(np.asarray(values, dtype=np.float64) * 10**digits).astype(np.int64)


def rounding_choices(exact: int, unit: int) -> tuple[int, int]:
    """The scores, in steps of ``unit``, that a rounding of ``exact``
    (an integer in finer steps) may give, lower first: the half-up
    (away from zero) rounding, and at a midpoint also the other
    neighbour."""
    sign = -1 if exact < 0 else 1
    q, r = divmod(abs(exact), unit)
    if 2 * r > unit:
        lo = hi = q + 1
    elif 2 * r == unit:
        lo, hi = q, q + 1
    else:
        lo = hi = q
    return (sign * lo, sign * hi) if sign > 0 else (sign * hi, sign * lo)


def vector_choices(con, questions) -> dict[int, dict[int, tuple[int, int]]]:
    """Per question, per doc: the 6-decimal scores a rounding of the
    exact dot product of their 6-decimal embeddings may give."""
    from document_query_system_spark.functions.embed import embed_subquery_sql

    qv = question_vectors(questions)
    docs = con.execute(f"SELECT id, embedding FROM {embed_subquery_sql('documents', 'doc_id', 'text')}").fetchall()
    ids = [int(i) for i, _ in docs]
    dmat = micro_units([v for _, v in docs], SCORE_DIGITS)
    out = {}
    for qid, vec in qv.items():
        # Exact: entries are at most 1e6 in size, so each product is at
        # most 1e12 and a sum of DIM (64) of them fits in int64.
        exact = dmat @ micro_units(vec, SCORE_DIGITS)
        out[qid] = {d: rounding_choices(int(e), 10**SCORE_DIGITS) for d, e in zip(ids, exact)}
    return out


def bm25_choices(con) -> dict[int, dict[int, tuple[int, int]]]:
    """Per question, per doc: the 4-decimal ``q_bm25_topk`` scores a
    rounding of the exact micro-unit sum of the oracle may give."""
    from document_query_system_spark.operators.pipeline import _bm25_ctes

    ctes = _bm25_ctes()
    if "contrib AS (" not in ctes:
        raise RuntimeError("pipeline._bm25_ctes no longer has the expected shape")
    sql = ctes + """
SELECT question_id, doc_id, sum(CAST(round(w * 1000000, 0) AS BIGINT))
FROM contrib GROUP BY question_id, doc_id"""
    unit = 10 ** (6 - BM25_DIGITS)
    out: dict = {}
    for q, d, micro in con.execute(sql).fetchall():
        out.setdefault(int(q), {})[int(d)] = rounding_choices(int(micro), unit)
    return out


def check_topk_ties(choices, got, k: int, digits: int, ranks=None) -> str | None:
    """``got`` (group, doc, score) rows must be the top ``k`` docs per
    group by score descending, then doc id, where each score is one of
    its ``choices`` and a doc left out ranks below the last one kept even
    at its lower choice. ``ranks``, if given, must number the rows of a
    group 1, 2, ... in that order."""
    groups: dict = {}
    for i, (g, d, s) in enumerate(got):
        groups.setdefault(int(g), []).append((int(d), int(round(float(s) * 10**digits)), ranks[i] if ranks else None))
    if set(groups) - set(choices):
        return f"rows for unexpected groups {sorted(set(groups) - set(choices))}"
    for g, docs in choices.items():
        kept = sorted(groups.get(g, []), key=lambda t: (-t[1], t[0]))
        if len(kept) != min(k, len(docs)):
            return f"group {g}: {len(kept)} rows, expected {min(k, len(docs))}"
        if len({d for d, _, _ in kept}) != len(kept):
            return f"group {g}: a doc is returned twice"
        for pos, (d, s, r) in enumerate(kept, 1):
            if d not in docs or s not in docs[d]:
                return f"group {g} doc {d}: score {s / 10**digits} is not a rounding of {docs.get(d)}"
            if ranks and r != pos:
                return f"group {g} doc {d}: rank {r}, expected {pos}"
        if kept:
            last_d, last_s, _ = kept[-1]
            kept_ids = {d for d, _, _ in kept}
            for d, (lo, _) in docs.items():
                if d not in kept_ids and (lo, -d) > (last_s, -last_d):
                    return f"group {g}: doc {d} (score >= {lo / 10**digits}) outranks kept doc {last_d}"
    return None


def _settle(bad: str | None, reason: str, ties) -> str | None:
    """A mismatch against DuckDB is a failure unless the exact check
    passed, in which case it is recorded as a rounding tie."""
    if bad is not None:
        return f"{reason}; exact check: {bad}"
    if ties is not None:
        ties.append(reason)
    return None


# --------------------------------------------------------------- layouts


def layout_ids(layout_path: str) -> Counter:
    table = ds.dataset(layout_path, format="parquet", partitioning="hive").to_table(columns=["doc_id"])
    return Counter(table.column("doc_id").to_pylist())


def check_layout(layout_path: str, expected_ids) -> str | None:
    """Every expected id exactly once, and nothing else."""
    got = layout_ids(layout_path)
    want = Counter(expected_ids)
    if got == want:
        return None
    dupes = sum(1 for c in got.values() if c > 1)
    missing = len(want - got)
    extra = len(got - want)
    return f"layout ids: {dupes} duplicated, {missing} missing, {extra} unexpected"


def question_vectors(questions) -> dict[int, np.ndarray]:
    """Question embeddings from the DuckDB form of the embedder."""
    from document_query_system_spark.functions.embed import embed_subquery_sql

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TABLE questions AS SELECT * FROM (VALUES {_values(questions)}) t(question_id, question_text)"
        )
        rows = con.execute(
            f"SELECT id, embedding FROM {embed_subquery_sql('questions', 'question_id', 'question_text')}"
        ).fetchall()
    finally:
        con.close()
    return {int(i): np.asarray(v, dtype=np.float64) for i, v in rows}


def fold_dot(a, b) -> float:
    """Dot product as a left fold over float64 products, the evaluation
    order of ``functions.embed.dot``."""
    return float(np.cumsum(np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64))[-1])


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal
    form of the value, not on its binary expansion."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def check_probe(rows, layout_path: str, qvecs: dict[int, np.ndarray]) -> str | None:
    """Each returned (question, doc, score) must carry the rounded dot
    product of the question vector and the doc's stored vector."""
    table = ds.dataset(layout_path, format="parquet", partitioning="hive").to_table(columns=["doc_id", "dv"])
    stored = dict(zip(table.column("doc_id").to_pylist(), table.column("dv").to_pylist()))
    if not rows:
        return "probe returned no rows"
    for r in rows:
        dv = stored.get(int(r["doc_id"]))
        if dv is None:
            return f"probe returned doc {r['doc_id']} which is not in the layout"
        want = round_half_up(fold_dot(qvecs[int(r["question_id"])], dv), 6)
        if want != float(r["score"]):
            return f"probe score for ({r['question_id']}, {r['doc_id']}) is {r['score']}, recomputed {want}"
    return None


# -------------------------------------------------------- registered queries


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def norm_rows(cols, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return norm_rows([c[0] for c in res.description], res.fetchall())


def check_query(expected: tuple[list[str], list[tuple]], cols, rows, tie_check=None, ties=None) -> str | None:
    """Rows of a registered query against its oracle's. ``tie_check``,
    given the rows as dicts, settles a difference in exact arithmetic."""
    want_cols, want = expected
    got_cols, got = norm_rows(list(cols), [tuple(r) for r in rows])
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if len(got) != len(want):
        reason = f"{len(got)} rows != {len(want)} expected"
    else:
        bad = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
        if bad is None:
            return None
        reason = f"row {bad}: {got[bad]!r} != {want[bad]!r}"
    if tie_check is None:
        return reason
    return _settle(tie_check([dict(zip(cols, r)) for r in rows]), reason, ties)


def bm25_tie_check(con):
    """``check_query``'s ``tie_check`` for ``q_bm25_topk``."""
    from document_query_system_spark.operators.pipeline import _BM25_TOPK

    def check(rows):
        got = [(r["question_id"], r["doc_id"], r["bm25"]) for r in rows]
        return check_topk_ties(bm25_choices(con), got, _BM25_TOPK, BM25_DIGITS)

    return check


#: Registered queries whose differences are settled in exact arithmetic.
TIE_CHECKS = {"q_bm25_topk": bm25_tie_check}
