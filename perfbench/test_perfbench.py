"""The benchmark's own tests, at tiny sizes and without a Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def prof():
    return gen.Profile()


def _tables(prof, seed, version=0):
    return gen.tables(prof, seed, version, scale=0.0005, n_docs=60)


def test_generator_is_deterministic_per_seed(prof):
    a, b = _tables(prof, 7), _tables(prof, 7)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    rq = lambda: gen.questions(prof, gen.rng_for(7, 10), 20)  # noqa: E731
    assert rq() == rq()


def test_generator_differs_across_seeds_and_versions(prof):
    a, b, v = _tables(prof, 7), _tables(prof, 8), _tables(prof, 7, version=1)
    for name in ("documents", "lineitem", "events", "embeddings"):
        assert not a[name].equals(b[name]), name
        assert not a[name].equals(v[name]), name
    assert gen.questions(prof, gen.rng_for(7, 10), 20) != gen.questions(prof, gen.rng_for(8, 10), 20)


def test_generated_documents_follow_the_profile(prof):
    docs = gen.documents(prof, gen.rng_for(1, 1), 400)
    vocab = set(prof.words) | {gen.DUP_WORD}
    for text in docs.column("text").to_pylist():
        words = text.split(" ")
        assert set(words) <= vocab
        assert prof.lengths.min() <= len(words) <= prof.lengths.max() + 1
    assert docs.column("n_chars").to_pylist() == [len(t) for t in docs.column("text").to_pylist()]


def test_end_to_end_names_match_benchmark_json():
    timed = {"op_latencies": [1.0, 2.0], "items": 4, "wall": 3.0, "clients": 2}
    emitted = wl.e2e_metrics([{"setup_s": 1.0}], timed, 100.0)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in emitted.items()} == declared


def test_per_layer_names_match_benchmark_json():
    declared = [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]]
    assert layers.names() == declared
    op = spans.Span(1, "op", None)
    op.t1 = op.t0 + 1.0
    computed = layers.compute([op], {}, [{"start_s": 1.0, "warm_s": 1.0}], cores=4)
    overhead = {f"trace.overhead.{m['name']}" for m in BENCH["end_to_end"]}
    assert set(computed) | overhead == {n for n, _, _ in declared}


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(wl.IMPLS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in BENCH["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup_bound = next(m["bound"] for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in BENCH["end_to_end"])


def test_planted_wrong_answer_counts_as_failed(prof, tmp_path):
    ctx = wl.Context("qa_interactive", 3, 1.0, 1, str(tmp_path))
    qa = wl.QAInteractive()
    qa.corpus = str(tmp_path / "corpus")
    gen.write_table(gen.documents(prof, gen.rng_for(3, 1), 80), qa.corpus, "documents")
    con = oracle.connect(qa.corpus, tables=("documents",))
    qa.requests = []
    for i in range(wl.QA_CHECKED_REQUESTS):
        method = ("vector", "keyword")[i % 2]
        qs = gen.questions(prof, gen.rng_for(3, 40 + i), 2)
        res = con.execute(oracle.qa_oracle_sql(method, qs, wl.QA_TOP_K))
        cols = [c[0] for c in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
        qa.requests.append({"method": method, "questions": qs, "rows": rows, "error": None})
    con.close()
    ctx.attempted = len(qa.requests)

    qa.check(ctx)
    assert ctx.failures == []
    assert run.result(ctx, {})["correct"] is True

    qa.requests[1]["rows"][0]["score"] += 0.5
    qa.check(ctx)
    line = run.result(ctx, {})
    assert line["failed"] == 1 and line["correct"] is False
    assert ctx.failures[0]["workload"] == "qa_interactive"
    assert ctx.failures[0]["op"] == "run_query"


def test_layout_check_catches_duplicates_and_missing(tmp_path):
    layout = tmp_path / "layout" / "cell=0"
    layout.mkdir(parents=True)
    gen.write_table(pa.table({"doc_id": pa.array([1, 2, 2], pa.int64())}), str(layout), "part-0")
    assert oracle.check_layout(str(tmp_path / "layout"), [1, 2]) is not None
    assert oracle.check_layout(str(tmp_path / "layout"), [1, 2, 2]) is None
    assert oracle.check_layout(str(tmp_path / "layout"), [1, 2, 2, 3]) is not None


def test_fold_attributes_jobs_to_spans(tmp_path):
    sp = spans.Span(5, "api.run_query.collect", None)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pbspan-5"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "RDD Info": [
            {"Name": "MapPartitionsRDD", "Scope": json.dumps({"name": "MapInPandas"})}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {}, "Task Metrics": {
            "Executor Run Time": 2000, "Executor CPU Time": 5e8, "JVM GC Time": 10,
            "Output Metrics": {"Bytes Written": 10, "Records Written": 1}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = spans.fold_event_log(str(path), [sp])[5]
    assert out["jobs"] == 1 and out["tasks"] == 1
    assert out["executor.run_s"] == 2.0 and out["pyworker.stage_run_s"] == 2.0
    assert out["io.write_tasks"] == 1 and out["io.output_bytes"] == 10
    assert spans.union_s(out["intervals"]) == pytest.approx(2.5)


def test_compare_verdicts():
    import compare

    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
    faster = [v * 0.8 for v in parent]
    slower = [v * 1.3 for v in parent]
    assert compare.verdict(parent, faster, list(zip(parent, faster)), "lower", 0.1)["verdict"] == "improved"
    assert compare.verdict(parent, slower, list(zip(parent, slower)), "lower", 0.1)["verdict"] == "worse"
    assert compare.verdict(parent, parent, list(zip(parent, parent)), "lower", 0.1)["verdict"] == "no_regression"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, noisy, list(zip(noisy, noisy)), "lower", 0.1)["verdict"] == "unresolved"


def test_probe_recompute_rounds_like_spark():
    # 0.6719845 rounds half-up on its decimal form, as Spark's round does.
    assert oracle.round_half_up(0.6719845, 6) == 0.671985
    assert oracle.fold_dot([0.1, 0.2, 0.3], [1.0, 1.0, 1.0]) == (0.1 + 0.2) + 0.3


def test_rounding_choices_are_half_up_with_both_neighbours_at_a_midpoint():
    assert oracle.rounding_choices(2454550, 100) == (24545, 24546)
    assert oracle.rounding_choices(2454549, 100) == (24545, 24545)
    assert oracle.rounding_choices(2454551, 100) == (24546, 24546)
    assert oracle.rounding_choices(-2454550, 100) == (-24546, -24545)


def test_tie_check_accepts_either_rounding_of_a_midpoint_only():
    # Group 1: doc 7 sits on a midpoint (2.45455); doc 8 does not.
    choices = {1: {7: oracle.rounding_choices(2454550, 100), 8: (20000, 20000), 9: (10000, 10000)}}
    for tie in (2.4545, 2.4546):
        assert oracle.check_topk_ties(choices, [(1, 7, tie), (1, 8, 2.0)], 2, 4) is None
    # One unit off where the exact value is not a midpoint is a failure.
    assert oracle.check_topk_ties(choices, [(1, 7, 2.4546), (1, 8, 2.0001)], 2, 4) is not None
    # Leaving out a doc that outranks a kept one is a failure.
    assert oracle.check_topk_ties(choices, [(1, 7, 2.4546), (1, 9, 1.0)], 2, 4) is not None
    # So are ranks out of score order, and a missing row.
    assert oracle.check_topk_ties(choices, [(1, 7, 2.4546), (1, 8, 2.0)], 2, 4, ranks=[2, 1]) is not None
    assert oracle.check_topk_ties(choices, [(1, 7, 2.4546)], 2, 4) is not None


def test_registered_query_tie_is_recorded_not_failed():
    expected = oracle.norm_rows(["question_id", "doc_id", "bm25"], [(1, 7, 2.4545), (1, 8, 2.0)])
    choices = {1: {7: oracle.rounding_choices(2454550, 100), 8: (20000, 20000)}}

    def tie_check(rows):
        return oracle.check_topk_ties(choices, [(r["question_id"], r["doc_id"], r["bm25"]) for r in rows], 2, 4)

    cols = ["question_id", "doc_id", "bm25"]
    ties: list = []
    assert oracle.check_query(expected, cols, [(1, 7, 2.4546), (1, 8, 2.0)], tie_check, ties) is None
    assert len(ties) == 1
    assert oracle.check_query(expected, cols, [(1, 7, 2.4546), (1, 8, 2.0001)], tie_check, []) is not None
    assert oracle.check_query(expected, cols, [(1, 7, 2.4546), (1, 8, 2.0001)]) is not None


def test_planted_vector_score_off_by_one_unit_counts_as_failed(prof, tmp_path):
    corpus = str(tmp_path / "corpus")
    gen.write_table(gen.documents(prof, gen.rng_for(5, 1), 80), corpus, "documents")
    con = oracle.connect(corpus, tables=("documents",))
    qs = gen.questions(prof, gen.rng_for(5, 40), 3)
    res = con.execute(oracle.qa_oracle_sql("vector", qs, wl.QA_TOP_K))
    cols = [c[0] for c in res.description]
    rows = [dict(zip(cols, r)) for r in res.fetchall()]
    assert oracle.check_qa(con, "vector", qs, wl.QA_TOP_K, rows) is None
    choices = oracle.vector_choices(con, qs)
    # Plant a one-unit error on a score that is not on a midpoint.
    row = next(r for r in rows if len(set(choices[r["question_id"]][r["doc_id"]])) == 1)
    row["score"] = round(row["score"] - 1e-6, 6)
    ties: list = []
    assert oracle.check_qa(con, "vector", qs, wl.QA_TOP_K, rows, ties=ties) is not None
    assert ties == []
    con.close()
