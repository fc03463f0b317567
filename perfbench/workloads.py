"""The benchmark's workloads and the measurement loop they share.

A run generates its inputs from the seed, sets the program up several
times (reporting the median), then runs the workload's closed loop for
the requested seconds, and checks outputs afterwards. With tracing on,
``run.py`` repeats the measurement in a fresh JVM that writes Spark's
event log while every span tags its Spark jobs; the per-layer metrics
come from that second measurement.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
import spans as tr

SETUP_REPS = 3
QA_CLIENTS = 2
QA_DOCS = 5_000
QA_TOP_K = 3
QA_CHECKED_REQUESTS = 3
REFRESH_DOCS = 2_000
REFRESH_VICTIM_SHARE = 0.01
REFRESH_PROFILE = "perfbench"
#: Row-count scale of the non-document tables of each landed version.
REFRESH_SCALE = 0.005
#: Lifecycle calls per refresh cycle (two publishes, two probes).
CYCLE_VERBS = 10
#: The analytics stage of a refresh cycle: one registered query per
#: operator family the QA path never reaches — relational (as-of join),
#: sinks (MERGE), Python UDTF, dedup, sparse retrieval, Arrow UDF
#: embedding, stateful streaming and multimodal.
MIX_QUERIES = (
    "q_join_asof",
    "q_merge_into",
    "q_udtf_sentences",
    "q_dedup_minhash_pairs",
    "q_bm25_topk",
    "q_embed_pandas",
    "q_stream_stateful_counts",
    "q_media_hist_arrow",
)


class Context:
    """State of one run: inputs, spans, failures and the live session."""

    def __init__(self, workload: str, seed: int, seconds: float, cores: int, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.work = work
        self.prof = gen.Profile()
        self.failures: list[dict] = []
        #: Differences from DuckDB that the exact check settled as
        #: rounding ties (see oracle.py); not failures.
        self.ties: list[dict] = []
        self.attempted = 0
        self.spark = None
        self.tracer = tr.Tracer(tag_jobs=False)

    def fail(self, op: str, name: str, reason: str) -> None:
        self.failures.append({"workload": self.workload, "op": op, "name": name, "reason": reason})

    def record(self, op: str, name: str, bad: str | None, ties: list[str]) -> None:
        """A check's outcome: a failure, or the ties it settled."""
        if bad:
            self.fail(op, name, bad)
        for note in ties:
            self.ties.append({"workload": self.workload, "op": op, "name": name, "reason": note})


# ------------------------------------------------------------- sessions


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def _warm(spark) -> None:
    """Start the Python workers and ship the package to them."""
    from document_query_system_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.range(4096, numPartitions=spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id LONG"
    ).count()


def setup(ctx: Context, build) -> list[dict]:
    """Set the program up ``SETUP_REPS`` times in fresh sessions; the
    last session stays open for the timed loop."""
    from document_query_system_spark.session import get_spark

    reps = []
    for _ in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
            ctx.tracer.spark_context = None
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            ctx.spark = get_spark(app_name=f"perfbench-{ctx.workload}")
        ctx.tracer.spark_context = ctx.spark.sparkContext
        t1 = time.perf_counter()
        with ctx.tracer.span("session.warm"):
            _warm(ctx.spark)
        t2 = time.perf_counter()
        build(ctx)
        t3 = time.perf_counter()
        reps.append({"setup_s": t3 - t0, "start_s": t1 - t0, "warm_s": t2 - t1})
    return reps


# ------------------------------------------------------------ qa_interactive


def request_plan(rng):
    """Endless (questions, method) pairs for one QA client, in blocks of
    ten: sizes come in pairs k, 11-k (1-10 questions, mean 5.5 over
    every pair) and every five requests hold exactly one keyword request,
    so the load of a short run does not drift with the seed."""
    while True:
        sizes = [n for k in rng.permutation(10)[:5] + 1 for n in (int(k), 11 - int(k))]
        methods = []
        for _ in range(2):
            deck = ["vector"] * 4 + ["keyword"]
            rng.shuffle(deck)
            methods += deck
        yield from zip(sizes, methods)


class QAInteractive:
    """Two closed-loop callers sending small question batches."""

    name = "qa_interactive"

    def generate(self, ctx: Context) -> None:
        self.corpus = gen.corpus_dir(ctx.prof, ctx.seed, 1, QA_DOCS, os.path.join(ctx.work, "qa_corpus"))

    def build(self, ctx: Context) -> None:
        from document_query_system_spark import api

        with ctx.tracer.span("api.ensure_vector_index"):
            api.ensure_vector_index(ctx.spark, self.corpus)

    def warmup(self, ctx: Context) -> None:
        """Compile both scoring paths' plans before timing."""
        from document_query_system_spark import api

        rng = gen.rng_for(ctx.seed, 30)
        reqs = [(m, gen.questions(ctx.prof, rng, 5)) for m in ("vector", "keyword")]
        with ThreadPoolExecutor(len(reqs)) as pool:
            futures = [
                pool.submit(lambda m=m, qs=qs: api.run_query(ctx.spark, self.corpus, qs, method=m, top_k=QA_TOP_K).collect())
                for m, qs in reqs
            ]
            for f in futures:
                f.result()

    def timed(self, ctx: Context) -> dict:
        from document_query_system_spark import api

        requests: list[dict] = []
        lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + ctx.seconds

        def client(cid: int) -> None:
            rng = gen.rng_for(ctx.seed, 10 + cid)
            for nq, method in request_plan(rng):
                if time.perf_counter() >= deadline:
                    break
                qs = gen.questions(ctx.prof, rng, nq)
                req = {"method": method, "questions": qs, "rows": None, "error": None}
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("op") as op:
                        with ctx.tracer.span("api.run_query.build"):
                            df = api.run_query(ctx.spark, self.corpus, qs, method=method, top_k=QA_TOP_K)
                        with ctx.tracer.span("api.run_query.collect") as sp:
                            req["rows"] = [r.asDict() for r in df.collect()]
                            ctx.tracer.note_plan(sp, df)
                        op.counts["rows_returned"] = len(req["rows"])
                except Exception:  # noqa: BLE001 - a failed request is counted, the run goes on
                    req["error"] = traceback.format_exc(limit=3)
                req["t0"], req["t1"] = t0, time.perf_counter()
                with lock:
                    requests.append(req)

        with ThreadPoolExecutor(QA_CLIENTS) as pool:
            for f in [pool.submit(client, c) for c in range(QA_CLIENTS)]:
                f.result()
        self.requests = requests
        ok = [r for r in requests if r["error"] is None]
        lat = sorted(r["t1"] - r["t0"] for r in ok)
        questions = sum(len(r["questions"]) for r in ok)
        return {
            "clients": QA_CLIENTS,
            "ops": len(requests),
            "samples": [(r["t1"] - r["t0"], len(r["questions"]), r["method"]) for r in requests],
            "op_latencies": lat,
            "items": questions,
            "errors": [("run_query", r["method"], r["error"]) for r in requests if r["error"]],
        }

    def check(self, ctx: Context) -> None:
        ok = [r for r in self.requests if r["error"] is None]
        rng = gen.rng_for(ctx.seed, 20)
        pick = rng.choice(len(ok), size=min(QA_CHECKED_REQUESTS, len(ok)), replace=False)
        con = oracle.connect(self.corpus, tables=("documents",))
        try:
            for i in sorted(int(x) for x in pick):
                r, ties = ok[i], []
                bad = oracle.check_qa(con, r["method"], r["questions"], QA_TOP_K, r["rows"], ties=ties)
                ctx.record("run_query", f"{r['method']} request {i}", bad, ties)
        finally:
            con.close()

    def detail(self, ctx: Context, timed: dict) -> dict:
        lat = timed["op_latencies"]
        out = {
            "request_p50_s": _m(statistics.median(lat), "s", len(lat)),
            "questions_per_s": _m(QA_CLIENTS * timed["items"] / sum(lat), "1/s", len(lat)),
        }
        p = tail_percentile(len(lat))
        if p:
            out[f"request_p{p}_s"] = _m(_percentile(lat, p), "s", len(lat))
        return out


# ------------------------------------------------------------- index_refresh


class IndexRefresh:
    """Sequential cycles, each over a freshly landed version of the full
    table set: the index lifecycle, then the registered analytics
    queries over the same version."""

    name = "index_refresh"

    def generate(self, ctx: Context) -> None:
        self.cycles: list[dict] = []

    def build(self, ctx: Context) -> None:
        pass

    def warmup(self, ctx: Context) -> None:
        pass

    def _land(self, ctx: Context, i: int) -> dict:
        # Every version lands under its own path: see README, "Fresh paths".
        sf = gen.dataset_dir(
            ctx.prof, ctx.seed, i, REFRESH_SCALE, REFRESH_DOCS, os.path.join(ctx.work, "refresh", f"v{i}")
        )
        rng = gen.rng_for(ctx.seed, i, 300)
        victims = sorted(int(x) for x in rng.choice(REFRESH_DOCS, int(REFRESH_DOCS * REFRESH_VICTIM_SHARE), replace=False))
        order = [MIX_QUERIES[int(k)] for k in rng.permutation(len(MIX_QUERIES))]
        return {"sf": sf, "victims": victims, "order": order, "results": []}

    def _probe(self, ctx: Context, cyc: dict, key: str, index_rows: int) -> float:
        from document_query_system_spark.operators import pipeline as pl

        with ctx.tracer.span("pipeline.published_ivf_topk") as sp:
            t0 = time.perf_counter()
            df = pl.published_ivf_topk(ctx.spark, cyc["sf"], profile=REFRESH_PROFILE, tick=False)
            cyc[key] = [r.asDict() for r in df.collect()]
            ctx.tracer.note_plan(sp, df)
            sp.counts["index_rows"] = index_rows
            return time.perf_counter() - t0

    def _cycle(self, ctx: Context, cyc: dict) -> None:
        """One cycle; ``cyc["step"]`` names the operation in flight."""
        from document_query_system_spark import api, registry
        from document_query_system_spark.operators import pipeline as pl

        T, spark, sf = ctx.tracer, ctx.spark, cyc["sf"]
        t_land = time.perf_counter()
        with T.span("op") as op:
            cyc["step"] = "ensure_vector_index"
            with T.span("api.ensure_vector_index"):
                api.ensure_vector_index(spark, sf)
            cyc["step"] = "ensure_vector_index_ivf_scaled"
            with T.span("api.ensure_vector_index_ivf_scaled") as sp:
                layout, cents, cells = api.ensure_vector_index_ivf_scaled(spark, sf)
                sp.counts["ivf.cells"] = cells
            cyc.update(layout=layout, cents=cents)
            cyc["step"] = "publish_index_version"
            with T.span("api.publish_index_version"):
                api.publish_index_version(spark, sf, layout, cents, cells, profile=REFRESH_PROFILE)
            cyc["step"] = "published_ivf_topk"
            cyc["probe_s"] = [self._probe(ctx, cyc, "probe1", REFRESH_DOCS)]
            cyc["publish_lag_s"] = time.perf_counter() - t_land

            m0 = time.perf_counter()
            cyc["step"] = "append_ivf_delta"
            with T.span("pipeline.append_ivf_delta"):
                applied = pl.append_ivf_delta(spark, sf, scaled=True)
            cyc["applied"] = applied
            cyc["step"] = "delete_from_ivf"
            with T.span("pipeline.delete_from_ivf") as sp:
                ids = spark.createDataFrame([(v,) for v in cyc["victims"]], "doc_id LONG")
                sp.counts["ivf.rewritten_cells"] = len(pl.delete_from_ivf(spark, applied, ids))
            cyc["step"] = "compact_ivf_cells"
            with T.span("pipeline.compact_ivf_cells") as sp:
                # Compact every cell the append and delete left with
                # more than one file.
                sp.counts["ivf.rewritten_cells"] = len(pl.compact_ivf_cells(spark, applied, max_files_per_cell=1))
            m1 = time.perf_counter()
            cyc["step"] = "publish_index_version"
            with T.span("api.publish_index_version"):
                api.publish_index_version(spark, sf, applied, cents, cells, profile=REFRESH_PROFILE)
            cyc["step"] = "published_ivf_topk"
            cyc["probe_s"].append(self._probe(ctx, cyc, "probe2", REFRESH_DOCS - len(cyc["victims"])))
            cyc["step"] = "gc_index_versions"
            g0 = time.perf_counter()
            with T.span("api.gc_index_versions"):
                api.gc_index_versions(spark, sf, keep_last=2, profile=REFRESH_PROFILE)
            cyc["maintenance_s"] = (m1 - m0) + (time.perf_counter() - g0)

            a0 = time.perf_counter()
            specs = registry.all_specs()
            for name in cyc["order"]:
                cyc["step"] = name
                with T.span(f"registry.{name}") as sp:
                    df = specs[name].fn(spark, sf)
                    rows = df.collect()
                    T.note_plan(sp, df)
                cyc["results"].append((name, df.columns, rows))
            cyc["mix_pass_s"] = time.perf_counter() - a0
            op.counts["docs_indexed"] = REFRESH_DOCS - len(cyc["victims"])
        cyc["step"] = None

    def timed(self, ctx: Context) -> dict:
        start = time.perf_counter()
        deadline = start + ctx.seconds
        errors, i = [], 0
        while time.perf_counter() < deadline:
            cyc = self._land(ctx, i)
            cyc["t0"] = time.perf_counter()
            try:
                self._cycle(ctx, cyc)
            except Exception:  # noqa: BLE001 - a failed cycle is counted, the run goes on
                cyc["error"] = traceback.format_exc(limit=3)
                errors.append(("index_refresh", cyc["step"], cyc["error"]))
            cyc["t1"] = time.perf_counter()
            self.cycles.append(cyc)
            i += 1
        ok = [c for c in self.cycles if "error" not in c]
        return {
            "clients": 1,
            "ops": len(self.cycles) * (CYCLE_VERBS + len(MIX_QUERIES)),
            "op_latencies": sorted(c["t1"] - c["t0"] for c in ok),
            "items": len(ok) * REFRESH_DOCS,
            "errors": errors,
        }

    def check(self, ctx: Context) -> None:
        from document_query_system_spark import registry
        from document_query_system_spark.operators.questions import GOLDEN_QUESTIONS

        qvecs = oracle.question_vectors(GOLDEN_QUESTIONS)
        oracles = registry.oracles()
        for i, c in enumerate(self.cycles):
            if "error" in c:
                continue
            want = sorted(set(range(REFRESH_DOCS)) - set(c["victims"]))
            bad = oracle.check_layout(c["applied"], want)
            if bad:
                ctx.fail("compact_ivf_cells", f"cycle {i}", bad)
            for key, path in (("probe1", c["layout"]), ("probe2", c["applied"])):
                bad = oracle.check_probe(c[key], path, qvecs)
                if bad:
                    ctx.fail("published_ivf_topk", f"cycle {i} {key}", bad)
            con = oracle.connect(c["sf"])
            try:
                for name, cols, rows in c["results"]:
                    tie_check, ties = oracle.TIE_CHECKS.get(name), []
                    bad = oracle.check_query(
                        oracle.oracle_rows(con, oracles[name]),
                        cols,
                        rows,
                        tie_check=tie_check(con) if tie_check else None,
                        ties=ties,
                    )
                    ctx.record("registry", f"cycle {i} {name}", bad, ties)
            finally:
                con.close()

    def detail(self, ctx: Context, timed: dict) -> dict:
        ok = [c for c in self.cycles if "error" not in c]
        if not ok:
            return {}
        probes = [p for c in ok for p in c["probe_s"]]
        last = ok[-1]
        nbytes = _tree_bytes(last["applied"]) + _tree_bytes(last["cents"])
        n = len(ok)
        return {
            "cycle_s": _m(statistics.median(timed["op_latencies"]), "s", n),
            "publish_lag_s": _m(statistics.median(c["publish_lag_s"] for c in ok), "s", n),
            "maintenance_s": _m(statistics.median(c["maintenance_s"] for c in ok), "s", n),
            "probe_p50_s": _m(statistics.median(probes), "s", len(probes)),
            "index_bytes_per_doc": _m(nbytes / (REFRESH_DOCS - len(last["victims"])), "B", 1),
            "mix_pass_s": _m(statistics.median(c["mix_pass_s"] for c in ok), "s", n),
        }


IMPLS = {w.name: w for w in (QAInteractive, IndexRefresh)}


# ------------------------------------------------------------- measurement


def _m(value: float, unit: str, n: int) -> dict:
    return {"value": float(value), "unit": unit, "n": int(n)}


def _percentile(sorted_vals, p: int) -> float:
    k = (len(sorted_vals) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (k - lo)


def tail_percentile(n: int) -> int | None:
    """The highest of p90/p75/p66 with at least ten samples beyond it."""
    for p in (90, 75, 66):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def measure(ctx: Context, impl) -> dict:
    """Setup reps, the timed loop, peak memory. Returns the end-to-end
    metrics plus everything the per-layer fold needs."""
    t0 = time.perf_counter()
    reps = setup(ctx, impl.build)
    t1 = time.perf_counter()
    impl.warmup(ctx)
    t2 = time.perf_counter()
    timed = impl.timed(ctx)
    t3 = time.perf_counter()
    phases = {"setup_total_s": t1 - t0, "warmup_s": t2 - t1, "timed_s": t3 - t2}
    pids = [os.getpid(), _jvm_pid(ctx.spark)]
    rss = peak_rss_mb(pids)
    phases["python_peak_rss_mb"] = peak_rss_mb(pids[:1])
    ctx.attempted += timed["ops"]
    for op, name, err in timed["errors"]:
        ctx.fail(op, name, err.strip().splitlines()[-1])
    return {"e2e": e2e_metrics(reps, timed, rss), "reps": reps, "timed": timed, "pids": pids, "phases": phases}


def e2e_metrics(reps: list[dict], timed: dict, rss_mb: float) -> dict:
    """The end-to-end metrics of ``BENCHMARK.json`` from one measurement."""
    n = len(timed["op_latencies"])
    return {
        "setup_s": _m(statistics.median(r["setup_s"] for r in reps), "s", len(reps)),
        "op_p50_s": _m(statistics.median(timed["op_latencies"]), "s", n),
        # Closed loop: clients x work per second of operation time, which
        # leaves out the partial last operation at the deadline.
        "items_per_s": _m(timed["clients"] * timed["items"] / sum(timed["op_latencies"]), "1/s", n),
        "peak_rss_mb": _m(rss_mb, "MB", 1),
    }
