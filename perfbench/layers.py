"""Per-layer metrics of a traced measurement.

Every value is per operation (a request, a refresh cycle or a mix pass),
averaged over the operations of the traced timed loop, except the
``session.*`` values, which are medians over the set-up repetitions.
Every name is emitted on every workload; a layer a workload never
reaches reads 0 there.
"""

from __future__ import annotations

import statistics

import spans as tr
from workloads import MIX_QUERIES

#: Spans whose per-operation wall time is a metric of its own.
CALL_SPANS = (
    "api.run_query.build",
    "api.run_query.collect",
    "api.ensure_vector_index",
    "api.ensure_vector_index_ivf_scaled",
    "api.publish_index_version",
    "pipeline.append_ivf_delta",
    "pipeline.delete_from_ivf",
    "pipeline.compact_ivf_cells",
    "api.gc_index_versions",
    "pipeline.published_ivf_topk",
)
PKG = "document_query_system_spark."


def mix_modules() -> dict[str, str]:
    """Query name -> the program module that registers it."""
    from document_query_system_spark import registry

    specs = registry.all_specs()
    return {q: specs[q].fn.__module__.removeprefix(PKG) for q in MIX_QUERIES}


def names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
    ]
    out += [(f"{s}_s", "s", "lower") for s in CALL_SPANS]
    out += [
        ("api.run_query.rows_scored", "count", "lower"),
        ("api.run_query.topk_yield", "ratio", "higher"),
        ("driver.catalyst_s", "s", "lower"),
        ("driver.idle_s", "s", "lower"),
        ("driver.jobs", "count", "lower"),
        ("driver.stages", "count", "lower"),
        ("driver.tasks", "count", "lower"),
        ("executor.run_s", "s", "lower"),
        ("executor.cpu_s", "s", "lower"),
        ("executor.gc_s", "s", "lower"),
        ("pyworker.stage_run_s", "s", "lower"),
        ("pyworker.non_jvm_s", "s", "lower"),
        ("pyworker.rdd_stages", "count", "lower"),
        ("ivf.train_s", "s", "lower"),
        ("ivf.layout_write_s", "s", "lower"),
        ("ivf.cells", "count", "lower"),
        ("ivf.rewritten_cells", "count", "lower"),
        ("ivf.probe_rows_fraction", "ratio", "lower"),
        ("io.input_bytes", "B", "lower"),
        ("io.input_records", "count", "lower"),
        ("io.output_bytes", "B", "lower"),
        ("io.output_files", "count", "lower"),
        ("io.write_tasks", "count", "lower"),
        ("io.empty_write_tasks", "count", "lower"),
        ("io.bytes_written_per_doc", "B", "lower"),
        ("shuffle.write_bytes", "B", "lower"),
        ("shuffle.read_bytes", "B", "lower"),
        ("shuffle.fetch_wait_s", "s", "lower"),
        ("stream.batches", "count", "lower"),
    ]
    modules = mix_modules()
    out += [(f"registry.{q}_s", "s", "lower") for q in MIX_QUERIES]
    out += [(f"registry.{m}_s", "s", "lower") for m in sorted(set(modules.values()))]
    out += [
        ("reconcile.residual_s", "s", "lower"),
        ("reconcile.core_util", "ratio", "higher"),
        ("trace.overhead.setup_s", "s", "lower"),
        ("trace.overhead.op_p50_s", "s", "lower"),
        ("trace.overhead.items_per_s", "1/s", "higher"),
        ("trace.overhead.peak_rss_mb", "MB", "lower"),
    ]
    return out


def _sum(fold: dict, spans, key: str) -> float:
    return sum(fold[s.id][key] for s in spans if s.id in fold)


def _intervals(fold: dict, spans, key: str = "intervals") -> list:
    return [iv for s in spans if s.id in fold for iv in fold[s.id][key]]


def compute(spans: list[tr.Span], fold: dict, reps: list[dict], cores: int) -> dict[str, float]:
    """Per-layer values from the traced timed loop's spans and the folded
    event log."""
    ops = [s for s in spans if s.name == "op"]
    per_op: list[dict[str, float]] = []
    for op in ops:
        sub = tr.subtree(spans, op)
        v: dict[str, float] = {}
        for name in CALL_SPANS:
            v[f"{name}_s"] = sum(s.wall for s in sub if s.name == name)
        for q in MIX_QUERIES:
            v[f"registry.{q}_s"] = sum(s.wall for s in sub if s.name == f"registry.{q}")
        jobs_wall = tr.union_s(_intervals(fold, sub))
        catalyst = sum(s.counts.get("driver.catalyst_s", 0.0) for s in sub)
        run_s = _sum(fold, sub, "executor.run_s")
        v["driver.catalyst_s"] = catalyst
        v["driver.idle_s"] = op.wall - jobs_wall
        v["driver.jobs"] = _sum(fold, sub, "jobs")
        v["driver.stages"] = _sum(fold, sub, "stages")
        v["driver.tasks"] = _sum(fold, sub, "tasks")
        v["executor.run_s"] = run_s
        v["executor.cpu_s"] = _sum(fold, sub, "executor.cpu_s")
        v["executor.gc_s"] = _sum(fold, sub, "executor.gc_s")
        py_run = _sum(fold, sub, "pyworker.stage_run_s")
        v["pyworker.stage_run_s"] = py_run
        v["pyworker.non_jvm_s"] = max(0.0, py_run - _sum(fold, sub, "pyworker.stage_cpu_s"))
        for k in (
            "io.input_bytes",
            "io.input_records",
            "io.output_bytes",
            "io.output_files",
            "io.write_tasks",
            "io.empty_write_tasks",
            "shuffle.write_bytes",
            "shuffle.read_bytes",
            "shuffle.fetch_wait_s",
            "stream.batches",
            "pyworker.rdd_stages",
        ):
            v[k] = _sum(fold, sub, k)
        scored = _sum(fold, [s for s in sub if s.name.startswith("api.run_query")], "rows.nested_loop_join")
        v["api.run_query.rows_scored"] = scored
        v["api.run_query.topk_yield"] = op.counts.get("rows_returned", 0) / scored if scored else 0.0
        ivf = [s for s in sub if s.name == "api.ensure_vector_index_ivf_scaled"]
        write_s = tr.union_s(_intervals(fold, ivf, "write_intervals"))
        v["ivf.layout_write_s"] = write_s
        v["ivf.train_s"] = max(0.0, sum(s.wall for s in ivf) - write_s) if ivf else 0.0
        v["ivf.cells"] = sum(s.counts.get("ivf.cells", 0) for s in ivf)
        v["ivf.rewritten_cells"] = sum(s.counts.get("ivf.rewritten_cells", 0) for s in sub)
        probes = [s for s in sub if s.name == "pipeline.published_ivf_topk"]
        index_rows = sum(s.counts.get("index_rows", 0) for s in probes)
        v["ivf.probe_rows_fraction"] = _sum(fold, probes, "io.input_records") / index_rows if index_rows else 0.0
        docs = op.counts.get("docs_indexed", 0)
        v["io.bytes_written_per_doc"] = v["io.output_bytes"] / docs if docs else 0.0
        v["reconcile.residual_s"] = op.wall - jobs_wall - catalyst
        v["reconcile.core_util"] = run_s / (jobs_wall * cores) if jobs_wall else 0.0
        per_op.append(v)
    out = {k: statistics.fmean(v[k] for v in per_op) for k in per_op[0]} if per_op else {}
    for q, m in mix_modules().items():
        key = f"registry.{m}_s"
        out[key] = out.get(key, 0.0) + out.get(f"registry.{q}_s", 0.0)
    out["session.start_s"] = statistics.median(r["start_s"] for r in reps)
    out["session.warm_s"] = statistics.median(r["warm_s"] for r in reps)
    return out
