"""Per-layer metrics of the traced run, from the spans each traced
operation recorded. Every workload reports every metric; a layer the
workload does not reach reads 0. Each value is the median over the
run's traced operations (per operation, or per pass for ``query_mix``).
"""

from __future__ import annotations

import statistics

import spans as sp
from workloads import FIT, MIX

COUNT, SECONDS = "count", "s"

# name -> unit, in the order BENCHMARK.json lists them.
METRICS = {
    "session.get_spark_s": SECONDS,
    "sources.read_points_s": SECONDS,
    "sources.read_points_jobs": COUNT,
    "kmeans.lloyd_fit_s": SECONDS,
    "kmeans.iterations": COUNT,
    "kmeans.iter_s": SECONDS,
    "kmeans.jobs_per_fit": COUNT,
    "kmeans.stages_per_fit": COUNT,
    "kmeans.tasks_per_fit": COUNT,
    "kmeans.driver_s": SECONDS,
    "kmeans.exec_cpu_s": SECONDS,
    "functions.vector.cpu_ns_per_point_iter": "ns",
    "kmeans.cached_input_mb": "MB",
    "kmeans.seed_s": SECONDS,
    "kmeans.seed_exec_cpu_s": SECONDS,
    "kmeans.seed_candidates": COUNT,
    "kmeans.weights_s": SECONDS,
    "kmeans.weights_exec_cpu_s": SECONDS,
    "kmeans.refine_s": SECONDS,
    "kmeans.lloyd_join_s": SECONDS,
    "kmeans.lloyd_join_iterations": COUNT,
    "spark.gc_s": SECONDS,
    "spark.python_worker_cpu_s": SECONDS,
    "spark.jvm_peak_rss_mb": "MB",
    "queries.build_s": SECONDS,
    "queries.catalyst_s": SECONDS,
    "queries.collect_s": SECONDS,
    "queries.driver_s": SECONDS,
    "queries.jobs": COUNT,
    "queries.stages": COUNT,
    "queries.tasks": COUNT,
    "queries.exec_cpu_s": SECONDS,
    "queries.shuffle_write_bytes": "bytes",
    "plans.shuffles": COUNT,
    "op.wall_s": SECONDS,
    "op.layer_spans_s": SECONDS,
    "op.unattributed_s": SECONDS,
    "op.stage_union_s": SECONDS,
    "op.driver_remainder_s": SECONDS,
    "trace.overhead_s": SECONDS,
}


def query_metric(name: str) -> str:
    return f"query.{name}_s"


def _cpu_s(stages) -> float:
    return sum(s["cpu_ns"] for s in stages) / 1e9


def _union(tracer, span) -> float:
    return sp.stage_union_s(
        tracer.stages_under(span), span.wall0, span.wall0 + span.dur
    )


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning of one DataFrame, from its
    QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return ms / 1e3


def _one_op(run, t) -> dict:
    tracer, root, w = run.tracer, t["root"], run.w
    m = dict.fromkeys(METRICS, 0.0)
    stages = tracer.stages_under(root)
    m["op.wall_s"] = t["wall"]
    top = tracer.children(root)
    m["op.layer_spans_s"] = sum(s.dur for s in top)
    m["op.unattributed_s"] = t["wall"] - m["op.layer_spans_s"]
    m["op.stage_union_s"] = _union(tracer, root)
    m["op.driver_remainder_s"] = t["wall"] - m["op.stage_union_s"]
    m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    m["spark.python_worker_cpu_s"] = t["python_worker_cpu_s"]

    for s in tracer.named_under(root, "sources.read_points_csv"):
        m["sources.read_points_s"] += s.dur
        m["sources.read_points_jobs"] += tracer.jobs_under(s)
    for fit in tracer.named_under(root, "kmeans.lloyd_fit"):
        fst = tracer.stages_under(fit)
        iters = t["result"].iterations
        m["kmeans.lloyd_fit_s"] += fit.dur
        m["kmeans.iterations"] += iters
        m["kmeans.jobs_per_fit"] += tracer.jobs_under(fit)
        m["kmeans.stages_per_fit"] += len(fst)
        m["kmeans.tasks_per_fit"] += sum(s["tasks"] for s in fst)
        m["kmeans.driver_s"] += fit.dur - _union(tracer, fit)
        m["kmeans.exec_cpu_s"] += _cpu_s(fst)
        first_job = min((s["job"] for s in fst), default=None)
        m["kmeans.cached_input_mb"] += sum(
            s["input_bytes"] for s in fst if s["job"] != first_job
        ) / 1e6
        if iters and getattr(w, "pts", None) is not None:
            m["functions.vector.cpu_ns_per_point_iter"] += (
                _cpu_s(fst) * 1e9 / (len(w.pts) * iters)
            )
    if m["kmeans.iterations"]:
        m["kmeans.iter_s"] = m["kmeans.lloyd_fit_s"] / m["kmeans.iterations"]

    for s in tracer.named_under(root, "kmeans.kmeans_parallel_init"):
        m["kmeans.seed_s"] += s.dur
        m["kmeans.seed_exec_cpu_s"] += _cpu_s(tracer.stages_under(s))
    if getattr(w, "captured", None):
        m["kmeans.seed_candidates"] = len(w.captured[-1][0])
    for name in ("kmeans.candidate_weights", "kmeans.candidate_weights.collect"):
        for s in tracer.named_under(root, name):
            m["kmeans.weights_s"] += s.dur
            m["kmeans.weights_exec_cpu_s"] += _cpu_s(tracer.stages_under(s))
    for s in tracer.named_under(root, "kmeans.refine_weighted_candidates"):
        m["kmeans.refine_s"] += s.dur
    for s in tracer.named_under(root, "kmeans.lloyd_fit_join"):
        m["kmeans.lloyd_join_s"] += s.dur
        m["kmeans.lloyd_join_iterations"] = t["result"][FIT][1].iterations

    for entry in top:
        if not entry.name.startswith("query."):
            continue
        qname = entry.name[len("query."):]
        est = tracer.stages_under(entry)
        m[query_metric(qname)] = entry.dur
        for child in tracer.children(entry):
            key = {"queries.build": "queries.build_s",
                   "queries.collect": "queries.collect_s"}.get(child.name)
            if key:
                m[key] += child.dur
        m["queries.driver_s"] += entry.dur - _union(tracer, entry)
        m["queries.jobs"] += tracer.jobs_under(entry)
        m["queries.stages"] += len(est)
        m["queries.tasks"] += sum(s["tasks"] for s in est)
        m["queries.exec_cpu_s"] += _cpu_s(est)
        m["queries.shuffle_write_bytes"] += sum(
            s["shuffle_write_bytes"] for s in est
        )
        df = t["result"][qname][0]
        if df is not None:
            from k_means_clustering_via_map_reduce_spark.plans.introspect import (
                count_shuffles,
            )

            m["queries.catalyst_s"] += _catalyst_s(df)
            m["plans.shuffles"] += count_shuffles(df)
    return m


def per_layer(run, traced: list[dict], overhead_s: float) -> dict:
    names = dict(METRICS)
    names.update({query_metric(q): SECONDS for q in MIX})
    per_op = [_one_op(run, t) for t in traced if t["result"] is not None]
    out = {}
    for name, unit in names.items():
        vals = [m.get(name, 0.0) for m in per_op]
        out[name] = {"value": statistics.median(vals) if vals else 0.0,
                     "unit": unit}
    out["session.get_spark_s"]["value"] = run.get_spark_s
    rss = sp.peak_rss_mb(sp.jvm_pid(run.spark) or 0)
    out["spark.jvm_peak_rss_mb"]["value"] = rss
    out["trace.overhead_s"]["value"] = overhead_s
    return out
