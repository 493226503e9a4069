"""Per-layer metrics of a traced run.

Layers are named by the engine's modules (``session``, ``registry``,
``sources.tables``, ``sources.bucketing``, ``operators.<module>``,
``mapreduce``); the Spark engine underneath is split into ``spark``
(task metrics from the event log), and ``jvm``, ``python_workers`` and
``driver`` (process CPU and memory from ``/proc``).  Every value is per
traced iteration unless its name says otherwise.  ``METRICS.md`` maps
each one to the end-to-end metric it should move.
"""

from __future__ import annotations

import functools
import statistics
import sys

from spans import Fold, read_event_log, stage_totals, task_skew
from workloads import RELATIONAL_QUERIES, MapReduceWordcount

OPERATOR_MODULES = (
    "relational", "joins", "windows", "events", "dedup", "versioning", "clusters",
)
BUILD_SPAN = "build_shingle_table_from_docs"
MAINTAIN_SPAN = "apply_corpus_diff_to_shingle_table"
STORED_QUERY_SPANS = (
    "jaccard_pairs_from_table", "minhash_pairs_from_table", "canonical_members",
)
PACKAGE = "simplex_mapreduce_spark"


def names() -> list[str]:
    """Every per-layer metric, in output order."""
    out = [
        "session.get_spark_s", "registry.load_all_s",
        "driver.cpu_s", "driver.gap_s",
        "jvm.cpu_s", "jvm.rss_mb",
        "python_workers.cpu_s", "python_workers.rss_mb",
        "spark.executor_cpu_s", "spark.executor_run_s", "spark.run_minus_cpu_s",
        "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
        "spark.spill_bytes", "spark.peak_exec_mem_bytes",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_skew",
        "spark.task_failures",
        "sources.tables.load_table_s", "sources.scan_bytes", "sources.scan_rows",
        "sources.scan_run_s",
        "sources.bucketing.build_s", "sources.bucketing.build_bytes_written",
        "sources.bucketing.maintain_s", "sources.bucketing.stored_scan_bytes",
    ]
    for m in OPERATOR_MODULES:
        out += [f"operators.{m}.{k}" for k in ("wall_s", "self_s", "cpu_s", "shuffle_bytes")]
    out += [f"query.{q}.wall_s" for q in RELATIONAL_QUERIES]
    out += ["operators.dedup.ppjoin_yield", "operators.dedup.lsh_yield"]
    out += [
        "mapreduce.wall_s", "mapreduce.self_s", "mapreduce.map_run_s",
        "mapreduce.reduce_run_s", "mapreduce.sort_run_s",
        "mapreduce.shuffle_records_per_word",
    ]
    out += ["trace.overhead_frac"]
    return out


UNITS = {"_s": "s", "_bytes": "bytes", "_bytes_written": "bytes", "_mb": "MB", "_rows": "rows"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count" if name.split(".")[-1] in (
        "jobs", "stages", "tasks", "task_failures"
    ) else "ratio"


def patch_load_table(tracer):
    """Open a ``sources.tables.load_table`` span around every call of
    ``load_table`` made through the engine's modules while a span of
    ``tracer`` is open (so not in untraced passes); returns the undo."""
    from simplex_mapreduce_spark.sources import tables

    original = tables.load_table

    @functools.wraps(original)
    def traced(*args, **kwargs):
        if not tracer.open:
            return original(*args, **kwargs)
        with tracer.span("sources.tables.load_table", "sources.tables"):
            return original(*args, **kwargs)

    patched = [
        mod for name, mod in list(sys.modules.items())
        if name.startswith(PACKAGE) and getattr(mod, "load_table", None) is original
    ]
    for mod in patched:
        mod.load_table = traced

    def undo():
        for mod in patched:
            mod.load_table = original

    return undo


def after_traced(w, spark, session) -> dict:
    """Counts taken after the traced passes, outside them."""
    if not hasattr(w, "prefix_candidates"):
        return {}
    pairs = {tuple(p) for p in session.last["jaccard_pairs"][["doc_a", "doc_b"]].values}
    lsh = [tuple(p) for p in session.last["minhash_pairs"][["doc_a", "doc_b"]].values]
    cands = w.prefix_candidates(spark)
    return {
        "operators.dedup.ppjoin_yield": len(pairs) / max(cands, 1),
        "operators.dedup.lsh_yield": sum(p in pairs for p in lsh) / max(len(lsh), 1),
    }


def _top(fold, spans):
    """Those of ``spans`` that have no ancestor among ``spans``."""
    ids = {s.id for s in spans}
    out = []
    for s in spans:
        p = s.parent
        while p is not None and p not in ids:
            p = fold.spans[p].parent
        if p is None:
            out.append(s)
    return out


def per_layer(spans, log_path, cpus, rss_kb, extra) -> dict:
    """Every per-layer metric but ``trace.overhead_frac`` for one traced
    run: its spans, its event log, the process CPU split of each traced
    pass and the peak resident sets of its processes."""
    log = read_event_log(log_path)
    its = [s for s in spans if s.run == "it"]
    roots = [s for s in its if s.parent is None]
    fold = Fold(spans, log)
    n = max(len(roots), 1)
    v = dict.fromkeys(names(), 0.0)

    def stages_of(ss):
        out = {}
        for s in ss:
            for st in fold.stages(s.id):
                out[st.stage_id] = st
        return list(out.values())

    every = stages_of(roots)
    tot = stage_totals(every)
    setup = [s for s in spans if s.run == "setup"]
    v["session.get_spark_s"] = sum(s.wall for s in setup if s.name == "session.get_spark")
    v["registry.load_all_s"] = sum(s.wall for s in setup if s.name == "registry.load_all")
    for kind in ("driver", "jvm", "python_workers"):
        v[f"{kind}.cpu_s"] = statistics.mean(c[kind] for c in cpus) if cpus else 0.0
    v["jvm.rss_mb"] = rss_kb["jvm"] / 1024
    v["python_workers.rss_mb"] = rss_kb["python_workers"] / 1024
    v["driver.gap_s"] = sum(fold.job_gap(r.id) for r in roots) / n
    v["spark.executor_cpu_s"] = tot["cpu_s"] / n
    v["spark.executor_run_s"] = tot["run_s"] / n
    v["spark.run_minus_cpu_s"] = (tot["run_s"] - tot["cpu_s"]) / n
    v["spark.gc_s"] = tot["gc_s"] / n
    v["spark.shuffle_read_bytes"] = tot["shuffle_read"] / n
    v["spark.shuffle_fetch_wait_s"] = tot["fetch_wait_s"] / n
    v["spark.spill_bytes"] = tot["spill"] / n
    v["spark.peak_exec_mem_bytes"] = tot["peak_exec_mem"]
    v["spark.jobs"] = sum(len(fold.jobs(r.id)) for r in roots) / n
    v["spark.stages"] = len(every) / n
    v["spark.tasks"] = tot["tasks"] / n
    v["spark.task_failures"] = tot["task_failures"] / n
    v["spark.task_skew"] = statistics.median(
        task_skew(fold.stages(r.id)) for r in roots
    ) if roots else 1.0

    loads = [s for s in its if s.name == "sources.tables.load_table"]
    v["sources.tables.load_table_s"] = sum(s.wall for s in _top(fold, loads)) / n
    scans = [st for st in every if st.input_bytes > 0]
    v["sources.scan_bytes"] = sum(st.input_bytes for st in scans) / n
    v["sources.scan_rows"] = sum(st.input_records for st in scans) / n
    v["sources.scan_run_s"] = sum(sum(st.run_ms) for st in scans) / 1000 / n

    builds = [s for s in its if s.name == BUILD_SPAN]
    v["sources.bucketing.build_s"] = sum(s.wall for s in builds) / n
    v["sources.bucketing.build_bytes_written"] = stage_totals(stages_of(builds))["output_bytes"] / n
    v["sources.bucketing.maintain_s"] = sum(s.wall for s in its if s.name == MAINTAIN_SPAN) / n
    stored = [s for s in its if s.name in STORED_QUERY_SPANS]
    v["sources.bucketing.stored_scan_bytes"] = stage_totals(stages_of(stored))["input_bytes"] / n

    for m in OPERATOR_MODULES:
        layer = f"operators.{m}"
        mine = [s for s in its if s.layer == layer]
        top = _top(fold, mine)
        t = stage_totals(stages_of(top))
        v[f"{layer}.wall_s"] = sum(s.wall for s in top) / n
        v[f"{layer}.self_s"] = sum(fold.self_time(s.id) for s in mine) / n
        v[f"{layer}.cpu_s"] = t["cpu_s"] / n
        v[f"{layer}.shuffle_bytes"] = t["shuffle_write"] / n
    for q in RELATIONAL_QUERIES:
        v[f"query.{q}.wall_s"] = sum(s.wall for s in its if s.name == f"query.{q}") / n

    runs = [s for s in its if s.name == "mapreduce.run"]
    if runs:
        v["mapreduce.wall_s"] = sum(s.wall for s in runs) / n
        v["mapreduce.self_s"] = sum(fold.self_time(s.id) for s in runs) / n
        for s in runs:
            for role, stages in mapreduce_roles(fold, s.id).items():
                v[f"mapreduce.{role}_run_s"] += sum(sum(st.run_ms) for st in stages) / 1000 / n
                if role == "map":
                    v["mapreduce.shuffle_records_per_word"] += sum(
                        st.shuffle_records_written for st in stages
                    ) / MapReduceWordcount.N_WORDS / n

    v.update(extra)
    del v["trace.overhead_frac"]  # set by the caller from both halves
    return {k: (val, unit_of(k)) for k, val in v.items()}


def mapreduce_roles(fold, span_id: str) -> dict:
    """Stages of one ``MapReduceJob.run`` by phase: ``map`` reads the
    input file, ``sort`` is the final stage of the last job (it reads the
    range-partitioned sort shuffle), and ``reduce`` is every other stage
    (the grouped reduce closure, run once per job that needs it)."""
    jobs = fold.jobs(span_id)
    last_job = max(jobs, key=lambda j: j.job_id) if jobs else None
    final = max(last_job.stage_ids) if last_job and last_job.stage_ids else None
    roles = {"map": [], "reduce": [], "sort": []}
    for st in fold.stages(span_id):
        if st.input_bytes > 0:
            roles["map"].append(st)
        elif st.stage_id == final:
            roles["sort"].append(st)
        else:
            roles["reduce"].append(st)
    return roles
