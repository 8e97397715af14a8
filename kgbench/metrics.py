"""The benchmark's metric catalog: what each metric means, which layer it
belongs to, and which end-to-end metric it should move on which workload.

``BENCHMARK.json`` lists the same names, units and directions (its format
admits no other keys); ``test_kgbench.py`` keeps the two in step.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    layer: str
    moves: str  # end-to-end metric and workload this metric should move
    bound: float | None = None  # end-to-end only: allowed regression share


# Job times are CPU seconds of the process tree (driver Python, JVM, Python
# workers; user + system, reaped children included).  On the shared 4-core
# host the benchmark was sized on, a job's wall time doubled under neighbour
# load while its CPU time rose a quarter (NOTES.md); the wall-clock job
# times are per-layer metrics and in every run's metadata line.  Set-up is
# wall time, what a user waits for before the first job can start.
END_TO_END = [
    Metric("setup_s", "s", "lower", "whole run",
           "wall seconds from process start to first job ready: interpreter, imports, "
           "JVM and session start, input generation and materialization", 0.25),
    Metric("cold_job_cpu_s", "s", "lower", "whole job",
           "CPU seconds of the first job in a fresh process, what a CLI invocation pays", 0.25),
    Metric("job_cpu_s", "s", "lower", "whole job", "median CPU seconds of the warm jobs", 0.25),
    Metric("validated_triples_per_cpu_s", "triples/cpu_s", "higher", "whole job",
           "crawl_kg: PipelineResult.triples_valid / job_cpu_s; catalog_shacl: "
           "catalog triples validated / job_cpu_s", 0.25),
    Metric("ok_share", "ratio", "higher", "whole job",
           "jobs that returned and passed every output check / jobs attempted", 0.01),
]

_KG, _CAT, _BOTH = "crawl_kg", "catalog_shacl", "crawl_kg, catalog_shacl"

PER_LAYER = [
    # whole job, wall clock (the traced run traces every job; trace.overhead is its cost)
    Metric("job_s", "s", "lower", "whole job", "median wall seconds of the warm jobs"),
    Metric("cold_job_s", "s", "lower", "whole job", "wall seconds of the first job in the process"),
    Metric("validated_triples_per_s", "triples/s", "higher", "whole job",
           "validated triples / job_s, the ROADMAP number"),
    # sources.extract
    Metric("extract.s", "s", "lower", "sources.extract", f"job_cpu_s, validated_triples_per_cpu_s on {_KG}"),
    Metric("extract.raw_triples", "count", "higher", "sources.extract", f"fixed by the input on {_KG}"),
    Metric("extract.executor_cpu_s", "s", "lower", "sources.extract", f"job_cpu_s on {_KG}"),
    # operators.linking, operators.components, plans.pipeline.canonicalize
    Metric("link.s", "s", "lower", "operators.linking", f"job_cpu_s on {_KG}"),
    Metric("link.surfaces", "count", "higher", "operators.linking", f"fixed by the input on {_KG}"),
    Metric("link.dict_hit_ratio", "ratio", "higher", "operators.linking",
           f"surfaces resolved by the alias dictionary / surfaces, fixed on {_KG}"),
    Metric("link.spark_jobs", "count", "lower", "operators.linking", f"job_cpu_s on {_KG}"),
    Metric("link.executor_cpu_s", "s", "lower", "operators.linking", f"job_cpu_s on {_KG}"),
    # plans.pipeline.typed_triples / entity_triples
    Metric("typed.s", "s", "lower", "plans.pipeline.typed_triples", f"job_cpu_s on {_KG}"),
    Metric("typed.rows", "count", "higher", "plans.pipeline.typed_triples", f"fixed by the input on {_KG}"),
    Metric("typed.shuffle_bytes", "bytes", "lower", "plans.pipeline.typed_triples", f"job_cpu_s on {_KG}"),
    # shapes.compiler / shapes.profiles
    Metric("compile.s", "s", "lower", "shapes.compiler", f"job_cpu_s on {_KG} (catalog_shacl caches per process)"),
    Metric("compile.cold_s", "s", "lower", "shapes.compiler", f"cold_job_cpu_s on {_CAT}"),
    Metric("compile.constraint_rows", "count", "higher", "shapes.compiler", f"fixed by the profile on {_BOTH}"),
    # operators.validate
    Metric("validate.s", "s", "lower", "operators.validate", f"job_cpu_s on {_BOTH}"),
    Metric("validate.plan_s", "s", "lower", "operators.validate",
           f"job_cpu_s, cold_job_cpu_s on {_CAT}: driver time inside validate() before the caller's action"),
    Metric("validate.spark_jobs", "count", "lower", "operators.validate", f"job_cpu_s, cold_job_cpu_s on {_CAT}"),
    Metric("validate.spark_stages", "count", "lower", "operators.validate", f"job_cpu_s, cold_job_cpu_s on {_CAT}"),
    Metric("validate.tasks", "count", "lower", "operators.validate", f"job_cpu_s on {_BOTH}"),
    Metric("validate.executor_cpu_s", "s", "lower", "operators.validate",
           f"validated_triples_per_cpu_s on {_KG}"),
    Metric("validate.violations", "count", "higher", "operators.validate", f"fixed by the input on {_BOTH}"),
    Metric("validate.violating_focus_ratio", "ratio", "lower", "operators.validate",
           f"fixed by the input on {_BOTH}"),
    # plans.merge
    Metric("merge.s", "s", "lower", "plans.merge", f"job_cpu_s on {_KG}"),
    Metric("merge.inserted", "count", "higher", "plans.merge", f"fixed by the input on {_KG}"),
    Metric("merge.accept_ratio", "ratio", "higher", "plans.merge", f"inserted / triples_valid on {_KG}"),
    Metric("merge.executor_cpu_s", "s", "lower", "plans.merge", f"job_cpu_s on {_KG}"),
    # sources.turtle, operators.analytics, sources.report_io
    Metric("parse.s", "s", "lower", "sources.turtle", f"job_cpu_s on {_CAT}"),
    Metric("parse.triples", "count", "higher", "sources.turtle", f"fixed by the input on {_CAT}"),
    Metric("analytics.s", "s", "lower", "operators.analytics", f"job_cpu_s on {_CAT}"),
    Metric("report_io.s", "s", "lower", "sources.report_io", f"job_cpu_s on {_CAT}"),
    Metric("report_io.bytes", "bytes", "higher", "sources.report_io", f"fixed by the input on {_CAT}"),
    # whole job, from the event log
    Metric("spark.jobs", "count", "lower", "whole job", f"job_cpu_s on {_BOTH}"),
    Metric("spark.stages", "count", "lower", "whole job", f"job_cpu_s on {_BOTH}"),
    Metric("spark.shuffle_bytes", "bytes", "lower", "whole job", f"job_cpu_s on {_BOTH}"),
    Metric("spark.executor_cpu_s", "s", "lower", "whole job", f"job_cpu_s on {_BOTH}"),
    Metric("spark.gc_s", "s", "lower", "whole job", f"job_cpu_s on {_BOTH}"),
    Metric("peak_rss_mb", "MB", "lower", "whole process tree",
           "peak of the summed PSS of driver Python, JVM and Python workers during the warm "
           "jobs; reported here, unbounded, since JVM heap growth spreads it by 20 % run to run"),
    Metric("trace.overhead", "ratio", "lower", "benchmark",
           "seconds spent in the tracer's span bookkeeping and setJobGroup calls / "
           "wall seconds of the traced job"),
]
