"""The two workloads: what a job is, how its output is checked, and which
package names the traced run wraps.

A job is one ``run_pipeline`` call (crawl_kg) or one catalog → report flow
in the order ``tools/validate_catalog.py`` calls the public functions
(catalog_shacl).  Both use the package defaults; the benchmark chooses only
crawl_kg's ``n_groups=1`` and catalog_shacl's rule set, the dcat_ap_es suite
plus the DIR3 rule (see NOTES.md for why).
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from generators import RELATION_PREDICATES, make_catalog, make_crawl

CRAWL_PAGES = 8_000
CATALOG_PROFILE = "dcat_ap_es"


@dataclass
class JobOutput:
    validated: int  # triples validated by the job
    data: object  # workload-specific result


def crawl_problems(res, relations: set, expect) -> list[str]:
    """Differences between one run_pipeline result plus the relation
    triples of its merged table and the crawl oracle."""
    bad = []
    for key in ("triples_in", "triples_valid", "violations", "merged"):
        got, want = getattr(res, key), getattr(expect, key)
        if got != want:
            bad.append(f"{key}: got {got}, expected {want}")
    if relations != expect.relations:
        bad.append(
            f"relation triples: {len(relations - expect.relations)} unexpected, "
            f"{len(expect.relations - relations)} missing of {len(expect.relations)}"
        )
    return bad


def catalog_problems(
    counts: dict, conforms: bool, summary_total: int, round_trip: tuple, triples: int, expect
) -> list[str]:
    """Differences between one catalog → report flow and the catalog oracle:
    per-(component, severity) counts, the conforms flag, the severity
    summary total, the report Turtle round-trip (conforms, result count)
    and the parsed triple count."""
    bad = []
    if counts != expect.counts:
        diff = sorted(set(counts.items()) ^ set(expect.counts.items()))
        bad.append(f"(component, severity) counts differ: {diff}")
    if conforms != expect.conforms:
        bad.append(f"conforms: got {conforms}, expected {expect.conforms}")
    n_results = sum(counts.values())
    if summary_total != n_results:
        bad.append(f"severity_summary adds up to {summary_total}, not {n_results}")
    if round_trip != (conforms, n_results):
        bad.append(f"report Turtle round-trips to {round_trip}, not {(conforms, n_results)}")
    if triples != expect.triples:
        bad.append(f"parsed triples: got {triples}, expected {expect.triples}")
    return bad


class CrawlKG:
    """html-only crawl pages through the whole KG job."""

    name = "crawl_kg"

    def setup(self, spark, root: str, seed: int):
        path, expect = make_crawl(root, CRAWL_PAGES, seed)
        pages = spark.read.parquet(path)
        pages.count()
        return pages, expect

    def instrument(self, tracer) -> None:
        from shacl_validator_spark.plans import pipeline

        for attr, layer, sticky in [
            ("profile_shapes_ttl", "compile", False),
            ("compile_shapes", "compile", False),
            ("extract_raw_triples", "extract", True),
            ("extract_raw_triples_from_html", "extract", True),
            ("mentions_from_raw", "link", True),
            ("link_mentions", "link", True),
            ("canonicalize", "link", True),
            ("typed_triples", "typed", True),
            ("entity_triples", "typed", True),
            ("validate", "validate", True),
            ("merge_triples", "merge", True),
        ]:
            tracer.wrap(pipeline, attr, layer, sticky)

    def job(self, spark, inputs, out_dir: str, tracer) -> JobOutput:
        from shacl_validator_spark.plans.pipeline import run_pipeline

        pages = inputs[0]
        with tracer.span("plans.pipeline.run_pipeline", "pipeline"):
            res = run_pipeline(spark, pages, out_dir, n_groups=1, resume=False)
        return JobOutput(res.triples_valid, res)

    def check(self, spark, inputs, out: JobOutput, out_dir: str) -> list[str]:
        rows = (
            spark.read.parquet(os.path.join(out_dir, "triples"))
            .filter(F.col("predicate").isin(*RELATION_PREDICATES))
            .select("subject", "predicate", "object_value")
            .distinct()
            .collect()
        )
        return crawl_problems(out.data, {tuple(r) for r in rows}, inputs[1])

    @staticmethod
    def release(out: JobOutput) -> None:
        """Nothing to free: the pipeline's outputs live in the job's directory."""

    def layer_values(self, spark, inputs, out: JobOutput, tracer, job: str) -> dict:
        res = out.data
        st = res.stage_seconds
        surface_map = tracer.calls["typed_triples"][0][1]
        surfaces = surface_map.select("surface").distinct().count()
        dict_hits = (
            surface_map.filter(~F.col("canonical_id").startswith("surface:"))
            .select("surface").distinct().count()
        )
        bad_focus = (
            res.violations_df.filter(F.col("resultSeverity") == "Violation")
            .select("focusNode").distinct().count()
        )
        entities = res.entities.count()
        return {
            "extract.s": st.get("extract", 0.0),
            "link.s": st.get("link_canon", 0.0),
            "link.surfaces": surfaces,
            "link.dict_hit_ratio": dict_hits / surfaces if surfaces else 0.0,
            "typed.s": st.get("typed_triples", 0.0),
            "compile.s": tracer.layer_seconds(job, "compile"),
            "compile.constraint_rows": len(tracer.calls["compile_shapes"][2]),
            "validate.s": st.get("validate", 0.0),
            "validate.plan_s": tracer.span_seconds(job, "shacl_validator_spark.plans.pipeline.validate"),
            "validate.violations": res.violations,
            "validate.violating_focus_ratio": bad_focus / entities if entities else 0.0,
            "merge.s": st.get("merge", 0.0),
            "merge.inserted": res.merged,
            "merge.accept_ratio": res.merged / res.triples_valid if res.triples_valid else 0.0,
        }


class CatalogShacl:
    """A DCAT-AP-ES catalog through parse → validate → summary → report,
    checked against the full vendored dcat_ap_es suite plus the DIR3 rule."""

    name = "catalog_shacl"

    def setup(self, spark, root: str, seed: int):
        return make_catalog(spark, root, seed)

    def instrument(self, tracer) -> None:
        # operators/__init__ re-exports the function under the module's name;
        # validate_report looks validate() up in the module at call time
        validate_mod = importlib.import_module("shacl_validator_spark.operators.validate")
        tracer.wrap(validate_mod, "validate", "validate", sticky=True)

    def job(self, spark, inputs, out_dir: str, tracer) -> JobOutput:
        from shacl_validator_spark.operators import analytics as ana
        from shacl_validator_spark.operators.validate import validate_report
        from shacl_validator_spark.shapes.custom_rules import dir3_organism_rule
        from shacl_validator_spark.shapes.profiles import compiled_profile
        from shacl_validator_spark.sources.report_io import flatten_for_csv, report_to_turtle
        from shacl_validator_spark.sources.turtle import read_turtle

        path, expect = inputs
        os.makedirs(out_dir, exist_ok=True)
        with tracer.span("sources.turtle.read_turtle", "parse"):
            triples = read_turtle(spark, path)
        with tracer.span("shapes.profiles.compiled_profile", "compile"):
            rows = compiled_profile(CATALOG_PROFILE)
            rules = [dir3_organism_rule()]
        with tracer.span("operators.validate.validate_report", "validate"):
            rep = validate_report(spark, triples, rows, custom_rules=rules)
        # the report feeds four actions (summary, groups, Turtle, CSV)
        rep.results.persist()
        with tracer.span("operators.analytics", "analytics"):
            summary = ana.severity_summary(rep.results).collect()
            top = ana.grouped_findings(rep.results, limit=8).collect()
        with tracer.span("sources.report_io", "report_io"):
            ttl = report_to_turtle(rep.results, rep.conforms, profile=CATALOG_PROFILE)
            ttl_path = os.path.join(out_dir, "report.ttl")
            with open(ttl_path, "w", encoding="utf-8") as f:
                f.write(ttl)
            csv_path = os.path.join(out_dir, "report.csv")
            flatten_for_csv(rep.results).toPandas().to_csv(csv_path, index=False)
        data = {
            "triples": triples, "report": rep, "rows": rows, "summary": summary, "top": top,
            "ttl": ttl, "bytes": os.path.getsize(ttl_path) + os.path.getsize(csv_path),
        }
        return JobOutput(expect.triples, data)

    def check(self, spark, inputs, out: JobOutput, out_dir: str) -> list[str]:
        from shacl_validator_spark.sources.report_io import parse_report_turtle

        d = out.data
        rep = d["report"]
        counts = {
            (r["sourceConstraintComponent"], r["resultSeverity"]): r["n"]
            for r in rep.results.groupBy("sourceConstraintComponent", "resultSeverity")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        conforms, parsed = parse_report_turtle(spark, d["ttl"])
        return catalog_problems(
            counts,
            rep.conforms,
            sum(r["n"] for r in d["summary"]),
            (conforms, parsed.count()),
            d["triples"].count(),
            inputs[1],
        )

    def layer_values(self, spark, inputs, out: JobOutput, tracer, job: str) -> dict:
        d = out.data
        results = d["report"].results
        bad_focus = (
            results.filter(F.col("resultSeverity") == "Violation")
            .select("focusNode").distinct().count()
        )
        subjects = d["triples"].select("subject").distinct().count()
        return {
            "compile.s": tracer.layer_seconds(job, "compile"),
            "compile.constraint_rows": len(d["rows"]),
            "validate.s": tracer.span_seconds(job, "operators.validate.validate_report"),
            "validate.plan_s": tracer.span_seconds(job, "shacl_validator_spark.operators.validate.validate"),
            "validate.violations": results.count(),
            "validate.violating_focus_ratio": bad_focus / subjects if subjects else 0.0,
            "parse.s": tracer.layer_seconds(job, "parse"),
            "parse.triples": d["triples"].count(),
            "analytics.s": tracer.layer_seconds(job, "analytics"),
            "report_io.s": tracer.layer_seconds(job, "report_io"),
            "report_io.bytes": d["bytes"],
        }

    @staticmethod
    def release(out: JobOutput) -> None:
        """Drop the persisted report of a checked job."""
        out.data["report"].results.unpersist()


WORKLOADS = {w.name: w for w in (CrawlKG(), CatalogShacl())}
