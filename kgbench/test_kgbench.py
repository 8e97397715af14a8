"""Tests of the benchmark itself: seeded inputs, oracles and output checks.

    python -m pytest kgbench -q

The Spark tests use a local[2] session and take about two minutes.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import generators as gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from shacl_validator_spark.sources.pages import alias_rows  # noqa: E402
from workloads import CatalogShacl, CrawlKG, catalog_problems, crawl_problems  # noqa: E402


def _pages(tmp_path, name: str, seed: int, n: int = 400):
    path, expect = gen.make_crawl(str(tmp_path / name), n, seed)
    return pq.read_table(path), expect


def test_same_seed_same_inputs(tmp_path):
    (a, ea), (b, eb) = _pages(tmp_path, "a", 7), _pages(tmp_path, "b", 7)
    assert a.equals(b)
    assert ea == eb


def test_different_seeds_differ(tmp_path):
    (a, ea), (b, eb) = _pages(tmp_path, "a", 7), _pages(tmp_path, "b", 8)
    assert not a.equals(b)
    assert set(a.column("url").to_pylist()).isdisjoint(b.column("url").to_pylist())
    assert ea.relations != eb.relations
    tail_a = {m[1] for m in gen.crawl_mentions(400, 7) if not m[3]}
    tail_b = {m[1] for m in gen.crawl_mentions(400, 8) if not m[3]}
    assert tail_a != tail_b
    assert gen.catalog_keys(7) != gen.catalog_keys(8)


@pytest.mark.parametrize("seed", [0, -5, 30_000, 123_456_789, 2**63])
def test_any_int_seed_gives_valid_pages(tmp_path, seed):
    pages, expect = _pages(tmp_path, "p", seed, n=40)
    assert pages.num_rows == 40 and expect.violations >= 0
    assert len(gen.catalog_keys(seed)) == gen.CATALOG_DATASETS


def test_crawl_oracle_has_violations_and_long_tail():
    e = gen.crawl_expect(gen.crawl_mentions(8000, 3))
    assert e.violations > 0
    assert e.triples_valid < e.triples_in
    assert e.merged == e.triples_valid
    assert e.surfaces > 10 * e.dict_surfaces  # long-tail surfaces dominate


def _jaccard3(a: str, b: str) -> float:
    def sh(s):
        p = "^^" + s.lower() + "$$"
        return {p[i : i + 3] for i in range(len(p) - 2)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_long_tail_names_miss_the_alias_dictionary(seed):
    # the linker links a surface within Jaccard distance 0.6 of an alias
    aliases = [a for a, _ in alias_rows()]
    for _i, org, place, ds, _y in gen.crawl_mentions(2000, seed):
        if ds:
            continue
        for name in (org, place):
            assert max(_jaccard3(name, a) for a in aliases) <= 0.4, name


def test_planted_wrong_counts_are_caught():
    e = gen.crawl_expect(gen.crawl_mentions(400, 5))

    class Res:
        triples_in, triples_valid = e.triples_in, e.triples_valid
        violations, merged = e.violations, e.merged

    assert crawl_problems(Res, set(e.relations), e) == []
    for key in ("triples_in", "triples_valid", "violations", "merged"):
        wrong = type("Wrong", (Res,), {key: getattr(Res, key) + 1})
        assert any(p.startswith(key) for p in crawl_problems(wrong, set(e.relations), e))
    assert crawl_problems(Res, set(e.relations) - {next(iter(e.relations))}, e)

    x = gen.catalog_expect(gen.catalog_keys(5), 1000)
    n = x.results
    good = (dict(x.counts), x.conforms, n, (x.conforms, n), 1000, x)
    assert catalog_problems(*good) == []
    key = next(iter(x.counts))
    wrong_counts = {**x.counts, key: x.counts[key] + 1}
    assert catalog_problems(wrong_counts, *good[1:])
    assert catalog_problems(*good[:3], (x.conforms, n - 1), *good[4:])
    assert catalog_problems(*good[:4], 999, x)


def test_benchmark_json_matches_metric_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [{"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound} for m in END_TO_END]
    layer = [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER]
    assert bench["end_to_end"] == e2e
    assert bench["per_layer"] == layer
    assert [w["name"] for w in bench["workloads"]] == ["crawl_kg", "catalog_shacl"]


# -- with Spark ------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    from shacl_validator_spark.session import get_spark

    s = get_spark(app_name="kgbench-test", master="local[2]")
    yield s
    s.stop()


def test_catalog_same_seed_same_inputs_and_seeds_differ(spark, tmp_path):
    (a, xa), (b, xb), (c, xc) = (gen.make_catalog(spark, str(tmp_path / n), seed)
                                 for n, seed in (("a", 7), ("b", 7), ("c", 8)))
    assert gen.catalog_lines(a) == gen.catalog_lines(b)
    assert xa == xb
    assert gen.catalog_lines(a) != gen.catalog_lines(c)
    assert xa.counts != xc.counts


def test_crawl_job_passes_its_checks_and_a_wrong_oracle_fails(spark, tmp_path):
    from spans import Tracer

    wl = CrawlKG()
    path, expect = gen.make_crawl(str(tmp_path / "in"), 600, 4)
    inputs = (spark.read.parquet(path), expect)
    out_dir = str(tmp_path / "out")
    out = wl.job(spark, inputs, out_dir, Tracer(lambda: spark.sparkContext))
    assert wl.check(spark, inputs, out, out_dir) == []
    wrong = (inputs[0], replace(expect, violations=expect.violations + 1))
    assert wl.check(spark, wrong, out, out_dir) == [
        f"violations: got {expect.violations}, expected {expect.violations + 1}"
    ]


def test_catalog_job_passes_its_checks_and_a_wrong_oracle_fails(spark, tmp_path):
    from spans import Tracer

    wl = CatalogShacl()
    inputs = wl.setup(spark, str(tmp_path / "in"), 4)
    out_dir = str(tmp_path / "out")
    out = wl.job(spark, inputs, out_dir, Tracer(lambda: spark.sparkContext))
    assert wl.check(spark, inputs, out, out_dir) == []
    expect = inputs[1]
    wrong = (inputs[0], replace(expect, triples=expect.triples + 1))
    assert wl.check(spark, wrong, out, out_dir) == [
        f"parsed triples: got {expect.triples}, expected {expect.triples + 1}"
    ]
