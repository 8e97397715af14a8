"""Seeded inputs and their oracles for the two benchmark workloads.

Everything is built from the package's public pieces: the page template and
vocabulary (``sources.pages``), the DCAT-AP-ES catalog derivation
(``sources.synthetic``) and the Turtle renderer (``sources.turtle``); the
catalog is derived and written by Spark jobs of the package.  The
seed is the only source of variation: it shifts page ids, re-draws every
head-vocabulary sentence, renames the unseen long-tail entities, and picks
the nation keys of the catalog sample.

Crawl pages are drawn in Python and written with pyarrow rather than with
the ``sources.pages`` column expressions: 96 hash-picked filler sentences
exceed the JVM's 64 KB generated-method limit, and the interpreted fallback
took 11 s per set-up on a cold JVM (4 cores).

Each generator returns the oracle for its own inputs: the crawl oracle is
derived from the facts the generator planted, the catalog oracle enumerates
the engineered gaps of ``nation_dcat_es_triples`` per key (the same gap map
as the repo's ``shacl_dcat_ap_es_report`` oracle SQL).
"""

from __future__ import annotations

import datetime
import os
import random
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from shacl_validator_spark.sources.pages import (
    DATASET_TITLES,
    FILLER_SENTENCES,
    HTML_PREFIX,
    HTML_SUFFIX,
    KG,
    LANGS,
    N_SITES,
    ORGS,
    PLACES,
    alias_rows,
)

# --- crawl pages -------------------------------------------------------------

PID_STRIDE = 10_000_000  # page ids per seed block
# seeds map onto PID_BLOCKS blocks of page ids, so any int seed (negative or
# far beyond 2**31) keeps page ids and warc timestamps in range: the largest
# timestamp is 2024 + 10**11 s, in the year ~5200
PID_BLOCKS = 10_000
FILLER_PER_PAGE = 96  # ~6 KB of html per page, the Common-Crawl shape
PAGE_FILES = 4  # one parquet file per core, so extraction runs 4 tasks
# page kind by local index i % 10: 0-2 head-vocabulary relation sentences
# (30 %), 5 and 8 one long-tail sentence (20 %), the rest filler only
HEAD_KINDS = (0, 1, 2)
TAIL_KINDS = (5, 8)
# long-tail page j names place j % n_places; with n_places = tail pages / 8
# every place is named on 8 pages.  Even places are spelled in four case
# variants (their surface:<lower> id collects 4 kg:name values and fails
# kg:PlaceShape sh:maxCount 3), odd places in two (conformant).
TAIL_PAGES_PER_PLACE = 8

# made-up syllables: no long-tail name comes within the linker's Jaccard
# threshold of an alias of the head vocabulary (checked in the tests), so
# every long-tail surface keeps its surface:<lower> id
ORG_SYLLABLES = ["Zorv", "Quil", "Thax", "Bremm", "Vyk", "Okku", "Drell", "Jusk"]
ORG_SUFFIXES = ["Works", "Holdings", "Labs", "Guild", "Cooperative", "Bureau"]
PLACE_SYLLABLES = ["Thax", "Qorm", "Vell", "Brukh", "Zemm", "Ulv", "Kyth", "Oxx"]
PLACE_ENDINGS = ["moor", "dun", "wick", "fjell", "stead", "holm"]

LOCATED_IN = KG + "locatedIn"
PUBLISHES = KG + "publishes"
FOUNDED = KG + "founded"
RELATION_PREDICATES = (LOCATED_IN, PUBLISHES, FOUNDED)


@dataclass
class CrawlExpect:
    """What one single-group run_pipeline call over the crawl pages must report."""

    triples_in: int
    triples_valid: int
    violations: int
    merged: int
    relations: frozenset  # (subject, predicate, object_value) over RELATION_PREDICATES
    surfaces: int  # distinct extracted surface forms
    dict_surfaces: int  # of which resolve to a head-vocabulary id


def place_variants(base: str) -> list[str]:
    """Four spellings of one place name that share a lower-case form."""
    return [base, base.upper(), base[:2].upper() + base[2:], base[:3] + base[3].upper() + base[4:]]


def crawl_mentions(n: int, seed: int) -> list[tuple[int, str, str, str, str]]:
    """(i, org, place, dataset title | "", year | "") per relation page.

    Head pages (i % 10 in HEAD_KINDS) name the head vocabulary of
    ``sources.pages`` with hash-free seeded picks; long-tail pages name one
    unseen organisation and one unseen place."""
    rng = random.Random(f"crawl-head-{seed}")
    n_tail = sum(1 for i in range(n) if i % 10 in TAIL_KINDS)
    n_places = max(2, n_tail // TAIL_PAGES_PER_PLACE)
    names = random.Random(f"crawl-tail-{seed}")
    place_base = [
        f"{names.choice(PLACE_SYLLABLES)}{names.choice(PLACE_ENDINGS)} {p}" for p in range(n_places)
    ]
    out = []
    j = 0
    for i in range(n):
        kind = i % 10
        if kind in HEAD_KINDS:
            org = rng.choice(rng.choice(ORGS)[1])
            place = rng.choice(rng.choice(PLACES)[1])
            out.append((i, org, place, rng.choice(DATASET_TITLES), str(rng.randrange(1950, 2010))))
        elif kind in TAIL_KINDS:
            org = (
                f"{names.choice(ORG_SYLLABLES)}{names.choice(ORG_SYLLABLES).lower()} "
                f"{names.choice(ORG_SUFFIXES)} {j}"
            )
            p = j % n_places
            variant = (j // n_places) % (4 if p % 2 == 0 else 2)
            out.append((i, org, place_variants(place_base[p])[variant], "", ""))
            j += 1
    return out


def _mention_text(org: str, place: str, ds: str, year: str) -> str:
    if ds:  # the sources.pages mention template
        return (
            f"{org} is located in {place}. {org} publishes {ds}. "
            f"{org} was founded in {year}."
        )
    return f"{org} is located in {place}."


def write_crawl_pages(path: str, n: int, seed: int) -> list[tuple[int, str, str, str, str]]:
    """Write html-only pages (url, warc_ts, html, lang), the production input
    shape, as PAGE_FILES parquet files; returns the planted mentions."""
    mentions = crawl_mentions(n, seed)
    by_page = {m[0]: _mention_text(*m[1:]) for m in mentions}
    rng = random.Random(f"crawl-filler-{seed}")
    t0 = datetime.datetime(2024, 1, 1)
    head = FILLER_PER_PAGE // 3
    rows = {"url": [], "warc_ts": [], "html": [], "lang": []}
    block = seed % PID_BLOCKS
    for i in range(n):
        pid = block * PID_STRIDE + i
        # Zipf-ish site skew, as sources.pages: site 0 is the hub domain
        site = int(((pid % N_SITES) / N_SITES) ** 3 * N_SITES)
        filler = rng.choices(FILLER_SENTENCES, k=FILLER_PER_PAGE)
        text = " ".join(filler[:head] + [by_page.get(i, "")] + filler[head:])
        rows["url"].append(f"https://site{site}.example.org/page/{pid}")
        rows["warc_ts"].append(t0 + datetime.timedelta(seconds=pid))
        rows["html"].append((HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8"))
        rows["lang"].append(LANGS[pid % len(LANGS)])
    table = pa.table(
        rows,
        schema=pa.schema(
            [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
             ("html", pa.binary()), ("lang", pa.string())]
        ),
    )
    os.makedirs(path)
    step = -(-n // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
    return mentions


def crawl_expect(mentions: list[tuple[int, str, str, str, str]]) -> CrawlExpect:
    """Oracle for one single-group run_pipeline call over the planted mentions.

    Head surfaces resolve through the alias dictionary; long-tail surfaces
    keep ``surface:<lower>``.  Entity support triples are one rdf:type per
    entity plus one kg:name per distinct surface; every relation page adds
    its relation rows (head pages also the inverse kg:publishedBy edge).  A
    place whose id collects more than 3 names fails sh:maxCount 3 (one
    result), and every triple with that subject is dropped before MERGE.
    """
    adict = dict(alias_rows())
    names: dict[str, set[str]] = {}
    relations: set[tuple[str, str, str]] = set()
    page_rows = 0

    def entity(surface: str) -> str:
        cid = adict.get(surface.lower()) or "surface:" + surface.lower()
        names.setdefault(cid, set()).add(surface)
        return cid

    for _i, org, place, ds, year in mentions:
        o = entity(org)
        relations.add((o, LOCATED_IN, entity(place)))
        page_rows += 1
        if ds:
            relations.add((o, PUBLISHES, entity(ds)))
            relations.add((o, FOUNDED, year))
            page_rows += 3  # publishes, founded, and the inverse publishedBy
    triples_in = page_rows + sum(1 + len(s) for s in names.values())
    bad = [cid for cid, s in names.items() if len(s) > 3]
    valid = triples_in - sum(1 + len(names[cid]) for cid in bad)
    return CrawlExpect(
        triples_in=triples_in,
        triples_valid=valid,
        violations=len(bad),
        merged=valid,
        relations=frozenset(relations),
        surfaces=sum(len(s) for s in names.values()),
        dict_surfaces=sum(len(s) for cid, s in names.items() if not cid.startswith("surface:")),
    )


def make_crawl(root: str, n: int, seed: int) -> tuple[str, CrawlExpect]:
    """Write the pages table under ``root`` and return (path, oracle)."""
    path = os.path.join(root, "pages")
    return path, crawl_expect(write_crawl_pages(path, n, seed))


# --- DCAT-AP-ES catalog --------------------------------------------------------

CATALOG_DATASETS = 100  # nation keys per catalog sample
CATALOG_KEY_RANGE = 1000

SH = "http://www.w3.org/ns/shacl#"
DCT = "http://purl.org/dc/terms/"
DCAT = "http://www.w3.org/ns/dcat#"

# (component, severity, path, key predicate) — one result per matching key;
# the gap map of nation_dcat_es_triples as the repo's oracle SQL states it
CATALOG_GAPS = [
    ("MinCount", "Violation", DCT + "description", lambda k: k % 5 == 0),
    ("UniqueLang", "Violation", DCT + "title", lambda k: k % 6 == 0),
    ("In", "Warning", DCAT + "theme", lambda k: k % 3 == 0),
    ("SPARQL", "Violation", DCT + "publisher", lambda k: k % 4 == 0),
    ("Or", "Warning", DCT + "issued", lambda k: k % 7 == 0),
    ("MinCount", "Violation", DCAT + "accessURL", lambda k: k % 8 == 0),
    ("MinInclusive", "Warning", DCAT + "byteSize", lambda k: k % 9 == 0),
    ("Datatype", "Warning", DCAT + "byteSize", lambda k: k % 9 == 0),
    ("MinCount", "Violation", DCAT + "endpointURL", lambda k: k % 10 == 0),
    ("Class", "Violation", DCT + "publisher", lambda k: k % 11 == 0 and k % 4 != 0),
    ("Node", "Violation", DCT + "publisher", lambda k: k % 11 == 0 and k % 4 != 0),
]


@dataclass
class CatalogExpect:
    """What one catalog → report flow over the seed's catalog must report."""

    triples: int
    counts: dict  # (component IRI, severity) -> results
    results: int
    conforms: bool


def catalog_keys(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(CATALOG_KEY_RANGE), CATALOG_DATASETS))


def catalog_expect(keys: list[int], triples: int) -> CatalogExpect:
    counts: Counter = Counter()
    for comp, sev, _path, hit in CATALOG_GAPS:
        n = sum(1 for k in keys if hit(k))
        if n:
            counts[(f"{SH}{comp}ConstraintComponent", sev)] += n
    return CatalogExpect(
        triples=triples,
        counts=dict(counts),
        results=sum(counts.values()),
        conforms=not any(sev == "Violation" for _c, sev in counts),
    )


def make_catalog(spark, root: str, seed: int) -> tuple[str, CatalogExpect]:
    """Write the seed's DCAT-AP-ES catalog as one Turtle file under ``root``:
    a nation table of the seed's keys (pyarrow, 100 rows), derived with
    ``sources.synthetic.nation_dcat_es_triples`` and rendered with
    ``sources.turtle.turtle_lines``.  Returns (catalog directory, oracle)."""
    from shacl_validator_spark.sources.synthetic import nation_dcat_es_triples
    from shacl_validator_spark.sources.turtle import turtle_lines

    keys = catalog_keys(seed)
    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    nation = pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array([k % 5 for k in keys], pa.int32()),
    })
    pq.write_table(nation, os.path.join(sf_dir, "nation.parquet"))
    path = os.path.join(root, "catalog")
    turtle_lines(nation_dcat_es_triples(spark, sf_dir)).coalesce(1).write.text(path)
    return path, catalog_expect(keys, len(catalog_lines(path)))


def catalog_lines(path: str) -> list[str]:
    """The sorted statements of a catalog written by ``make_catalog``."""
    lines = []
    for fn in sorted(os.listdir(path)):
        if fn.startswith("part-"):
            with open(os.path.join(path, fn), encoding="utf-8") as f:
                lines += [line for line in f.read().splitlines() if line]
    return sorted(lines)
