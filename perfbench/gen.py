"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, a different seed writes different content of the same shape
and size, so runs on different seeds cost the same work.
"""

from __future__ import annotations

import json
import os

import numpy as np

# ---------------------------------------------------------------- kg_build

KG_PAGES = 1000
KG_WINDOWS = 64


def kg_window(seed: int, n_pages: int = KG_PAGES) -> tuple[int, int]:
    """The seed picks which id window of `synth_pages` the run uses."""
    start = (seed % KG_WINDOWS) * n_pages
    return start, start + n_pages


def kg_pages(spark, seed: int, n_pages: int = KG_PAGES):
    """Pages with ids in the seed's window, 16-39 words each (the bench.py
    kg size). `synth_pages` derives every column from the row id, so the
    window is a filter on the id carried in the url."""
    from pyspark.sql import functions as F

    from rossete_rdf_spark.pipeline.webpages import synth_pages

    lo, hi = kg_window(seed, n_pages)
    pid = F.substring_index(F.col("url"), "/", -1).cast("long")
    return (
        synth_pages(spark, hi, partitions=4, min_words=16, word_spread=24)
        .where((pid >= lo) & (pid < hi))
    )


# ----------------------------------------------------------------- rml_cli

CLI_ROWS = 25_000
CLI_CITIES = 2_500
XSD = "http://www.w3.org/2001/XMLSchema#"
EX = "http://ex.org/"

MAPPING = """@prefix rr: <http://www.w3.org/ns/r2rml#>.
@prefix rml: <http://semweb.mmlab.be/ns/rml#>.
@prefix ql: <http://semweb.mmlab.be/ns/ql#>.
@prefix ex: <http://ex.org/>.
@prefix xsd: <http://www.w3.org/2001/XMLSchema#>.

<#StopMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "stops.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/stop/{id}"; rr:class ex:Stop ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:lat;
    rr:objectMap [ rml:reference "lat"; rr:datatype xsd:decimal ] ];
  rr:predicateObjectMap [ rr:predicate ex:zone;
    rr:objectMap [ rr:template "http://ex.org/zone/{zone}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inCity;
    rr:objectMap [ rr:parentTriplesMap <#CityMap>;
      rr:joinCondition [ rr:child "city"; rr:parent "name" ]; ]; ];
  rr:predicateObjectMap [ rr:predicate ex:alias;
    rr:objectMap [ rr:parentTriplesMap <#AliasMap>;
      rr:joinCondition [ rr:child "id"; rr:parent "id" ]; ]; ].

<#AliasMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "stops.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/alias/{code}" ].

<#CityMap> a rr:TriplesMap;
  rml:logicalSource [ rml:source "cities.json";
    rml:referenceFormulation ql:JSONPath; rml:iterator "$.items[*]" ];
  rr:subjectMap [ rr:template "http://ex.org/city/{cid}"; rr:class ex:City ];
  rr:predicateObjectMap [ rr:predicate ex:pop;
    rr:objectMap [ rml:reference "pop"; rr:datatype xsd:integer ] ];
  rr:predicateObjectMap [ rr:predicate ex:country; rr:objectMap [ rml:reference "country" ] ].
"""

STOP_COLS = ("id", "name", "lat", "zone", "city", "code", "seq")


def cli_tables(seed: int, n_rows: int = CLI_ROWS, n_cities: int = CLI_CITIES):
    """(stop rows, city records) for the CLI workload.

    Stops: ~5% of rows repeat an earlier row in every mapped column and
    differ only in the unmapped `seq`, so first-occurrence dedup has work;
    some ids, zones and codes carry spaces (IRI space-discard) and some
    zones are empty (term dropped). Cities: some names repeat under a new
    `cid`, so the join's first-match rule decides the object IRI; some
    cids carry spaces, so a first match can be discarded."""
    rng = np.random.default_rng(seed)
    stops: list[tuple] = []
    for i in range(n_rows):
        if i > 10 and rng.random() < 0.05:
            prev = stops[int(rng.integers(0, len(stops)))]
            stops.append(prev[:-1] + (str(i),))
            continue
        sid = f"s{seed}x{i}" if rng.random() > 0.01 else f"s{seed} {i}"
        zr = rng.random()
        zone = "" if zr < 0.03 else (f"z {i % 97}" if zr < 0.05 else f"z{i % 97}")
        code = f"k{i}" if rng.random() > 0.02 else f"k {i}"
        city = f"c{int(rng.integers(0, int(n_cities * 1.1)))}"
        lat = f"{rng.uniform(-90, 90):.6f}"
        stops.append((sid, f"Stop {i}", lat, zone, city, code, str(i)))
    cities: list[dict] = []
    for j in range(n_cities):
        name = f"c{j}" if j < n_cities * 0.9 else f"c{int(rng.integers(0, n_cities))}"
        cid = f"{seed}-{j}" if rng.random() > 0.02 else f"{seed} {j}"
        cities.append({
            "cid": cid,
            "name": name,
            "pop": str(int(rng.integers(100, 10_000_000))),
            "country": f"Country {j % 53}",
        })
    return stops, cities


def write_cli_inputs(dirpath: str, stops, cities) -> str:
    """Write stops.csv, cities.json and mapping.ttl; returns the mapping path."""
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "stops.csv"), "w", encoding="utf-8") as f:
        f.write(",".join(STOP_COLS) + "\n")
        f.writelines(",".join(r) + "\n" for r in stops)
    with open(os.path.join(dirpath, "cities.json"), "w", encoding="utf-8") as f:
        # multi-line document: the engine reads JSON sources with multiLine
        f.write('{"items": [\n')
        f.write(",\n".join(json.dumps(c, sort_keys=True) for c in cities))
        f.write("\n]}\n")
    path = os.path.join(dirpath, "mapping.ttl")
    with open(path, "w", encoding="utf-8") as f:
        f.write(MAPPING)
    return path
