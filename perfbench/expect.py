"""Output checks that do not run the code under test.

`cli_expected_lines` derives the N-Triples of the rml_cli mapping from the
generated rows in plain Python, applying the engine's documented rules:
first-occurrence dedup on the mapped fields, first-match join on the
parent's ingest order, typed literals (default xsd:string), the `a`
shorthand for rdf:type, dropping of empty references, and discarding of
any minted IRI that contains a space (a subject discards the whole row).
"""

from __future__ import annotations

import hashlib

from .gen import EX, STOP_COLS, XSD


def _iri(value: str) -> str | None:
    return None if " " in value else f"<{value}>"


def _lit(value: str, dt: str = "string") -> str | None:
    return f'"{value}"^^<{XSD}{dt}>' if value else None


def cli_expected_lines(stops, cities) -> list[str]:
    first_city: dict[str, str] = {}
    for c in cities:
        first_city.setdefault(c["name"], c["cid"])

    lines: list[str] = []

    def emit(s: str, p: str, o: str | None) -> None:
        if o is not None:
            lines.append(f"{s} {p} {o} .")

    col = {c: i for i, c in enumerate(STOP_COLS)}
    seen: set[tuple] = set()
    for row in stops:
        key = tuple(row[col[c]] for c in ("id", "name", "lat", "zone", "city"))
        if key in seen:
            continue
        seen.add(key)
        s = _iri(f"{EX}stop/{row[col['id']]}")
        if s is None:
            continue
        emit(s, "a", f"<{EX}Stop>")
        emit(s, f"<{EX}name>", _lit(row[col["name"]]))
        emit(s, f"<{EX}lat>", _lit(row[col["lat"]], "decimal"))
        emit(s, f"<{EX}zone>", _iri(f"{EX}zone/{row[col['zone']]}"))
        cid = first_city.get(row[col["city"]])
        if cid is not None:
            emit(s, f"<{EX}inCity>", _iri(f"{EX}city/{cid}"))
        emit(s, f"<{EX}alias>", _iri(f"{EX}alias/{row[col['code']]}"))

    seen_c: set[tuple] = set()
    for c in cities:
        key = (c["cid"], c["pop"], c["country"])
        if key in seen_c:
            continue
        seen_c.add(key)
        s = _iri(f"{EX}city/{c['cid']}")
        if s is None:
            continue
        emit(s, "a", f"<{EX}City>")
        emit(s, f"<{EX}pop>", _lit(c["pop"], "integer"))
        emit(s, f"<{EX}country>", _lit(c["country"]))
    return lines


def cli_output_matches(path: str, expected: list[str]) -> tuple[bool, int]:
    """(output line multiset == expected, number of output lines)."""
    with open(path, encoding="utf-8") as f:
        got = f.read().splitlines()
    return sorted(got) == sorted(expected), len(got)


def multiset_digest(rows) -> str:
    """Order-independent digest of an iterable of row tuples: the sum of
    per-row hashes, so any partitioning of the same rows digests alike."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
    return f"{acc:016x}"
