"""Graph comparison utilities for tests: parse NT/TTL text into triple sets
and compute precision/recall under graph isomorphism with canonical
blank-node labeling.

Used to compare our engine's output against the reference's committed golden
file (/root/reference/ex_out.ttl) without byte-diffing formatting."""

from __future__ import annotations

import hashlib
import re

from .terms import RDF_TYPE

Triple = tuple[str, str, str]

_WS = re.compile(r"\s+")
_TERM = re.compile(
    r"""
      "(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|\^\^[^\s]+|@[\w-]+)?   # literal (+dt/lang)
    | <[^>]*>
    | _:[^\s]+
    | [^\s]+
    """,
    re.VERBOSE,
)


def _terms(line: str) -> list[str]:
    return _TERM.findall(line)


def parse_graph_text(text: str) -> set[Triple]:
    """Parse N-Triples or the reference's simple Turtle output (`;`
    continuation, `a` shorthand, no multi-line literals) into (s,p,o)."""
    triples: set[Triple] = set()
    subject: str | None = None
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#") or line.startswith("@"):
            continue
        terms = _terms(line)
        if not terms:
            continue
        end = terms[-1] in (".", ";")
        if end:
            terms = terms[:-1]
        if not terms:
            continue
        if len(terms) >= 3:
            subject = terms[0]
            p, o = terms[1], " ".join(terms[2:])
        elif len(terms) == 2 and subject is not None:
            p, o = terms[0], " ".join(terms[1:])
        else:
            continue
        if p == "a":
            p = RDF_TYPE
        triples.add((subject, p, o))
    return triples


BNODE_ROUNDS = 3


def canonicalize_bnodes(triples: set[Triple]) -> set[Triple]:
    """Deterministic blank-node labeling by BNODE_ROUNDS rounds of signature
    hashing (color refinement) — sufficient for non-pathological graphs."""
    bnodes = {t for tr in triples for t in (tr[0], tr[2]) if t.startswith("_:")}
    if not bnodes:
        return triples
    color = {b: "0" for b in bnodes}
    for _ in range(BNODE_ROUNDS):
        nxt = {}
        for b in bnodes:
            sig = []
            for s, p, o in triples:
                if s == b:
                    sig.append(("out", p, color.get(o, o)))
                if o == b:
                    sig.append(("in", p, color.get(s, s)))
            h = hashlib.sha256(repr(sorted(sig)).encode()).hexdigest()[:16]
            nxt[b] = h
        color = nxt
    ren = {b: f"_:c{color[b]}" for b in bnodes}
    return {(ren.get(s, s), p, ren.get(o, o)) for s, p, o in triples}


def _norm(t: Triple) -> Triple:
    return tuple(_WS.sub(" ", x).strip() for x in t)  # type: ignore[return-value]


def precision_recall(
    got: set[Triple], expected: set[Triple]
) -> tuple[float, float, set[Triple], set[Triple]]:
    g = canonicalize_bnodes({_norm(t) for t in got})
    e = canonicalize_bnodes({_norm(t) for t in expected})
    tp = g & e
    precision = len(tp) / len(g) if g else 1.0
    recall = len(tp) / len(e) if e else 1.0
    return precision, recall, g - e, e - g
