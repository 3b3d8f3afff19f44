"""Engine configuration: per-source-file read options + output format.

Mirrors the reference's JSON config surface (reference: src/config.rs):
  - "files-data": [{"path", "encoding", "file-type", "delimiter", "header"}]
    (parsed at src/config.rs:234-272; FileSpecs defaults delimiter=',',
    header=true, encoding=UTF-8 at src/config.rs:325-333)
  - "output-format": "nt" | "ttl" (src/config.rs:221-229; otherwise chosen
    by output-file extension, src/config.rs:20-34,110)
  - "threads" and "max-memory-usage" are accepted but ignored: Spark's task
    scheduler replaces the [parse, read, write] thread caps
    (src/config.rs:275-297) and Tungsten spill replaces the in-memory-DB
    threshold (src/config.rs:203-220).
  - "xml-real": true swaps the reference's zero-row XML stub for a real
    XML reader (sources._load_xml_real).
  - Ingest order (the reference's `col_id`) is not configurable: it is read
    off each source's file count (sources.py module docstring). Unknown
    keys, including a former ingest-order switch, are ignored.

Encodings: the reference maps ~40 WHATWG labels onto encoding_rs with a few
quirks ("KOI8"->KOI8-R, "WINDOWS"->windows-1258, "UTF-16"->LE, unknown ->
UTF-8; src/config.rs:378-425). Spark's CSV reader takes java.nio charset
names, which don't accept all WHATWG labels — canonical_encoding() replays
the reference's exact table onto java.nio names, including the
unknown->UTF-8 default. Four labels have no JVM decoder at all (REPLACEMENT,
X-USER-DEFINED, ISO-8859-10, ISO-8859-14) and fall back to UTF-8, documented
per-entry below.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


# The reference's WHATWG-label table (src/config.rs:378-425) rendered onto
# java.nio charset names. Identity entries (EUC-JP, GBK, windows-125x, ...)
# are omitted: any label not listed here passes through IF java.nio knows it,
# else falls back to UTF-8 exactly like the reference's `_ =>` arm.
_WHATWG_TO_JAVA: dict[str, str] = {
    "BIG5": "Big5",
    "ISO-8859-8-I": "ISO-8859-8",  # logical-order variant, same byte decode
    "KOI8": "KOI8-R",  # reference quirk: bare KOI8 means KOI8-R
    "MACINTOSH": "x-MacRoman",
    # in the reference's table but with NO JVM decoder -> UTF-8 fallback,
    # same class as REPLACEMENT / X-USER-DEFINED below
    "ISO-8859-10": "UTF-8",
    "ISO-8859-14": "UTF-8",
    "REPLACEMENT": "UTF-8",  # WHATWG poison decoder; no JVM analogue
    "SHIFT_JIS": "Shift_JIS",
    "UTF-16": "UTF-16LE",  # reference quirk: UTF-16 means LE
    "WINDOWS-874": "x-windows-874",
    "WINDOWS": "windows-1258",  # reference quirk (src/config.rs:420)
    "X-MAC-CYRILLIC": "x-MacCyrillic",
    "X-USER-DEFINED": "UTF-8",  # no JVM analogue
}


# Identity labels: EXACTLY the reference's match arms (src/config.rs:378-425)
# that java.nio also accepts verbatim — an explicit whitelist, NOT a
# codecs.lookup probe: Python's registry admits Python-only transforms
# (BASE64, ROT13, PUNYCODE, QUOPRI, UNICODE_ESCAPE, ...) that java.nio
# rejects with UnsupportedCharsetException mid-scan. Labels the reference
# does NOT list — LATIN-1/LATIN1, US-ASCII/ASCII, ISO-8859-1/-9/-11,
# GB2312, BIG5-HKSCS, TIS-620, UCS-2 — take its `_ =>` unknown->UTF-8 arm
# here too, even though java.nio could decode most of them: the table is an
# exact replay, so non-ASCII bytes under these labels decode identically to
# the reference.
_IDENTITY_LABELS = re.compile(
    r"^(UTF-8|UTF-16(BE|LE)"
    r"|ISO-8859-(1[356]|[2-8])|IBM866|KOI8-[RU]|WINDOWS-125[0-8]"
    r"|GBK|GB18030|EUC-JP|ISO-2022-JP|EUC-KR)$"
)


def canonical_encoding(name: str) -> str:
    """WHATWG label -> java.nio charset name, with the reference's
    unknown->UTF-8 default (src/config.rs:378-425)."""
    up = str(name).upper()
    if up in _WHATWG_TO_JAVA:
        return _WHATWG_TO_JAVA[up]
    return up if _IDENTITY_LABELS.match(up) else "UTF-8"


@dataclass(frozen=True)
class FileSpec:
    """Per-data-file read options (reference FileSpecs, src/config.rs:302-333)."""

    delimiter: str = ","
    header: bool = True
    encoding: str = "UTF-8"
    file_type: str | None = None  # overrides extension sniffing when set


@dataclass
class EngineConfig:
    file_specs: dict[str, FileSpec] = field(default_factory=dict)
    output_format: str | None = None  # 'nt' | 'ttl' | None (by extension)
    # The reference's XML reader is a stub that stages ZERO rows
    # (src/input.rs:400-435) and golden parity depends on that (the
    # #TransportMapping contributes nothing to ex_out.ttl). xml_real=True
    # opts into an actual XML source: XPath-style iterator over elements,
    # fields from child-element text / @attributes.
    xml_real: bool = False

    def spec_for(self, path: str) -> FileSpec | None:
        """Match by normalized path, like the reference's PathBuf-keyed
        HashMap (src/config.rs:122-124). A basename fallback exists only for
        the UNAMBIGUOUS case (exactly one configured file with that name, for
        relative-vs-absolute mismatches); when several configured paths share
        the basename the lookup returns None rather than letting dict order
        pick a winner for an unrelated file."""
        norm = os.path.normpath(path)
        if norm in self.file_specs:
            return self.file_specs[norm]
        base = os.path.basename(norm)
        hits = [v for k, v in self.file_specs.items() if os.path.basename(k) == base]
        return hits[0] if len(hits) == 1 else None


def load_config(path: str) -> EngineConfig:
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    return config_from_json(data, base_dir=os.path.dirname(os.path.abspath(path)))


def config_from_json(data: dict, base_dir: str | None = None) -> EngineConfig:
    cfg = EngineConfig()
    for spec in data.get("files-data", []) or []:
        p = spec.get("path")
        if not p:
            # reference hard-errors on a missing "path" (src/config.rs:243-248)
            raise ValueError('files-data entry lacks required "path"')
        if base_dir and not os.path.isabs(p):
            p = os.path.join(base_dir, p)
        cfg.file_specs[os.path.normpath(p)] = FileSpec(
            delimiter=str(spec.get("delimiter", ","))[:1] or ",",
            header=bool(spec.get("header", True)),
            encoding=canonical_encoding(spec.get("encoding", "UTF-8")),
            file_type=spec.get("file-type"),
        )
    of = data.get("output-format")
    if of is not None:
        cfg.output_format = str(of).lower()
    cfg.xml_real = bool(data.get("xml-real", False))
    return cfg
