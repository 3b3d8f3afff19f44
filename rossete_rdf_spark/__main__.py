"""CLI front-end: mappings -> RDF graph file, mirroring the reference CLI
(reference: src/main.rs:29-114 — required --mappings <dir|file> and
--output <file>, optional --config <json>; NT vs Turtle picked by the output
extension, src/config.rs:20-34,110, overridable by config "output-format",
src/config.rs:221-229).

    python -m rossete_rdf_spark --mappings /path/maps --output out.nt \
        [--config config.json] [--master local[8]] [--strict-nt] [--base-dir D]

Output is written as a single text file at the requested path (the per-task
part files are coalesced driver-side only for the final concat — the
materialization itself is fully distributed; pass --output-dir to keep the
distributed part-file directory instead for large graphs).

The session comes from session.get_spark: --master wins, else the master
the launcher set (spark-submit, PYSPARK_SUBMIT_ARGS), else local[*].
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="rossete_rdf_spark", description="PySpark RML materializer"
    )
    ap.add_argument("--mappings", required=True, help="mapping .ttl/.rml file or directory")
    ap.add_argument("--output", required=True, help="output graph file (.nt or .ttl)")
    ap.add_argument("--config", help="JSON config (files-data read options, output-format)")
    ap.add_argument("--base-dir", help="base dir for relative rml:source paths "
                    "(default: the current working directory, like the reference CLI)")
    ap.add_argument("--master", help="spark master "
                    "(default: the launcher's master, else local[*])")
    ap.add_argument("--strict-nt", action="store_true",
                    help="emit full rdf:type IRI instead of the reference's 'a' quirk")
    ap.add_argument("--output-dir", action="store_true",
                    help="keep the distributed part-file directory (no driver-side concat)")
    args = ap.parse_args(argv)

    from .rml.compiler import materialize_all
    from .rml.config import EngineConfig, load_config
    from .rml.parser import parse_mapping_dir, parse_mapping_file
    from .rml.writers import write_nt, write_ttl
    from .session import get_spark

    cfg = load_config(args.config) if args.config else EngineConfig()
    fmt = cfg.output_format or os.path.splitext(args.output)[1].lstrip(".").lower()
    if fmt not in ("nt", "ttl"):
        # reference treats unknown extensions as "Other" and refuses
        # (src/config.rs:20-34)
        print(f"unsupported output format: .{fmt} (use .nt or .ttl)", file=sys.stderr)
        return 2

    base = args.base_dir or os.getcwd()
    if os.path.isdir(args.mappings):
        maps = parse_mapping_dir(args.mappings, base_dir=base)
    else:
        maps = parse_mapping_file(args.mappings, base_dir=base)
    if not maps:
        print("no TriplesMaps found", file=sys.stderr)
        return 2

    spark = get_spark(app_name="rossete-rml", master=args.master)
    triples = materialize_all(spark, maps, config=cfg)

    out_path = args.output if args.output_dir else tempfile.mkdtemp(prefix="rossete_out_")
    try:
        if fmt == "nt":
            write_nt(triples, out_path, strict=args.strict_nt)
        else:
            write_ttl(triples, out_path)
        if not args.output_dir:
            with open(args.output, "w", encoding="utf-8") as out:
                for part in sorted(glob.glob(os.path.join(out_path, "*"))):
                    if os.path.basename(part).startswith(("_", ".")):
                        continue
                    with open(part, encoding="utf-8") as f:
                        shutil.copyfileobj(f, out)
    finally:
        if not args.output_dir:
            shutil.rmtree(out_path, ignore_errors=True)

    if not args.output_dir:
        print(f"wrote {args.output} ({fmt})")
    else:
        print(f"wrote {out_path}/ ({fmt}, part files)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
