"""The CLI under spans: `python -m perfbench.cli_traced SPANS.json ARGS...`
runs `rossete_rdf_spark.__main__.main(ARGS)` with a span around the session,
mapping parse, plan (materialize_all) and write, and writes the spans to
SPANS.json when it exits. Used by the traced rml_cli run only."""

from __future__ import annotations

import sys

from .trace import Tracer


def main(argv: list[str]) -> int:
    import rossete_rdf_spark.rml.compiler as compiler
    import rossete_rdf_spark.rml.parser as parser
    import rossete_rdf_spark.rml.writers as writers
    import rossete_rdf_spark.session as session
    from rossete_rdf_spark.__main__ import main as cli_main

    spans_path, args = argv[0], argv[1:]
    tr = Tracer()
    get_spark = session.get_spark

    def spanned_session(*a, **kw):
        with tr.span("cli.session"):
            spark = get_spark(*a, **kw)
        tr.bind(spark)
        return spark

    session.get_spark = spanned_session
    tr.wrap(parser, "parse_mapping_dir", "cli.parse")
    tr.wrap(parser, "parse_mapping_file", "cli.parse")
    tr.wrap(compiler, "materialize_all", "cli.plan")
    tr.wrap(writers, "write_nt", "cli.write")
    try:
        with tr.span("cli.main"):
            code = cli_main(args)
    finally:
        tr.dump(spans_path)
    return code


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
