"""rossete_rdf_spark — a PySpark-native RML knowledge-graph construction engine.

A from-scratch re-implementation of the query/data-processing capabilities of
the reference engine RubenCid35/rossete-rdf (Rust, /root/reference), expressed
as Spark DataFrame transforms (Arrow UDFs only for media, XML and the
streaming sessionizer) instead of
threads + SQLite staging.

Layout:
  rml/       RML mapping parser (pure Python) + Spark compiler + writers
  graph/     connected components (size-gated: driver union-find or
             large-star/small-star), graph analytics
  pipeline/  web-scale KG construction: page table -> extract -> mentions ->
             entity linking -> canonicalization -> triples, with checkpoints
  textops/   training-data ops: dedup family, MinHash-LSH (lsh.py), similarity
             search, text analysis
  streaming/ structured-streaming variants of the event operators
"""

__version__ = "0.1.0"
