"""Logical-source loaders: every RML source becomes a string-typed DataFrame.

The reference stages every source into all-TEXT SQLite tables with an
autoincrement `col_id` (src/input.rs:132-176); we keep the same observable
semantics — all referenced fields as strings, NULL read back as '' — but the
"staging store" is just the DataFrame itself (Catalyst prunes the scan to the
referenced columns; no copy is materialized).

Returned DataFrames have one sanitized column per referenced field plus
`__rid`, an ingest-order id that stands in for SQLite's rowid for
first-occurrence dedup / first-match join ordering.

__rid determinism: the order is read off the source's file count
(`DataFrame.inputFiles()`, a driver-side listing that runs no job):
  - ONE file keeps the scan's monotonically_increasing_id (partitionId << 33
    | row offset). Spark plans one file's splits in byte order, so this is
    exact file order at any split count — identical to SQLite rowid;
  - SEVERAL files (a directory or glob) get (file key << 40) + row-in-file,
    the file key being the file's rank in that sorted listing (a broadcast
    local table; the files are not scanned for it). Row-in-file is
    parquet's _metadata.row_index, XML's element index, JSON's row offset
    in its scan partition (a multi-line JSON file is never split, so its
    rows sit together and in order in one partition), or for CSV a
    per-file window over (block start, scan position) — a shuffle and sort
    of the source's rows, the price of exact order for a splittable file.
    This order does not depend on how Spark bin-packs the files into splits.
Catalog tables (`table` format) keep the bare scan id: Hive-serde tables
have no _metadata columns.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ast import LogicalSource
from .config import EngineConfig, FileSpec

RID = "__rid"

_SAN = re.compile(r"[^A-Za-z0-9_]")


def sanitize(field: str) -> str:
    """Stable, collision-safe column name for a source field path."""
    return "f_" + _SAN.sub("_", field)


def colmap_for(fields: list[str]) -> dict[str, str]:
    return {f: sanitize(f) for f in fields}


def _string_or_empty(col, dtype) -> F.Column:
    # Non-scalar JSON values are skipped by the reference (column omitted ->
    # NULL -> read back as "", src/input.rs:469-488); NULLs become ''.
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType, T.BinaryType)):
        return F.lit("")
    return F.coalesce(col.cast("string"), F.lit(""))


_META_FP = "__fp"
_META_BS = "__bs"


def _file_keys(spark: SparkSession, files: list) -> DataFrame:
    """(__fkey, __fp): 1-based rank of each input file in sorted path order —
    a collision-free per-file key. A truncated hash of the path would give
    two files the same rid high bits, i.e. duplicate rids and a
    nondeterministic first-occurrence tie-break. Built from the driver's
    file listing (a local table, no scan); paths are put in
    `_metadata.file_path` form, which spells an empty URI authority `file:/`
    where `inputFiles()` spells it `file:///`."""

    def meta_path(uri: str) -> str:
        u = urlsplit(uri)
        return uri if u.netloc else f"{u.scheme}:{u.path}"

    paths = sorted(map(meta_path, files))
    keys = pa.table({"__fkey": pa.array(range(1, len(paths) + 1), pa.int64()), _META_FP: paths})
    # an Arrow table plans as a LocalRelation: no Python worker evaluates it
    return spark.createDataFrame(keys)


def _with_rid(df: DataFrame, cols: list, pos=None) -> DataFrame:
    """Project `cols` and attach __rid (module docstring). `pos` is the
    row-in-file column where the source has one; without it (CSV, whose
    files can be split), row-in-file is a window partitioned by file —
    parallel across files. The file path comes from the _META_FP column
    when `df` carries it (an iterator or a parser that drops the scan
    columns), else from the scan's _metadata."""
    files = df.inputFiles()
    if len(files) < 2:
        return df.select(*cols).withColumn(RID, F.monotonically_increasing_id())
    from pyspark.sql.window import Window

    fp = F.col(_META_FP if _META_FP in df.columns else "_metadata.file_path").alias(_META_FP)
    if pos is None:
        bs = F.col("_metadata.file_block_start").alias(_META_BS)
        staged = df.select(*cols, fp, bs, F.monotonically_increasing_id().alias("__mono"))
        pos = F.row_number().over(Window.partitionBy(_META_FP).orderBy(_META_BS, "__mono"))
    else:
        staged = df.select(*cols, fp, pos.alias("__pos"))
        pos = F.col("__pos")
    keys = F.broadcast(_file_keys(df.sparkSession, files))
    # left join + raise_error: a path the listing spells differently fails
    # loudly instead of dropping that file's rows
    fkey = F.coalesce(
        F.col("__fkey"),
        F.raise_error(F.concat(F.lit("file not in source listing: "), F.col(_META_FP))),
    )
    rid = F.shiftleft(fkey, 40) + pos.cast("long")
    staged = staged.join(keys, _META_FP, "left")
    return staged.withColumn(RID, rid).drop(_META_FP, _META_BS, "__mono", "__pos", "__fkey")


def _resolve_path(df: DataFrame, path: str):
    """Navigate a dotted path into nested structs; None if absent."""
    cur_type: T.DataType = df.schema
    col = None
    for part in path.split("."):
        if isinstance(cur_type, T.StructType) and part in cur_type.fieldNames():
            col = df[part] if col is None else col.getField(part)
            cur_type = cur_type[part].dataType
        else:
            return None, None
    return col, cur_type


_SEG = re.compile(r"^([^\[\]]*)((?:\[\*\])*)$")


def _apply_json_iterator(df: DataFrame, iterator: str) -> DataFrame:
    """Evaluate a JSONPath-style iterator ($.a.b[*].c[*]...) by navigating
    struct fields and exploding each array level (reference evaluates real
    JSONPath per match, src/input.rs:333-392). Supports nested paths, multiple
    array levels, and arrays without an explicit [*] (auto-exploded — the
    reference's `$.students` and `$.students[*]` stage the same rows).
    An absent path yields zero rows (no JSONPath matches)."""
    path = iterator.strip().lstrip("$").strip(".")
    if not path:
        return df

    # ingest-order metadata columns ride along through every explode so the
    # post-iterator rows still know their source file (_with_rid)
    keep = [_META_FP] if _META_FP in df.columns else []
    expr = None
    dtype: T.DataType = df.schema
    for seg in path.split("."):
        m = _SEG.match(seg)
        name = m.group(1) if m else seg
        stars = (m.group(2).count("[*]") if m and m.group(2) else 0) or 0
        if name:
            if not (isinstance(dtype, T.StructType) and name in dtype.fieldNames()):
                return df.limit(0)  # no matches
            expr = F.col(name) if expr is None else expr.getField(name)
            dtype = dtype[name].dataType
        # explode once per explicit [*]; also auto-explode a bare array so the
        # next segment (or field resolution) sees element schema
        hops = max(stars, 1 if isinstance(dtype, T.ArrayType) else 0)
        for _ in range(hops):
            if not isinstance(dtype, T.ArrayType):
                return df.limit(0)
            df = df.select(*keep, F.explode(expr).alias("_it"))
            expr = F.col("_it")
            dtype = dtype.elementType

    if expr is not None:
        if isinstance(dtype, T.StructType):
            return df.select(*keep, expr.alias("_it")).select(*keep, "_it.*")
        # scalar leaf: expose it under the last path segment's name
        leaf = path.split(".")[-1].replace("[*]", "") or "_it"
        return df.select(*keep, expr.alias(leaf))
    return df


def load_logical_source(
    spark: SparkSession,
    source: LogicalSource,
    fields: list[str],
    config: EngineConfig | None = None,
) -> DataFrame:
    """Load `source` projected to `fields` (sanitized names) + __rid.

    `config` supplies per-file CSV read options (delimiter / header /
    encoding) exactly like the reference's files-data config entries
    (src/config.rs:234-272); defaults match the reference's FileSpecs
    defaults (',', header, UTF-8 — src/config.rs:325-333)."""
    fmt = source.fmt
    cmap = colmap_for(fields)
    spec = config.spec_for(source.source) if config else None
    if spec and spec.file_type:
        ft = spec.file_type.lower()
        if ft in ("csv", "tsv", "json", "xml", "parquet"):
            fmt = ft

    if fmt in ("csv", "tsv"):
        spec = spec or FileSpec(delimiter="\t" if fmt == "tsv" else ",")
        delim = spec.delimiter if spec.delimiter else ("\t" if fmt == "tsv" else ",")
        if fmt == "tsv" and spec.delimiter == ",":
            delim = "\t"  # per-type default wins unless explicitly configured
        df = (
            spark.read.option("header", "true" if spec.header else "false")
            .option("delimiter", delim)
            .option("encoding", spec.encoding)
            .option("inferSchema", "false")
            .csv(source.source)
        )
        if not spec.header:
            # headerless files address columns positionally: field "0"/"_c0"
            # -> Spark's _c0 (extension; the reference requires headers to
            # address fields by name, src/input.rs:276-295)
            rename = {}
            for f in fields:
                if f in df.columns:
                    continue
                if f.isdigit() and f"_c{int(f)}" in df.columns:
                    rename[f] = f"_c{int(f)}"
            missing = [f for f in fields if f not in df.columns and f not in rename]
        else:
            rename = {}
            missing = [f for f in fields if f not in df.columns]
        if missing:
            # a CSV row/file missing a requested column is a hard error in the
            # reference (src/input.rs:286-294)
            raise KeyError(f"CSV {source.source} lacks columns {missing}")
        cols = [
            F.coalesce(F.col(f"`{rename.get(f, f)}`").cast("string"), F.lit("")).alias(
                cmap[f]
            )
            for f in fields
        ]
        return _with_rid(df, cols)

    if fmt == "json":
        df = spark.read.option("multiLine", "true").json(source.source)
        if len(df.inputFiles()) > 1:
            # _with_rid's several-files case: capture the file path BEFORE
            # the iterator explodes away the scan columns;
            # _apply_json_iterator threads it. Not for one file: Catalyst
            # does not prune the captured column out of the scan again.
            df = df.select("*", F.col("_metadata.file_path").alias(_META_FP))
        it = (source.iterator or "$").strip()
        if it not in ("$", ""):
            df = _apply_json_iterator(df, it)
        cols = []
        for f in fields:
            col, dtype = _resolve_path(df, f)
            if col is None:
                cols.append(F.lit("").alias(cmap[f]))
            else:
                cols.append(_string_or_empty(col, dtype).alias(cmap[f]))
        # row-in-file: the row's offset in its scan partition (the id's low
        # 33 bits), taken after the iterator. A multi-line JSON file is never
        # split, so its rows sit together and in order in one partition: the
        # offset follows file order and is distinct within the file
        pos = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        return _with_rid(df, cols, pos=pos)

    if fmt == "xml":
        if config is not None and config.xml_real:
            return _load_xml_real(spark, source, fields, cmap)
        # Default: the reference's XML reader is a stub that stages zero rows
        # (src/input.rs:400-435) — XML-sourced TriplesMaps emit no triples,
        # and golden parity depends on it. Opt into a real reader with
        # EngineConfig(xml_real=True) / config key "xml-real".
        schema = T.StructType(
            [T.StructField(cmap[f], T.StringType()) for f in fields]
            + [T.StructField(RID, T.LongType())]
        )
        return spark.createDataFrame([], schema)

    if fmt in ("parquet", "table"):
        is_parquet = fmt == "parquet" or source.source.endswith(".parquet")
        df = (
            spark.read.parquet(source.source)
            if is_parquet
            else spark.table(source.source)
        )
        cols = []
        for f in fields:
            col, dtype = _resolve_path(df, f)
            if col is None:
                raise KeyError(f"source {source.source} lacks column {f}")
            cols.append(_string_or_empty(col, dtype).alias(cmap[f]))
        if is_parquet:
            return _with_rid(df, cols, pos=F.col("_metadata.row_index"))
        # catalog table: scan order (Hive-serde tables have no _metadata)
        return df.select(*cols).withColumn(RID, F.monotonically_increasing_id())

    raise ValueError(f"unsupported source format: {fmt}")


def _load_xml_real(
    spark: SparkSession, source: LogicalSource, fields: list[str], cmap: dict[str, str]
) -> DataFrame:
    """Opt-in real XML source (EngineConfig.xml_real): whole files are read
    as binary (one row per file — XML is not line-splittable), parsed with
    stdlib ElementTree inside an Arrow-batched mapInPandas, iterator =
    XPath-style element path (`/root/item` or `.//item`), fields = child
    element text or `@attribute`. Per-file parallelism: a 100 TB corpus of
    many XML files distributes by file; a single giant document does not
    (inherent to the format)."""
    import pandas as pd

    it = (source.iterator or "").strip()
    field_list = list(fields)

    out_schema = T.StructType(
        [T.StructField(cmap[f], T.StringType()) for f in field_list]
        + [T.StructField(_META_FP, T.StringType()), T.StructField("__pos", T.LongType())]
    )

    def parse(batches):
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in out_schema.fieldNames()}
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    root = ET.fromstring(bytes(content))
                except ET.ParseError:
                    continue  # reference skips unparseable docs
                # '/a/b' -> children path relative to root; './/b' works as-is
                xp = it
                if xp.startswith("/"):
                    parts = [p for p in xp.split("/") if p]
                    # first segment names the root element itself
                    xp = "./" + "/".join(parts[1:]) if len(parts) > 1 else "."
                for i, el in enumerate(root.findall(xp or ".")):
                    for f in field_list:
                        if f.startswith("@"):
                            v = el.get(f[1:], "")
                        else:
                            child = el.find(f)
                            v = (child.text or "") if child is not None else ""
                        rows[cmap[f]].append(v)
                    rows[_META_FP].append(path)
                    rows["__pos"].append(i)
            yield pd.DataFrame(rows).astype({"__pos": "int64"})

    files = (
        spark.read.format("binaryFile")
        .load(source.source)
        .select(F.col("_metadata.file_path").alias("path"), F.col("content"))
    )
    parsed = files.mapInPandas(parse, schema=out_schema)
    return _with_rid(parsed, [cmap[f] for f in field_list], pos=F.col("__pos"))
