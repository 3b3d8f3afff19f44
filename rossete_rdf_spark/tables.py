"""The registry's table layout: every input table is `<sf_dir>/<name>.parquet`,
and every per-sf_dir scratch directory is keyed by one tag of sf_dir. This
is the only module that knows either; the queries take DataFrames (or,
where a path is the input, ask here for it)."""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _resolved(sf_dir: str) -> str:
    """A local sf_dir made absolute against this process's working
    directory: the JVM resolves a relative path against the directory it
    started in, which a later os.chdir does not move. A URI (`scheme:...`)
    passes through."""
    return sf_dir if re.match(r"[A-Za-z][\w+.-]*:", sf_dir) else os.path.abspath(sf_dir)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(_resolved(sf_dir), f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))


def scratch_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-sf_dir directory `<tmp>/rossete_<kind>_<tag>` (made
    if missing): a rerun against the same sf_dir reuses it, and different
    sf_dirs never share one (the tag is of the resolved path, so one
    relative sf_dir seen from two working directories is two sf_dirs)."""
    tag = re.sub(r"[^A-Za-z0-9]+", "_", _resolved(sf_dir)).strip("_")
    d = os.path.join(tempfile.gettempdir(), f"rossete_{kind}_{tag}")
    os.makedirs(d, exist_ok=True)
    return d
