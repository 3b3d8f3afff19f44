"""The registry's table layout: every input table is `<sf_dir>/<name>.parquet`,
and every per-sf_dir scratch directory is keyed by one tag of sf_dir. This
is the only module that knows either; the queries take DataFrames (or,
where a path is the input, ask here for it)."""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))


def scratch_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-sf_dir directory `<tmp>/rossete_<kind>_<tag>` (made
    if missing): a rerun against the same sf_dir reuses it, and different
    sf_dirs never share one."""
    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")
    d = os.path.join(tempfile.gettempdir(), f"rossete_{kind}_{tag}")
    os.makedirs(d, exist_ok=True)
    return d
