#!/usr/bin/env python
"""Per-query isolation harness for optimization work (guide §1.4).

NOT part of the frozen driver contract (bench.py is the measured artifact);
this file exists so individual queries can be timed and their plans captured
without paying for the whole bench.

Usage:
  python bench_extra.py QUERY [QUERY ...] [--reps N] [--explain DIR --tag TAG]
  python bench_extra.py --all [--reps N]

Each query is forced through the noop sink (computes every column, discards
the result). A jvm probe brackets each rep so a VM slow phase is visible.
With --explain DIR --tag TAG, writes DIR/<query>_<TAG>.txt containing
.explain("formatted") output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _force, jvm_probe  # noqa: E402
from rossete_rdf_spark.registry import QUERIES  # noqa: E402
from rossete_rdf_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None, help="dir for explain output")
    ap.add_argument("--tag", default="plan")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    names = list(QUERIES) if args.all else args.queries
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    if not args.no_warm:
        _force(QUERIES["token_count"](spark, sf_dir))
    jvm_probe(spark)  # discard first (JIT)

    out: dict[str, dict] = {}
    for name in names:
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = QUERIES[name](spark, sf_dir)
            # _explainString mirrors .explain("formatted") but returns text
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(txt)
        reps, probes = [], []
        for _ in range(args.reps):
            probes.append(jvm_probe(spark))
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _force(QUERIES[name](spark, sf_dir))
            reps.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(reps), "reps": reps, "probes": probes}
        print(f"[extra] {name}: min={min(reps)} reps={reps} probes={probes}",
              file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
