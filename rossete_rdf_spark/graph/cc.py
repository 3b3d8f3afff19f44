"""Connected components — the canonicalization core of the KG pipeline.

Size-gated: an edge set of at most DRIVER_MAX_EDGES edges (self-loops
aside) is collected once and closed with union-find on the driver; above
the bound the components come from alternating large-star / small-star
rounds (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14). The canonicalization graphs (verified duplicate pairs, bounded by
the gazetteer or by the duplicate rate) are almost always small, and on
them the distributed loop pays for Spark jobs, not data: a 100-edge graph
costs dozens of jobs through the loop and 2 (a count and the collect)
through the driver path. Corpus-scale graphs still stay distributed.

Why not GraphFrames: keeps the dependency surface to pyspark only, and the
two-operation loop is a handful of DataFrame lines.

Scale behavior of the distributed loop:
- each round is two shuffles keyed by node id; hub nodes (power-law degree)
  are exactly what large-star handles: a hub's neighbors all point at the
  hub's minimum, so its adjacency never re-materializes on one reducer
- lineage is cut with lazy localCheckpoints (the loop would otherwise build
  an exponentially deep plan); the convergence signature aggregate is the
  action that materializes each checkpoint, so a wave of TWO star rounds
  costs ONE driver-synchronizing action (down from two actions per single
  round) — the loop's serial critical path is what a straggler (or this
  VM's single-task stall phases) multiplies, so halving the wave count
  matters as much as the per-wave cost
- convergence is detected with an order-independent (count, hash-sum)
  signature, checked once per two-round wave; rounds are O(log^2 n) worst
  case, ~5 for our graphs, and both star operations are identities on the
  converged star graph, so overshooting by one round is free-by-idempotence
- node ids may be any orderable type; url and surface strings are used
  directly
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

MAX_ROUNDS = 20  # star rounds before the distributed loop gives up

# Most input edges (self-loops aside, duplicates counted) closed on the
# driver. Both paths timed in one session on a 4-vCPU host (local[4], 8
# shuffle partitions, string node ids, components of a few nodes — the
# loop's best case), seconds incl. writing the result, driver vs loop:
# 10k edges 1.1 vs 10.7, 100k 2.3 vs 23, 1M 19-25 vs 97-99. The loop never
# won, so the crossover lies above 1M edges; the bound sits well below it
# so the collected edge list stays a few tens of MB on the driver.
DRIVER_MAX_EDGES = 200_000


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize + drop self loops + distinct.

    Explode-of-both-orientations, NOT edges UNION reversed(edges): one scan
    of the edge set instead of two, and no Union node — Catalyst's
    UnionBase.rewriteConstraints crashes ("key not found: dst#N") on
    self-unions of join-built edge plans."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the min of
    (u, neighbors(u)). Operates on the symmetrized edge list."""
    nbrs = _sym(edges)
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    big = nbrs.filter(F.col("dst") > F.col("src"))
    return (
        big.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect all smaller-or-equal neighbors (and u) to the
    minimum of the group."""
    # orient edges small->large: (src=max, dst=min)
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    # (dst -> m) for every neighbor PLUS (u -> m) for the center, emitted by
    # exploding both endpoints of each joined row (distinct collapses the
    # per-row center duplicates) — union-free for the same Catalyst
    # constraint-rewrite reason as _sym
    return (
        e.join(m, "src")
        .select(
            F.explode(F.array(F.col("dst"), F.col("src"))).alias("src"),
            F.col("m").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _union_find(pairs) -> dict:
    """{node: min node of its component} for every endpoint of `pairs`
    (self-loop-free, or their nodes would appear): path-halving union-find
    whose union keeps the smaller root, so each root is its component's
    minimum."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id of
    the component (any orderable node type works; strings are fine).

    Nodes with no edges are absent — union isolated nodes downstream if
    needed (the pipeline does this for singleton entities).

    The input edges, self-loops dropped, are checkpointed and counted. At
    most DRIVER_MAX_EDGES of them are collected and closed with union-find
    on the driver (2 jobs past the upstream plan's own: the count and the
    collect), returned as an Arrow table: a LocalRelation of known size that
    joins can broadcast (a Python list plans as a LogicalRDD of unknown
    size); above the bound the distributed large-star/small-star loop runs
    on the same checkpoint.

    The iterative loop re-shuffles the edge set ~7 times per round, so the
    right shuffle-partition count is a function of EDGE volume, not of the
    session's (corpus-sized) setting: after the duplicate/LSH blocking
    stages the edge set is orders of magnitude smaller than the corpus, and
    running 64-partition shuffles over a few thousand edges is pure
    stage-overhead (measured 13.4s -> 5.2s on a 700-edge graph going
    64 -> 8). The edge count from the first convergence signature sizes the
    loop (~500k edges/partition, floor 8, but never above the session
    setting — the session value wins when it is below the floor). The
    session value is restored after.

    NOT thread-safe above the bound: the sizing works by scoping the
    session-global spark.sql.shuffle.partitions for the duration of the
    loop, so a concurrent query on the same SparkSession would silently plan
    with the loop's (tiny) partition count. Run large CC calls serially per
    session.

    Raises RuntimeError if the loop has not converged after MAX_ROUNDS."""
    spark = edges.sparkSession
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _sig(df: DataFrame) -> tuple:
        """Order-independent (count, hash-sum) signature of the edge set —
        one cheap job per round instead of two exceptAll scans."""
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            # decimal sum: ANSI mode would overflow a long hash-sum
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    # the non-self-loop input, checkpointed so the count below runs the
    # upstream plan once for either path; counted through the JVM RDD API
    # (one job: a DataFrame count's aggregation exchange is a second, AQE
    # job)
    raw = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    n_edges = raw._jdf.rdd().count()
    if n_edges <= DRIVER_MAX_EDGES:
        t = raw.schema["src"].dataType
        schema = StructType([StructField("node", t), StructField("component", t)])
        comp = _union_find(raw.collect())
        table = pa.table([list(comp), list(comp.values())], schema=to_arrow_schema(schema))
        return spark.createDataFrame(table, schema)
    # LAZY checkpoint + signature aggregate = ONE action that both
    # materializes the checkpoint and signs the edge set (an eager
    # checkpoint would be a second, separate job per wave)
    e = _sym(raw).localCheckpoint(eager=False)
    sig = _sig(e)
    target = min(cur, max(8, (sig[0] or 1) // 500_000 + 1))
    from ..session import scoped_conf

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(target)}):
        rounds = 0
        while rounds < MAX_ROUNDS:
            # TWO star rounds per convergence wave: checkpointing and
            # signing every round doubled the loop's serial action count
            # for no information — the star operations are idempotent on
            # the converged set, so a wave that overshoots converges to the
            # same fixed point, and the lineage across two rounds is still
            # shallow enough to plan cheaply
            e2 = _small_star(_large_star(e))
            rounds += 1
            if rounds < MAX_ROUNDS:
                e2 = _small_star(_large_star(e2))
                rounds += 1
            e2 = e2.localCheckpoint(eager=False)
            sig2 = _sig(e2)
            e = e2
            if sig2 == sig:  # converged: the canonicalized edge set is stable
                break
            sig = sig2
        else:
            raise RuntimeError(
                f"connected_components did not converge in {rounds} star "
                f"rounds over {n_edges} edges"
            )
        # final star graph: every node points at its component min
        comp = e.select(
            F.greatest("src", "dst").alias("node"),
            F.least("src", "dst").alias("component"),
        )
        comp = comp.groupBy("node").agg(F.min("component").alias("component"))
        roots = comp.select(F.col("component").alias("node")).distinct().withColumn(
            "component", F.col("node")
        )
        # materialize before restoring the session partitions so the
        # small-partition plan is what actually runs
        return comp.unionByName(roots).distinct().localCheckpoint(eager=True)


def dense_ids(values: DataFrame, col: str = "node") -> DataFrame:
    """(col, nid) with ORDER-PRESERVING dense long ids 0..n-1: the rank of
    each DISTINCT value under its natural ordering. The general distributed
    id-assignment primitive (vocabulary ids, node dictionaries, surrogate
    keys) — what zipWithIndex does on an RDD, done JVM-side with no
    single-partition window and no Python pass:
      1. range-repartition the distinct value set — partition i holds keys
         strictly below partition i+1, so (partition id, within-partition
         rank) is a global rank;
      2. per-partition counts -> exclusive prefix offsets (one row per
         partition: driver-free, broadcast back);
      3. nid = offset[partition] + row_number within the partition (the
         window's sort is bounded by one range partition, never the value
         set).
    The two consumers of the ranged set (counts + rank) share one lazy
    localCheckpoint so the distinct+range shuffle runs once."""
    p = int(values.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        values.select(col)
        .distinct()
        .repartitionByRange(p, col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        # single-partition window over <= `p` rows — tiny by construction
        .withColumn("__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    w_rank = Window.partitionBy("__pid").orderBy(col)
    return ranged.join(F.broadcast(offsets), "__pid").select(
        col,
        (F.col("__off") + F.row_number().over(w_rank) - 1).alias("nid"),
    )
