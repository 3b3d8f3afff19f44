"""Relational operators exposed as standalone, oracle-checkable queries:
the RML J1 first-match join (rml.compiler.first_match_join) over TPC-H-ish
tables, event sessionization/windowed
aggregation, and two TPC-H-style health queries used as bench anchors."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rml.compiler import first_match_join
from .tables import read_table, scratch_dir


def _asof_tag(
    left: DataFrame, right: DataFrame, on: str, rcols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Tagged union inputs for the as-of carry: (key, __ts, __tag, __l, __r)
    with right rows tagged 0 so they sort before left rows at equal ts."""
    lt = left.select(
        F.col(on),
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(
                F.struct(F.col("ts").alias("__rts"), *[F.col(c) for c in rcols]).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("__r"),
    )
    rt = right.select(
        F.col(on),
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(lt.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(F.col("ts").alias("__rts"), *[F.col(c) for c in rcols]).alias("__r"),
    )
    return lt, rt


def _asof_project(
    out: DataFrame,
    left_columns: list[str],
    rcols: list[str],
    tolerance_sec: int | None,
) -> DataFrame:
    """Tolerance filter + final projection shared by both as-of variants."""
    if tolerance_sec is not None:
        # timestamp-first double cast: TIMESTAMP_NTZ (what parquet loads)
        # cannot cast straight to BIGINT, and the hop is an identity for
        # integer ts columns — same idiom as the bucketing expr below
        out = out.filter(
            F.col("__ts").cast("timestamp").cast("long")
            - F.col("__last_r.__rts").cast("timestamp").cast("long")
            <= tolerance_sec
        )
    return out.select(
        *[F.col(f"__l.{c}").alias(c) for c in left_columns],
        *[F.col(f"__last_r.{c}").alias(f"right_{c}") for c in rcols],
        F.col("__last_r.__rts").alias("right_ts"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: list[str] | None = None,
    tolerance_sec: int | None = None,
) -> DataFrame:
    """As-of join: for every left row, the single most recent right row with
    right.ts <= left.ts on the same key (inner semantics — left rows with no
    prior right row are dropped). Ties at equal ts break to the greatest
    right event_id.

    Spark has no native ASOF JOIN; the scalable formulation is the
    union-and-carry pattern: tag both inputs, union them, and carry the last
    right-row payload forward with last(ignorenulls) over one window
    per key ordered by (ts, tag, event_id) — right rows sort before left
    rows at equal ts, so "<=" is inclusive. ONE shuffle on the key and a
    per-key local sort (bounded by per-key activity, the natural unit), vs
    the naive inequality join which is O(|L|x|R|) per key. A time
    `tolerance_sec` bounds how stale the match may be.

    The per-key window sorts a key's ENTIRE history in one partition — the
    natural unit for user-keyed events. For hub keys whose history exceeds a
    partition (a bot user, a null-ish default key), use asof_join_bucketed:
    same semantics, per-bucket sorts."""
    rcols = right_cols or [c for c in right.columns if c not in (on, "ts")]
    lt, rt = _asof_tag(left, right, on, rcols)
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__tag", F.col("__r.event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt).withColumn(
        "__last_r", F.last("__r", ignorenulls=True).over(w)
    )
    out = carried.filter((F.col("__tag") == 1) & F.col("__last_r").isNotNull())
    return _asof_project(out, left.columns, rcols, tolerance_sec)


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: list[str] | None = None,
    tolerance_sec: int | None = None,
    bucket_sec: int = 3600,
) -> DataFrame:
    """asof_join with bounded per-partition sorts — the hub-key-safe variant.
    Output-equivalent to asof_join (property-tested); use it when single
    keys accumulate more history than one partition should sort.

    Three bounded pieces instead of one per-key full-history sort:
      1. within-bucket carry: the same union-and-carry window, but
         partitioned by (key, floor(ts/bucket_sec)) — each local sort is
         bounded by one bucket's activity, never the key's lifetime;
      2. per-(key, bucket) last-right summary: a max_by hash aggregate over
         right rows (map-side combinable — the struct ordering key drops it
         to SortAggregate over the already-small summary, not the events);
      3. cross-bucket carry: a window over the per-key BUCKET LIST (rows =
         #active buckets, bounded by time-range/bucket_sec regardless of
         event volume) carries the newest summary from strictly-earlier
         buckets.
    A left row takes its within-bucket match, else the cross-bucket carry.
    Pick bucket_sec so one bucket of the hottest key fits a partition.

    The cross-bucket joins use NULL-SAFE key equality: asof_join's window
    partitioning groups NULL keys together (and the null-ish default key is
    exactly the hub pattern this variant exists for), so the bucketed
    formulation must match them too — a plain equi-join would silently drop
    every cross-bucket match on the NULL key."""
    rcols = right_cols or [c for c in right.columns if c not in (on, "ts")]
    lt, rt = _asof_tag(left, right, on, rcols)
    # cast through "timestamp" first: a no-op for TIMESTAMP columns, and the
    # session-UTC conversion for TIMESTAMP_NTZ ones (Spark 4 refuses a
    # direct NTZ -> BIGINT cast); buckets only need a monotonic second count
    b = F.floor(
        F.col("__ts").cast("timestamp").cast("long") / F.lit(bucket_sec)
    )
    u = lt.unionByName(rt).withColumn("__b", b)
    w_in = (
        Window.partitionBy(on, "__b")
        .orderBy("__ts", "__tag", F.col("__r.event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__in_b", F.last("__r", ignorenulls=True).over(w_in))
    blast = (
        rt.withColumn("__b", b)
        .groupBy(on, "__b")
        .agg(
            F.max_by(
                F.col("__r"), F.struct(F.col("__ts"), F.col("__r.event_id"))
            ).alias("__bl")
        )
        .alias("bl")
    )
    spine = u.select(on, "__b").distinct().alias("sp")
    w_carry = (
        Window.partitionBy(on)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        spine.join(
            blast,
            F.col(f"sp.{on}").eqNullSafe(F.col(f"bl.{on}"))
            & (F.col("sp.__b") == F.col("bl.__b")),
            "left",
        )
        .select(F.col(f"sp.{on}").alias(on), F.col("sp.__b").alias("__b"), "__bl")
        .withColumn("__prev", F.last("__bl", ignorenulls=True).over(w_carry))
        .select(on, "__b", "__prev")
        .alias("ca")
    )
    lu = u.filter(F.col("__tag") == 1).alias("lu")
    out = (
        lu.join(
            carry,
            F.col(f"lu.{on}").eqNullSafe(F.col(f"ca.{on}"))
            & (F.col("lu.__b") == F.col("ca.__b")),
            "left",
        )
        .select(
            F.col(f"lu.{on}").alias(on), "__ts", "__tag", "__l", "__in_b", "__prev"
        )
        .withColumn("__last_r", F.coalesce("__in_b", "__prev"))
        .filter(F.col("__last_r").isNotNull())
    )
    return _asof_project(out, left.columns, rcols, tolerance_sec)


# --- driver-contract queries ------------------------------------------------


def rel_first_match_join(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Each part joined to its first lineitem occurrence (ordered by
    (l_orderkey, l_linenumber)) — J1 semantics over TPC-H-ish tables."""
    # (l_orderkey, l_linenumber) bit-packed into one long: linenumber is
    # 1..7, so *8 preserves lexicographic order and stays unique (the PK) —
    # every carried column is fixed-width, so the collapse is HashAggregate
    li = lineitem.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("l_order"),
    )
    out = first_match_join(
        part.select("p_partkey", "p_name"), li, [("p_partkey", "l_partkey")], "l_order"
    )
    return out.select(
        "p_partkey",
        "p_name",
        F.col("l_orderkey").alias("first_orderkey"),
        F.col("l_linenumber").alias("first_linenumber"),
        F.round("l_quantity", 2).alias("first_quantity"),
    )


def rel_runtime_filter_join(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective dim-side predicate
    (p_brand = 'Brand#13', ~1/25 of part) builds a bloom filter that Spark's
    InjectRuntimeFilter rule pushes into the FACT-side scan as
    `might_contain(xxhash64(l_partkey))` — row-level dynamic pruning, the
    non-partitioned analogue of DPP. At 100 TB this is the difference
    between shuffling the whole lineitem corpus into the join exchange and
    shuffling only the ~matching fraction; the plan assert lives in
    tests/test_plans.py.

    Conf scoping (session.scoped_conf, memoize-inside idiom — see its
    docstring for the not-thread-safe caveat and the re-planning caveat):
    injection happens at optimization time, so the function lowers the
    application-side size threshold (the 10 GB default assumes a real
    cluster's scans; test scans are KBs), disables auto-broadcast (the rule
    only guards shuffle joins — a broadcast join needs no runtime filter),
    forces the optimized plan to MATERIALIZE under those confs, and asserts
    the filter actually landed — a silent loss of the injection (Spark
    version drift, conf interference) fails HERE, not only in
    tests/test_plans.py. Correctness is conf-independent: the bloom filter
    only prunes rows the join would drop."""
    from .session import scoped_conf

    with scoped_conf(lineitem.sparkSession, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        dim = part.filter(F.col("p_brand") == "Brand#13")
        out = (
            lineitem.join(dim, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_size")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
        )
        # memoize the injected plan inside the scope + prove the injection
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter was not injected into the fact scan"
        )
    return out


def rel_skew_join_agg(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """AQE skew-join demo query: a deliberately hub-skewed fact key (75% of
    lineitem rows collapse onto key 0) joined to a key-unique dim, then
    aggregated. Correctness never depends on the skew handling — the
    oracle is the plain join — but the shape is exactly what AQE's
    OptimizeSkewedJoin splits at scale, and tests/test_plans.py asserts the
    split actually happens (SortMergeJoin(skew=true)) under scoped confs.

    Two shape requirements, both discovered empirically and load-bearing:
    - the dim side must reach the join as a BARE shuffle (union of a
      filtered scan and a literal row, no distinct) — an aggregate between
      the Sort and the shuffle stage breaks OptimizeSkewedJoin's
      SMJ(Sort(stage), Sort(stage)) pattern and silently disables the rule;
    - the fact side is repartitioned first: AQE can only split a skewed
      reduce partition at MAP-output boundaries, and at test scale the
      whole fact is one parquet row group = ONE map task (unsplittable —
      the rule logs 'number of skewed partitions: 0'). A real fact table
      has thousands of maps; the repartition mimics that."""
    skew_key = F.when(F.col("l_orderkey") % 4 != 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    fact = lineitem.repartition(16).select(skew_key.alias("k"), "l_quantity")
    dim = (
        orders.filter((F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") > 0))
        .select(F.col("o_orderkey").alias("k"))
        .unionByName(
            lineitem.sparkSession.range(1).select(F.lit(0).cast("long").alias("k"))
        )
        .withColumn("tag", F.concat(F.lit("grp"), (F.col("k") % 3).cast("string")))
    )
    return (
        fact.join(dim, "k")
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


SALTED_JOIN_REP = 8


def rel_salted_join(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """The MANUAL hub-join mitigation, beside rel_skew_join_agg's AQE one:
    the same hub-skewed fact key (75% of lineitem rows collapse onto key 0)
    joined to the same key-unique dim, but the skew is handled by explicit
    salting — fact rows get a content-derived salt in [0, REP), the dim is
    replicated REP times, and the join runs on (k, salt), so the hub key's
    rows spread over REP reducers instead of landing on one.

    Why keep both: AQE skew splitting only fires when its plan-shape rules
    hold (see rel_skew_join_agg's two empirically-discovered constraints)
    and only at MAP-output granularity; salting works for any plan shape,
    any engine, and inside Structured Streaming where AQE does not apply.
    The cost is explicit: the dim side is shuffled/stored REP times, so REP
    trades reducer balance against dim duplication — at 100 TB you salt the
    handful of known-hub keys, not the whole table (here the whole table is
    salted because the demo dim is 25% of orders; the per-key variant is a
    broadcast [key -> n_salts] map in the salt expression).

    The salt is _row_salt (xxhash64 over every column of the RAW lineitem
    row, computed BEFORE the projection to (k, quantity)): content-derived
    so it survives repartitioning, and row-distinct at source granularity —
    hub rows tied on quantity still spread, because the salt sees the full
    row identity, not just the two projected columns. Correctness never
    depends on it — the oracle is the plain join + aggregate."""
    skew_key = F.when(F.col("l_orderkey") % 4 != 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    fact = lineitem.select(
        skew_key.alias("k"),
        "l_quantity",
        _row_salt(lineitem, SALTED_JOIN_REP).alias("_salt"),
    )
    dim = (
        orders.filter((F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") > 0))
        .select(F.col("o_orderkey").alias("k"))
        .unionByName(
            lineitem.sparkSession.range(1).select(F.lit(0).cast("long").alias("k"))
        )
        .withColumn("tag", F.concat(F.lit("grp"), (F.col("k") % 3).cast("string")))
        .withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i).cast("long") for i in range(SALTED_JOIN_REP)])),
        )
    )
    return (
        fact.join(dim, ["k", "_salt"])
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


BUCKETED_JOIN_BUCKETS = 8


def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join via BUCKETED tables — the third leg of
    the repo's shuffle-elimination story (broadcast for small dims, AQE/salt
    for skew, bucketing for big-x-big repeated joins). orders and customer
    are written once as bucketed+sorted tables on the join key; the join of
    the bucketed reads then needs NO Exchange on either side (plan-asserted
    in tests/test_plans.py): each bucket pair sort-merges locally. At 100 TB
    this is the layout you pay for once at ingest and amortize over every
    downstream join/aggregate on the key — the Spark-native analogue of the
    co-partitioned table layouts warehouse engines keep.

    Mechanics that make it actually exchange-free:
    - repartition(BUCKETS, key) BEFORE the write: bucketed writes assign
      rows to buckets with the same Murmur3 pmod hash repartition uses, so
      each task holds exactly one bucket and writes ONE file per bucket —
      the one-file-per-bucket layout that lets the sorted-bucket read skip
      the per-partition Sort too;
    - both sides bucketed to the SAME count (Spark only aligns equal bucket
      counts without an exchange);
    - the broadcast threshold is NOT scoped here: broadcast selection is an
      execution-time (AQE) decision, so the memoize-inside idiom cannot pin
      it — at fixture scale customer is broadcast-sized and AQE may take
      the (equally exchange-free) broadcast plan. The bucketed-SMJ shape is
      pinned in tests/test_plans.py with the hold-past-action idiom and
      BOTH broadcast thresholds (static + adaptive) held at -1.

    The tables are EXTERNAL (explicit path in tables.scratch_dir, the
    per-sf_dir temp directory the streaming and RML fixture queries use)
    so the query never depends on spark.sql.warehouse.dir; table names
    carry the same sf_dir tag, so calls against different sf_dirs are
    independent and a returned (lazy) DataFrame is never silently
    re-pointed at other data by a later call. mode('overwrite') onto the
    FIXED per-sf_dir path makes reruns idempotent and bounds the temp
    directory to one staged copy per sf_dir (an application-id-keyed path
    would leak a copy per Spark app). Like the
    repo's other scoped-resource ops this is not concurrent-safe across
    two simultaneous Spark applications sharing the path. The only
    Exchange in the whole plan is the final aggregate's.

    Oracle: the plain customer x orders join + aggregate."""
    base = scratch_dir(sf_dir, "bucketed")
    tag = os.path.basename(base)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    (
        orders.repartition(BUCKETED_JOIN_BUCKETS, "o_custkey")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(BUCKETED_JOIN_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{base}/orders")
        .saveAsTable(f"bj_orders_{tag}")
    )
    (
        customer.repartition(BUCKETED_JOIN_BUCKETS, "c_custkey")
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(BUCKETED_JOIN_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{base}/customer")
        .saveAsTable(f"bj_customer_{tag}")
    )
    bo = spark.table(f"bj_orders_{tag}")
    bc = spark.table(f"bj_customer_{tag}")
    return (
        bc.join(bo, bc["c_custkey"] == bo["o_custkey"])
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def events_asof_join(events: DataFrame) -> DataFrame:
    """For each purchase event, the most recent click by the same user at or
    before the purchase (attribution-style as-of join). Timestamps are
    rendered as strings and value rounded for engine portability."""
    pur = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clk = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(pur, clk, on="user_id", right_cols=["event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        F.col("right_event_id").alias("click_id"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def events_asof_join_bucketed(events: DataFrame) -> DataFrame:
    """events_asof_join through the hub-safe BUCKETED as-of join: identical
    semantics (property-tested output-equivalent, tests/test_ops_properties),
    so it shares events_asof_join's oracle — but the execution plan replaces
    the per-key full-history sort with per-(key, 6h-bucket) bounded sorts
    plus a cross-bucket carry over the per-key bucket list. This is the
    variant to reach for when single keys (bot users, null-ish default ids)
    accumulate more history than one partition should sort."""
    pur = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clk = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join_bucketed(
        pur, clk, on="user_id", right_cols=["event_id"], bucket_sec=21600
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        F.col("right_event_id").alias("click_id"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def bucketed_range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str = "ts",
    start: str = "start",
    end: str = "end",
    bucket_sec: int = 3600,
) -> DataFrame:
    """Point-in-interval range join as an EQUI-join: Spark plans a naive
    `ts BETWEEN start AND end` join as BroadcastNestedLoopJoin (fine only
    while the interval table broadcasts) or a cartesian — O(|L| x |I|). The
    scalable composition buckets time: explode each interval into the
    coarse buckets it covers (one row per covered bucket — cost proportional
    to interval length, not to |L|), equi-join on the bucket key (hash join,
    co-partitioned, AQE-skew-handled), then apply the exact containment
    filter. Overlapping intervals multi-match naturally. Pick bucket_sec
    near the typical interval length: too fine explodes the interval side,
    too coarse widens the per-bucket candidate set.

    Containment is HALF-OPEN [start, end) — the natural form for abutting
    time slots (a point on a boundary belongs to exactly one slot). It is
    not SQL's inclusive BETWEEN: a ported BETWEEN join would drop the rows
    with ts == end."""
    lb = left.withColumn(
        "__b", F.floor(F.col(left_ts).cast("long") / F.lit(bucket_sec))
    )
    ib = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(start).cast("long") / F.lit(bucket_sec)),
                F.floor(F.col(end).cast("long") / F.lit(bucket_sec)),
            )
        ),
    )
    return (
        lb.join(ib, "__b")
        .filter((F.col(left_ts) >= F.col(start)) & (F.col(left_ts) < F.col(end)))
        .drop("__b")
    )


RANGE_SLOTS = [(0, 7), (7, 13), (13, 22), (22, 24), (6, 14)]  # last one overlaps


def events_range_join(events: DataFrame) -> DataFrame:
    """Range-join contract query: each event matched to every deterministic
    daily interval containing it. The interval set partitions each day into
    four irregular slots PLUS one overlapping 6h–14h slot, so the join is
    genuinely non-equi (events in 6–14h match twice) — exactly what the
    bucket-explode equi-join composition must reproduce. All time arithmetic
    is integer epoch seconds so both engines compare identical numbers."""
    ev = events.select(
        "event_id", F.col("ts").cast("timestamp").cast("long").alias("ts_s")
    )
    days = events.select(F.to_date("ts").alias("d")).distinct()
    slots = F.array(
        *[
            F.struct(
                F.lit(s).alias("sh"), F.lit(e).alias("eh"), F.lit(str(i)).alias("slot")
            )
            for i, (s, e) in enumerate(RANGE_SLOTS)
        ]
    )
    day_s = F.col("d").cast("timestamp").cast("long")
    iv = days.select("d", F.explode(slots).alias("w")).select(
        F.concat(
            F.date_format("d", "yyyy-MM-dd"), F.lit("-"), F.col("w.slot")
        ).alias("interval_id"),
        (day_s + F.col("w.sh") * 3600).alias("start_s"),
        (day_s + F.col("w.eh") * 3600).alias("end_s"),
    )
    out = bucketed_range_join(
        ev, iv, left_ts="ts_s", start="start_s", end="end_s", bucket_sec=3600
    )
    return out.select("event_id", "interval_id")


def mention_counts_salted(docs: DataFrame) -> DataFrame:
    """Corpus-wide term counts via SALTED two-stage aggregation — the
    hub-key pattern: stage 1 aggregates on (salt, mention) so a hub term
    spreads over 16 reducers, stage 2 merges the 16 partials. Results are
    identical to a plain groupBy (the oracle IS the plain GROUP BY); the
    point is the shape — at web scale a handful of stopword-like terms
    would otherwise pin single reducers. AQE skew handling covers joins;
    salting is the aggregation-side equivalent, made explicit here."""
    from .kgops import eligible_tokens  # deferred: kgops -> textops -> relops

    toks = eligible_tokens(docs, "doc_id", "mention")
    salted = toks.withColumn("__salt", (F.crc32(F.col("doc_id").cast("string")) % 16))
    partial = salted.groupBy("__salt", "mention").agg(
        F.count(F.lit(1)).alias("c")
    )
    return partial.groupBy("mention").agg(F.sum("c").alias("n_occurrences"))


def events_moving_avg(events: DataFrame) -> DataFrame:
    """Per-user 3-event moving average of `value` (frame-based window
    aggregate — the rolling-feature pattern of a training-data pipeline).
    One shuffle on user_id with a per-user local sort; the frame (2
    preceding + current) is bounded, so state per row is O(frame), and a
    user's history never leaves its partition. Hub users are naturally
    bounded by per-user activity (the salting pattern is for unbounded hub
    KEYS; a per-entity time series is the partition unit here)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.avg("value").over(w), 6).alias("mavg_3"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


def top_k(df: DataFrame, by: list[str], order: list[Column], k: int) -> DataFrame:
    """Per-group top-k: rank each `by` group's rows by the `order` columns
    into a long `rk` and keep rk <= k. The tie-break goes into `order`;
    with a total order the output is exact. The filter sits directly on the
    row_number, so Spark plans a WindowGroupLimit below the shuffle (each
    task keeps at most k rows per group before the exchange), then one
    shuffle on the group keys and a bounded per-group sort. AQE splits
    skewed joins only, never a window partition, so a hot group still
    sorts on one reducer: salted_top_k_per_group below spreads it."""
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("long"))
    )


def _row_salt(df: DataFrame, n_salts: int):
    """Row-distinct salt expression: xxhash64 over every column. Exact
    duplicate rows share a slice (harmless — they are interchangeable in any
    top-k); everything else, including rows tied on the ranking value,
    spreads uniformly over n_salts slices."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_top_k_per_group(
    df: DataFrame, by: list[str], order: list[Column], k: int, n_salts: int = 16
) -> DataFrame:
    """Hub-safe top-k: stage 1 takes the top k within every (salt, group)
    slice — a hub group's rows spread over n_salts reducers, each sorting
    only its slice — stage 2 ranks the surviving k x n_salts candidates per
    group. Correct for any k and ANY row partition (a row beaten into rank
    > k within its own salt slice is beaten by k rows of its own group
    globally), so the salt is a hash of EVERY column — row-distinct, which
    keeps tied order values spreading across slices (salting on the order
    value would collapse the common hub case of thousands of rows sharing
    one score onto a single reducer). Same output as top_k when `order` is
    total per group; otherwise the winners among boundary-tied rows are
    arbitrary in BOTH, as for any top-k. Use when single groups are too
    hot for one reducer."""
    salted = df.withColumn("__salt", _row_salt(df, n_salts))
    partial = top_k(salted, [*by, "__salt"], order, k).drop("rk", "__salt")
    return top_k(partial, by, order, k)


def events_top_spenders(events: DataFrame) -> DataFrame:
    """Top-3 users by total value within each event type: aggregate first
    (hash agg with map-side partials), THEN rank the (small) per-type
    aggregate — the shuffled data is one row per (type, user), never the
    raw events."""
    per_user = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value")
    )
    ranked = top_k(
        per_user, ["event_type"], [F.desc("total_value"), F.asc("user_id")], k=3
    )
    return ranked.select("event_type", "user_id", "total_value", "rk")


def events_top_spenders_salted(events: DataFrame) -> DataFrame:
    """Hub-safe top-k over a PLANTED tie-heavy hub group: every non-purchase
    event collapses into one 'hot' group (most of the table) and the ranking
    score is the value floored to whole units, so thousands of hub rows tie
    on the same score — exactly the shape that lands on ONE reducer if the
    salt derives from the ranking value instead of the whole row
    (salted_top_k_per_group's row-distinct xxhash64 salt spreads it; the
    heavy-ties property test proves the spread). Ranks RAW events — k per
    salt slice, then k-of-k — with event_id as the tie-break, so output is
    deterministic and oracle-comparable despite the ties."""
    fact = events.select(
        F.when(F.col("event_type") == "purchase", F.col("event_type"))
        .otherwise(F.lit("hot"))
        .alias("grp"),
        "event_id",
        "user_id",
        F.floor("value").cast("long").alias("score"),
    )
    ranked = salted_top_k_per_group(
        fact, ["grp"], [F.desc("score"), F.desc("event_id")], k=5
    )
    return ranked.select("grp", "event_id", "user_id", "score", "rk")


def events_value_quantiles(events: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of value per event type. Spark's `percentile` is
    the EXACT aggregate (collects the group's values — fine for bounded
    groups; for unbounded cardinality swap in approx_percentile, which has
    no cross-engine oracle). Both engines interpolate identically on the
    sorted doubles, so rounded values hash-match."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


HIST_BINS = 10
HIST_WIDTH_CENTS = 5000  # 50.00-wide bins over value in [0, 500)


def events_value_histogram(events: DataFrame) -> DataFrame:
    """(event_type, bin, bin_lo, bin_hi, n_events, sum_value) — fixed-bin
    value histogram per event type, the UNBOUNDED-cardinality companion to
    events_value_quantiles: the exact percentile aggregate buffers each
    group's values (fine for bounded groups), while a fixed-bin histogram
    is ONE map-side-combinable hash aggregate over at most types x BINS
    keys — constant state per task at any corpus size, and mergeable
    across shards (cell-wise add), which is why monitoring pipelines ship
    histograms and derive approximate quantiles from them.

    Bin assignment runs on integer cents (the events_anomaly_zscore
    quantization: floor(value*100 + 0.5)) with integer division by the
    bin width — no float boundary anywhere, so a value landing exactly on
    a bin edge bins identically in both engines. The top bin is open
    (least(.., BINS-1)) so outliers never drop. sum_value recomposes from
    the exact integer cents sum."""
    ev = events.withColumn("cents", F.floor(F.col("value") * 100 + 0.5).cast("long"))
    # true integer division (Spark `div`, DuckDB `//`): never a float
    b = F.least(
        F.expr(f"cents div {HIST_WIDTH_CENTS}").cast("int"),
        F.lit(HIST_BINS - 1),
    )
    return (
        ev.groupBy("event_type", b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("cents") / 100.0, 2).alias("sum_value"),
        )
        .select(
            "event_type",
            "bin",
            (F.col("bin") * (HIST_WIDTH_CENTS / 100.0)).alias("bin_lo"),
            ((F.col("bin") + 1) * (HIST_WIDTH_CENTS / 100.0)).alias("bin_hi"),
            "n_events",
            "sum_value",
        )
    )


Z_THRESHOLD = 3.0


def events_anomaly_zscore(events: DataFrame) -> DataFrame:
    """(event_id, event_type, zscore) — per-type z-score outliers, the
    standard metric-anomaly sweep over an event stream.

    Cross-engine float determinism is engineered, not hoped for: values are
    quantized to integer cents ONCE (floor(value*100 + 0.5) — floor, not a
    bare long cast: Spark's double->long cast truncates toward zero while
    DuckDB's rounds, and for negative values truncation also diverges from
    floor), so the per-type moments are sums of exact integers; mean and variance are then a fixed chain of IEEE double ops
    ((ss - s*s/n)/n, written identically in the oracle), which both engines
    evaluate bit-identically regardless of row order. sum(cents^2) stays
    within int64 up to ~10^9 rows at this value range; beyond that the same
    shape runs on DECIMAL(38,0) partials.

    Plan: ONE map-side-combinable hash aggregate for the 5-row stats table,
    broadcast back onto the scan — the second pass is a broadcast hash join
    fused into codegen, so at 100 TB the op costs one shuffle of partial
    aggregates plus one full scan, never a window sort over the corpus."""
    ev = events.withColumn("cents", F.floor(F.col("value") * 100 + 0.5).cast("long"))
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("double").alias("ss"),
    )
    joined = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        (
            (F.col("cents") - F.col("s") / F.col("n"))
            / F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n"))
        ).alias("z"),
    )
    return joined.filter(F.abs(F.col("z")) >= Z_THRESHOLD).select(
        "event_id", "event_type", F.round("z", 3).alias("zscore")
    )


def events_rollup(events: DataFrame) -> DataFrame:
    """Hierarchical totals in ONE pass: ROLLUP(event_type, hour_of_day)
    computes per-(type, hour), per-type, and grand totals without
    re-scanning — Spark expands the grouping sets inside a single shuffle
    with map-side partials, which at 100 TB replaces three separate
    aggregation jobs. ANSI ROLLUP marks subtotal rows with NULL group keys;
    the output coalesces them to 'ALL'/-1 sentinels (no real type is 'ALL',
    no real hour is -1) so every engine and comparison harness totals-orders
    them identically."""
    ev = events.withColumn("hour_of_day", F.hour("ts").cast("long"))
    out = ev.rollup("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return out.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce("hour_of_day", F.lit(-1)).alias("hour_of_day"),
        "n_events",
        "sum_value",
    )


PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_pivot(events: DataFrame) -> DataFrame:
    """Long->wide pivot: per-user spend split into one column per event
    type. The value list is EXPLICIT — with it, pivot is a single
    shuffle-and-aggregate (conditional aggregation per column); without it,
    Spark first runs a distinct-values job over the corpus. Always pass the
    list at scale."""
    out = (
        events.groupBy("user_id")
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )
    return out


def events_unpivot_roundtrip(events: DataFrame) -> DataFrame:
    """Wide->long unpivot of the pivot result, proving the pivot/unpivot
    pair LOSSLESS in-band (the kg_apply_delta pattern): the query returns
    unpivot(pivot(events)) while the oracle materializes the direct
    (user_id, event_type) aggregate — value equality certifies the round
    trip. Uses the native DataFrame.unpivot (a zero-shuffle projection:
    each wide row expands to |types| long rows in the same task); NULL
    cells — types a user never produced, created by the pivot, absent from
    the direct aggregate — are dropped, which is the lossless inverse."""
    wide = events_pivot(events)
    return wide.unpivot(
        ids=["user_id"],
        values=PIVOT_TYPES,
        variableColumnName="event_type",
        valueColumnName="total_value",
    ).filter(F.col("total_value").isNotNull())


def events_cube(events: DataFrame) -> DataFrame:
    """CUBE(event_type, hour_of_day): all four grouping sets — per-(type,
    hour), per-type, per-hour, grand total — in ONE shuffle with map-side
    partials, completing the grouping-sets family next to events_rollup's
    hierarchy (rollup omits the per-hour slice; cube is the full lattice,
    2^n sets, which is why the dimension count stays small at scale). Same
    sentinel discipline as the rollup: subtotal NULLs coalesced to
    'ALL'/-1 so both engines order and hash identically."""
    ev = events.withColumn("hour_of_day", F.hour("ts").cast("long"))
    out = ev.cube("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return out.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce("hour_of_day", F.lit(-1)).alias("hour_of_day"),
        "n_events",
        "sum_value",
    )


def events_hourly_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type: count + sum(value). The batch twin
    of the streaming variant in streaming/ (same grouping expression)."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


HOP_WINDOW = "2 hours"
HOP_SLIDE = "1 hour"


def events_hopping_agg(events: DataFrame) -> DataFrame:
    """Hopping (sliding) 2h-window-every-1h aggregate per event_type — the
    overlapping-window rollup (each event lands in exactly
    window/slide = 2 windows). Expressed with F.window's slideDuration:
    Catalyst expands it to a per-row window-list generator + explode feeding
    ONE map-side-combinable hash aggregate — the overlap multiplies rows by
    a constant 2x at the generator, never by re-scanning, and no sort or
    window function is involved (same aggregate shape as the tumbling
    `events_hourly_agg`, which this extends). Epoch-aligned window starts,
    UTC session — the oracle reproduces the alignment arithmetic exactly."""
    return (
        events.groupBy(F.window("ts", HOP_WINDOW, HOP_SLIDE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization (30 min): per (user, session) event count and
    span. One window over (user_id, ts) — the declarative form of a stateful
    session operator; scales as a single shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; session tz is UTC
    # so the epoch-seconds detour is exact
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = (
        events.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def tpch_q1_pricing(lineitem: DataFrame) -> DataFrame:
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def tpch_q3_shipping(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Join-heavy anchor: customer x orders x lineitem, top 10 revenue.
    customer is small -> broadcast; the big join shuffles on orderkey."""
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def tpch_q5_local_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join anchor — revenue
    per ASIA nation for 1996 orders where the supplier and customer share a
    nation. The join-ordering showcase:

    - orders is date-filtered AT THE SCAN (PushedFilters on o_orderdate),
      then the fact chain lineitem><orders><customer shuffles on its natural
      keys (orderkey, then custkey) — the two genuinely big joins.
    - supplier joins on (l_suppkey AND s_nationkey = c_nationkey): the
      locality predicate rides the equi-join instead of a post-filter, so
      the join emits only local-supplier rows.
    - nation><region(ASIA) collapses to a 5-row dim broadcast BEFORE
      touching the fact chain: region pruning cuts the fact rows 5x ahead
      of the aggregate. customer/supplier are NOT hard-broadcast (they grow
      with SF); AQE downgrades those shuffles to broadcast when small.
    """
    orders = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    reg = region.filter(F.col("r_name") == "ASIA")
    asia_nat = nation.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(asia_nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


FUNNEL_WINDOW_HOURS = 24


def events_funnel(events: DataFrame) -> DataFrame:
    """Sequential conversion funnel (view -> click -> purchase) per user,
    ClickHouse-windowFunnel semantics: the earliest view anchors a
    FUNNEL_WINDOW_HOURS window; the step timestamps are the earliest click
    STRICTLY after the view and the earliest purchase STRICTLY after that
    click, both inside the anchored window. Output: one row per user with
    funnel_level 0-3 and the (second-truncated, cross-engine-stable) step
    times.

    Shape over 10^12 events: three predicate-filtered conditional-min hash
    aggregates, each keyed on user_id — partial aggregation collapses a
    user's events map-side, every join is user_id = user_id so all stages
    co-partition on one key (AQE reuses the exchange), and nothing sorts.
    The collect-a-user's-history-and-fold alternative (collect_list +
    array_sort per user) is deliberately avoided: it is ObjectHashAggregate
    with per-user O(history) buffers — the shape that falls over on hub
    users, where conditional min() never does."""
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")

    users = events.select("user_id").distinct()
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + win))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_view") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        users.join(v, "user_id", "left")
        .join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_level"),
            F.date_format("t_view", fmt).alias("t_view"),
            F.date_format("t_click", fmt).alias("t_click"),
            F.date_format("t_purchase", fmt).alias("t_purchase"),
        )
    )


def events_retention_cohorts(events: DataFrame) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity day, counted
    on each subsequent active day — (cohort_day, day_offset, n_active). The
    standard product-analytics rollup, at the scale where it matters (one
    pass over all events, not a per-cohort query loop).

    Shape over 10^12 events: per-user first-day is a min() hash agg on
    user_id; per-(user, day) activity is a distinct on the SAME key prefix,
    so the join back is co-partitioned and AQE reuses the exchange; the
    final (cohort, offset) aggregate is small (days x days). count(*) on the
    (user, day)-distinct rows IS the distinct-user count — no second
    count(DISTINCT) pass."""
    first = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    act = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        act.join(first, "user_id")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
