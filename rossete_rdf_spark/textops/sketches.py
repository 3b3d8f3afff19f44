"""Sketch-based corpus statistics: fixed-memory answers to "how many
distinct?" and "how often?" questions that are exact-aggregation killers at
100 TB.

  sketch_distinct_kmv  KMV (k-minimum-values) distinct-token estimate next to
                       the exact count it approximates
  heavy_hitters_cms    count-min-sketch frequency estimates for the corpus's
                       top tokens next to their exact counts

Both use the repo's portable 60-bit md5-prefix hash (textops.lsh.hash60 and
its seeded minhash64) so the DuckDB oracles replay the sketch arithmetic bit-for-bit —
deliberately NOT Spark's approx_count_distinct / datasketches, whose register
layouts can't be reproduced in another engine. The point of each query is the
sketch pipeline SHAPE (what shuffles, what stays fixed-size) plus an in-band
accuracy report against the exact answer.

Scale shapes (the 100 TB story):
- KMV: the candidate set for "k smallest hashes" is per-partition top-k
  (Spark compiles orderBy(h).limit(k) to TakeOrderedAndProject: each task
  keeps a k-element bounded heap, the driver merges P*k values) — no global
  sort, no full shuffle of the distinct set. The distinct() it runs over IS
  a shuffle, kept here so the exact twin shares the stage; a pure-estimate
  deployment replaces it with a per-partition pre-dedup (the heap ignores
  duplicates) and drops the exact branch entirely.
- CMS: the sketch is groupBy(row, bucket) over DEPTH*WIDTH keys — bounded
  reducer cardinality regardless of corpus size, perfectly map-side
  combinable, and the natural mergeable-state shape (sketches from two
  corpus shards add cell-wise). Estimates come from joining a broadcast
  candidate list against the tiny sketch table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .common import pos_grams, words_col
from .lsh import hash60, minhash64

# 2^60: the md5-prefix hash is 15 hex digits, uniform on [0, 2^60).
HASH_SPACE = float(1 << 60)

KMV_K = 256
KMV_NGRAM = 3  # KMV runs on 3-gram shingles: the corpus vocabulary is tiny
# (synthetic docs draw from ~31 words) but the shingle space is ~10^4+, so
# the shingle count is the realistic "how many distinct?" target

CMS_DEPTH = 3
CMS_WIDTH = 1024
CMS_TOP = 20

HLL_P = 9  # 2^9 = 512 registers; std err ~ 1.04/sqrt(512) = 4.6%
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P  # 51-bit register word -> rho in [1, 52]
# alpha_m * m^2 * 2^52 precomputed in Python and embedded as the SAME
# literal in both engines (the estimator numerator is a constant)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << 52)


def sketch_distinct_kmv(docs: DataFrame) -> DataFrame:
    """One row: (k, kth_min_hash, est_distinct, exact_distinct, rel_err_pct)
    — the KMV estimate of the corpus's distinct 3-gram-shingle count, with
    the exact count beside it as the in-band accuracy report.

    KMV (Bar-Yossef et al. 2002): hash every distinct value uniformly into
    [0, 2^60); if the heap of the k smallest hashes is full, the distinct
    count is about (k-1) * 2^60 / h_k where h_k is the heap max. If the
    heap is NOT full the sketch has seen every value and the heap size IS
    the answer (the classic small-cardinality branch). The estimate is a
    pure function of a k-element bounded heap, so at 10^12 shingles the
    state is 256 longs per task.

    Determinism: both engines convert h_k to double (IEEE nearest-even) and
    evaluate floor((k-1) * 2^60 / h_k) in the same operation order, so the
    estimate is bit-identical. The estimator runs over distinct HASHES (not
    distinct shingles) so a 60-bit collision shifts both engines equally.
    """
    staged = docs.select(words_col(F.col("text")).alias("_ws"))
    h = (
        staged.select(F.explode(pos_grams(F.col("_ws"), KMV_NGRAM)).alias("g"))
        .select(hash60(F.col("g")).alias("h"))
        .distinct()
    )
    # TakeOrderedAndProject: per-partition k-min heap, driver merge — no sort.
    kth = (
        h.orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("kth_min_hash"), F.count(F.lit(1)).alias("_n_heap"))
    )
    exact = h.agg(F.count(F.lit(1)).alias("exact_distinct"))
    est = F.when(F.col("_n_heap") < KMV_K, F.col("_n_heap")).otherwise(
        F.floor(
            F.lit(float(KMV_K - 1))
            * F.lit(HASH_SPACE)
            / F.col("kth_min_hash").cast("double")
        ).cast("long")
    )
    return (
        kth.crossJoin(exact)
        .select(
            F.lit(KMV_K).cast("int").alias("k"),
            "kth_min_hash",
            est.alias("est_distinct"),
            "exact_distinct",
        )
        .withColumn(
            "rel_err_pct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct").cast("double")
                * 100.0,
                2,
            ),
        )
    )


def sketch_distinct_hll(docs: DataFrame) -> DataFrame:
    """One row: (m, n_zero_registers, est_distinct, exact_distinct,
    rel_err_pct) — the HyperLogLog estimate of the corpus's distinct
    3-gram-shingle count next to its exact twin. Completes the sketch
    family: KMV is the bounded-HEAP estimator, HLL is the bounded-REGISTER
    one — m fixed registers that merge cell-wise max across corpus shards
    (the same mergeable-state shape as the CMS cells), which is why HLL is
    what production engines actually ship for 10^12-row distinct counts.

    Flajolet et al. 2007: split the 60-bit hash into a register index
    (top HLL_P bits) and a 51-bit word w; the register keeps the max over
    rho(w) = leading-zeros(w)+1; E = alpha_m * m^2 / sum_j 2^(-M_j), with
    the small-range linear-counting branch E <= 2.5m & V>0 -> m*ln(m/V).

    Deliberately NOT approx_count_distinct: Spark's HLL++ register layout
    can't be replayed in another engine. Determinism engineering:
    - rho via string length of bin(w) (minimal binary form in BOTH engines;
      verified bin(5)='101' on each) — no float log2 anywhere;
    - the register sum sum_j 2^(-M_j) is scaled by 2^52 into INTEGER terms
      shiftleft(1, 52-M_j) and summed as BIGINT: exact and order-independent
      (a raw double sum over 512 registers would be shuffle-order-dependent);
      never-hit registers contribute 2^52 each, added in closed form;
    - the one float division A / Z and the ln() in the linear-counting
      branch are single IEEE ops on identical inputs; the final 4-dp round
      absorbs libm ln() ulp (the unigram_logprob convention).
    """
    staged = docs.select(words_col(F.col("text")).alias("_ws"))
    h = (
        staged.select(F.explode(pos_grams(F.col("_ws"), KMV_NGRAM)).alias("g"))
        .select(hash60(F.col("g")).alias("h"))
        .distinct()
    )
    w = F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        h.select(F.shiftright(F.col("h"), HLL_W_BITS).alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("mj"))
    )
    summary = regs.agg(
        F.count(F.lit(1)).alias("_n_present"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 52 - mj)")).alias("_z_present"),
    )
    exact = h.agg(F.count(F.lit(1)).alias("exact_distinct"))
    v = F.lit(HLL_M) - F.col("_n_present")  # never-hit registers
    z_int = F.col("_z_present") + v.cast("long") * F.lit(1 << 52)
    est_raw = F.lit(HLL_NUMER) / z_int.cast("double")
    est = F.when(
        (est_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(est_raw)
    return (
        summary.crossJoin(exact)
        .select(
            F.lit(HLL_M).cast("int").alias("m"),
            v.cast("long").alias("n_zero_registers"),
            F.round(est, 4).alias("est_distinct"),
            "exact_distinct",
        )
        .withColumn(
            "rel_err_pct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct").cast("double")
                * 100.0,
                2,
            ),
        )
    )


def _cms_bucket(tok, row: int) -> F.Column:
    """Row-`row` CMS bucket of a token: seeded 60-bit hash mod WIDTH (the
    shared md5-prefix recipe — minhash64 — so the hash convention lives in
    one place)."""
    return minhash64(tok, f"cms{row}") % CMS_WIDTH


def heavy_hitters_cms(docs: DataFrame) -> DataFrame:
    """(token, exact_count, cms_estimate) for the corpus's CMS_TOP most
    frequent tokens — count-min-sketch (Cormode & Muthukrishnan 2005)
    point-query estimates next to the exact counts they upper-bound.

    Build: ONE tokenization feeds an exact (token, cnt) aggregate; the
    sketch is then a second, DEPTH*WIDTH-bounded aggregate over that
    compressed table (never over raw token occurrences — the heavy lifting
    happens once, map-side combined, on the (token, cnt) rows). Each token
    lands in one bucket per row; a cell is the sum of counts hashed into it;
    the estimate for a token is the MIN over its DEPTH cells (collisions
    only inflate, so CMS estimates are >= exact — the oracle checks the
    exact inequality too, it falls out of value equality).

    The candidate list (top CMS_TOP by count, ties broken by token) comes
    from the same exact aggregate via TakeOrderedAndProject; estimates are a
    broadcast join of DEPTH*CMS_TOP probe rows against the <= DEPTH*WIDTH
    sketch cells. At 100 TB the exact aggregate is the expensive branch;
    a sketch-only deployment keeps just the two bounded aggregates.

    Counts 3-gram shingles, not tokens: ~10^4+ distinct shingles into
    DEPTH*WIDTH cells actually collides (the corpus vocabulary is ~31
    words, which would make token-level CMS exact and the min-over-rows
    vacuous)."""
    staged = docs.select(words_col(F.col("text")).alias("_ws"))
    tc = (
        staged.select(F.explode(pos_grams(F.col("_ws"), KMV_NGRAM)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    # sketch cells: (row, bucket) -> sum of counts; <= DEPTH*WIDTH rows
    cells = (
        tc.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).cast("int").alias("r"),
                            _cms_bucket(F.col("tok"), r).alias("b"),
                            F.col("exact_count").alias("c"),
                        )
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.sum("cell.c").alias("cell_sum"))
    )
    cands = tc.orderBy(F.desc("exact_count"), F.asc("tok")).limit(CMS_TOP)
    probes = cands.select(
        "tok",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _cms_bucket(F.col("tok"), r).alias("b"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("tok", "exact_count", F.col("p.r").alias("r"), F.col("p.b").alias("b"))
    return (
        F.broadcast(probes)
        .join(cells, ["r", "b"])
        .groupBy(F.col("tok").alias("token"), "exact_count")
        .agg(F.min("cell_sum").alias("cms_estimate"))
    )
