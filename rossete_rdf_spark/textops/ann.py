"""Similarity search over an embedding column (array<float>).

ann_cosine_topk      brute-force cosine top-k — the exactness baseline
ann_lsh_bucket_topk  sign-bucketed variant — candidates are co-partitioned
                     by bucket key so the join touches only same-bucket rows
                     (recall is traded for a #buckets-fold cost cut)
ann_ivf_topk         IVF: search the query's own inverted list, centroids =
                     the first vectors
ann_ivf_kmeans_topk  ann_ivf_topk with Lloyd-trained centroids
ann_ivf_nprobe_topk  IVF probing the query's IVF_NPROBE nearest lists
ann_sq8_topk         int8 scalar-quantized dot product, exact cosine beside
ann_pq_adc_topk      product-quantization ADC score, exact cosine beside
ann_pq_rerank_topk   ADC shortlist re-ranked by the exact cosine

The five float-cosine searches share one skeleton (_cosine_topk): broadcast
the queries, join the candidates (on a block key, or all of them), drop the
self-pair, round the cosine to 6 dp, and take relops.top_k per query.

All arithmetic is element-wise double (cast from float before multiply) and
sequential summation via F.aggregate, so the DuckDB oracle — same casts, same
fold order — reproduces values bitwise; ranking uses the rounded score plus
an id tie-break to stay engine-independent.

No UDFs: zip/fold on arrays stays inside codegen. For 100 TB the brute-force
variant is a broadcast of the (small) query set against the candidate scan;
the blocked variants turn that into a block-key equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..relops import top_k

N_QUERIES = 10  # the queries are the vectors with vec_id < N_QUERIES
TOP_K = 5
BLOCKED_TOP_K = 3  # k of the blocked searches (sign bucket, IVF lists)
BUCKET_DIMS = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sides(df: DataFrame, *keys: str):
    """(queries, candidates): (query_id, qv, *keys) for the first N_QUERIES
    vec_ids and (cand_id, cv, *keys) for every row."""
    c = df.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), *keys
    )
    q = c.filter(F.col("cand_id") < N_QUERIES).select(
        F.col("cand_id").alias("query_id"), F.col("cv").alias("qv"), *keys
    )
    return q, c


def _cosine_topk(
    q: DataFrame, c: DataFrame, k: int, on: str | None = None
) -> DataFrame:
    """(query_id, cand_id, sim, rk): the k best candidates per query by the
    6-dp cosine, cand_id breaking ties. The query side is tiny and
    broadcast; with `on` it equi-joins the candidates on that block key,
    without it the candidate scan is one pass and the self-pair filter is
    the nested-loop join condition. No shuffle until the per-query top-k."""
    not_self = F.col("query_id") != F.col("cand_id")
    if on is None:
        pairs = F.broadcast(q).join(c, not_self)
    else:
        pairs = F.broadcast(q).join(c, on).filter(not_self)
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(cosine_col(F.col("qv"), F.col("cv")), 6).alias("sim"),
    )
    return top_k(scored, ["query_id"], [F.desc("sim"), F.asc("cand_id")], k)


def ann_cosine_topk(emb: DataFrame) -> DataFrame:
    """Top-TOP_K cosine neighbors of the first N_QUERIES vectors (query_id,
    cand_id, sim, rk) against every other vector."""
    return _cosine_topk(*_sides(emb), TOP_K)


def bucket_col(vec):
    """Axis-aligned sign bucket: '1' per non-negative leading dim, over the
    first BUCKET_DIMS dims."""
    return F.concat(
        *[
            F.when(F.element_at(vec, i + 1) >= 0, "1").otherwise("0")
            for i in range(BUCKET_DIMS)
        ]
    )


EMB_NEARDUP_THRESHOLD = 0.25


def embedding_neardup_pairs(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos) — the
    embedding tier of the dedup family: sign-bucket LSH blocks candidates
    (same co-partitioned equi-join as ann_lsh_bucket_topk, never all-pairs),
    exact cosine verifies. On a real near-dup corpus the bar is ~0.9; the
    synthetic embeddings have no true duplicates (max same-bucket cos ≈ 0.43),
    so EMB_NEARDUP_THRESHOLD is low enough to produce checkable rows."""
    withb = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        bucket_col(F.col("embedding")).alias("bucket"),
    )
    a = withb.alias("a")
    b = withb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine_col(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= EMB_NEARDUP_THRESHOLD)
    )


def ann_lsh_bucket_topk(emb: DataFrame) -> DataFrame:
    """Top-BLOCKED_TOP_K cosine neighbors restricted to the query's sign
    bucket."""
    withb = emb.select(
        "vec_id", "embedding", bucket_col(F.col("embedding")).alias("bucket")
    )
    return _cosine_topk(*_sides(withb, "bucket"), BLOCKED_TOP_K, on="bucket")


N_CENTROIDS = 16
IVF_NPROBE = 2


def _ivf_assign(emb: DataFrame, cent: DataFrame | None = None):
    """(scored_cent, assigned): per-vector centroid scores and the nearest-
    centroid assignment, keyed by vec_id with the vector as embedding.
    Default centroids are the first N_CENTROIDS vectors
    — deterministic so the DuckDB oracle reproduces the assignment
    bit-for-bit; pass `cent` (cent_id, cv) to plug in trained centroids
    (_kmeans_centroids) through the identical broadcast + max_by plan."""
    if cent is None:
        cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
        )
    scored_cent = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            cosine_col(F.col("embedding"), F.col("cv")).alias("s"),
        )
    )
    # nearest centroid, ties to the smaller cent_id (max over (s, -cent_id))
    assigned = scored_cent.groupBy("vec_id").agg(
        F.max_by(
            F.col("cent_id"), F.struct(F.col("s"), (-F.col("cent_id")).alias("nc"))
        ).alias("cluster"),
        F.first("embedding").alias("embedding"),
    )
    return scored_cent, assigned


def _own_list_topk(emb: DataFrame, cent: DataFrame | None = None) -> DataFrame:
    """Search each query's own inverted list (nprobe=1) under the given
    centroid table (default: the first N_CENTROIDS vectors)."""
    _scored, assigned = _ivf_assign(emb, cent=cent)
    return _cosine_topk(*_sides(assigned, "cluster"), BLOCKED_TOP_K, on="cluster")


def ann_ivf_topk(emb: DataFrame) -> DataFrame:
    """IVF-style ANN: partition vectors into inverted lists by nearest
    centroid, then search only the query's own list (nprobe=1).

    Centroids here are the first N_CENTROIDS vectors — deterministic so the
    DuckDB oracle can reproduce the assignment bit-for-bit; a production run
    would plug k-means centroids into the same two-stage plan. Scale shape:
    assignment is a broadcast (tiny centroid table) + one max_by hash
    aggregation per vector — no sort, no all-pairs; search is an equi-join
    co-partitioned on the list id, cost ~ 1/N_CENTROIDS of brute force."""
    return _own_list_topk(emb)


KMEANS_ITERS = 2


def _kmeans_centroids(emb: DataFrame) -> DataFrame:
    """(cent_id, cv) after KMEANS_ITERS Lloyd iterations: assign every vector to
    its nearest (cosine) centroid — broadcast centroids + one max_by hash
    aggregate, the same plan as _ivf_assign — then recompute each centroid as
    the element-wise mean of its members. Init = first N_CENTROIDS vectors;
    iteration count FIXED, not convergence-tested, so the DuckDB oracle can
    replay the trajectory.

    Determinism anchor: the mean is computed as a sequential fold over the
    member values SORTED BY VECTOR ID, then rounded to 6 dp — double
    summation is order-dependent, and a plain avg() lets each engine (and
    each Spark run) pick its own partial-aggregation order. At 100 TB you
    would use plain avg() (map-side-combinable hash agg; the collect_list
    per (cluster, dim) here is bounded by cluster size) and drop the
    bitwise-replay requirement — the sorted fold is the oracle anchor, not
    the scale path."""
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("cv"),
    )
    for _ in range(KMEANS_ITERS):
        _scored, assigned = _ivf_assign(emb, cent=cent)
        memb = assigned.select(
            "vec_id", "cluster", F.posexplode("embedding").alias("pos", "x")
        )
        comp = memb.groupBy("cluster", "pos").agg(
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("vec_id"),
                                F.col("x").cast("double").alias("x"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        cent = (
            comp.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(F.col("cluster").alias("cent_id"), "cv")
        )
    return cent


def ann_ivf_kmeans_topk(emb: DataFrame) -> DataFrame:
    """ann_ivf_topk with TRAINED centroids: KMEANS_ITERS Lloyd iterations refine
    the first-N init before the inverted lists are built — closing the gap
    between the deterministic-centroid demo and a production IVF index. The
    search plan is identical (broadcast centroids, max_by assignment, list
    equi-join); only the centroid table changes."""
    return _own_list_topk(emb, cent=_kmeans_centroids(emb))


def ann_ivf_nprobe_topk(emb: DataFrame) -> DataFrame:
    """IVF ANN with multi-list probing: each query searches its IVF_NPROBE
    nearest inverted lists instead of only its own (the standard IVF recall
    knob — candidates near a cell boundary live in a neighboring list).

    Same scale shape as ann_ivf_topk, with the probe table IVF_NPROBE rows
    per query: still a broadcast (queries x IVF_NPROBE is tiny) into the co-
    partitioned list equi-join, cost ~ IVF_NPROBE/N_CENTROIDS of brute force.
    Candidates belong to exactly one list, so probing several lists unions
    disjoint candidate sets — no dedup needed before the top-k."""
    scored_cent, assigned = _ivf_assign(emb)
    probes = top_k(
        scored_cent.filter(F.col("vec_id") < N_QUERIES),
        ["vec_id"],
        [F.desc("s"), F.asc("cent_id")],
        IVF_NPROBE,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("cent_id").alias("cluster"),
    )
    _q, c = _sides(assigned, "cluster")
    return _cosine_topk(probes, c, BLOCKED_TOP_K, on="cluster")


# --- scalar quantization (int8-style) ----------------------------------------

SQ_SCALE = 127  # symmetric codes in [-127, 127] — the int8 memory tier


def ann_sq8_topk(emb: DataFrame) -> DataFrame:
    """Top-TOP_K by INT8-quantized dot product, with the exact cosine of every
    returned pair beside it as the in-band accuracy report — the scalar-
    quantization memory tier of the ANN family (4x smaller vectors than
    float32, integer SIMD distance kernels; the standard first compression
    step before IVF/PQ at 10^9+ vectors).

    Quantization is SYMMETRIC around zero on the L2-NORMALIZED vector
    (code_i = floor(x_i/||x|| * 127 + 0.5), codes in [-127, 127]) — the
    correct scheme for a cosine metric: the integer dot product is then
    ~127^2 * cosine, so ranking survives quantization (an affine [0,255]
    shift of the RAW vector would bury the signal under the shift term and
    the norm variance — measured recall 0.06 vs >=0.9 for this scheme).
    No calibration pass is needed: the scale is per-vector (its own norm),
    computed in one staged projection (the norm fold is materialized as a
    column BEFORE the per-element lambda references it — the tokenize-once
    rule; it is multiply referenced, so CollapseProject keeps the
    boundary).

    The score is a PURE INTEGER dot product — the same zip_with/aggregate
    fold as the float path but exact, so ranking (score_q8 DESC, cand_id)
    carries zero float-tie risk in any engine. sim_exact rides along on
    the picked pairs only. Same broadcast-queries x candidate-scan shape
    as ann_cosine_topk; the int8 candidate table is what a real deployment
    persists."""
    staged = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    zero = F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long"))
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") / F.col("nrm") * float(SQ_SCALE) + 0.5
        ).cast("long"),
    )
    coded = staged.select(
        "vec_id",
        "embedding",
        F.when(F.col("nrm") > 0, quant).otherwise(zero).alias("codes"),
    )
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("codes").alias("qc"),
    )
    c = coded.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("codes").alias("cc"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.aggregate(
                F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("score_q8"),
            F.round(cosine_col(F.col("qv"), F.col("cv")), 6).alias("sim_exact"),
        )
    )
    return top_k(
        scored, ["query_id"], [F.desc("score_q8"), F.asc("cand_id")], TOP_K
    )


# --- product quantization (ADC) ----------------------------------------------

PQ_M = 32  # subspaces
PQ_DSUB = 2  # dims per subspace (PQ_M * PQ_DSUB = embedding dim)
PQ_CODES = 64  # codewords per subspace; codebook = subvectors of vec_id < 64
# Shape chosen by a recall sweep on these (isotropic, clusterless — PQ's
# hard case) synthetic embeddings: finer subspaces beat bigger codebooks
# (8x8/16 codes -> 0.28 recall; 8x8/128 -> 0.40; 16x4/64 -> 0.56;
# 32x2/64 -> 0.76 at ~10.7x compression, 192 bits vs 2048).


def _pq_subvec(vec, m: int):
    return F.slice(vec, m * PQ_DSUB + 1, PQ_DSUB)


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(m, cid, sv): the sampled codebook — subvectors of the first PQ_CODES
    vectors (sampling is the standard codebook init; a trained variant would
    run the ann_ivf_kmeans Lloyd per subspace on top of exactly this table).
    PQ_M * PQ_CODES rows total — broadcast everywhere it is used."""
    return emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("cid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("int").alias("m"),
                        _pq_subvec(F.col("embedding"), m).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select(F.col("e.m").alias("m"), "cid", F.col("e.sv").alias("sv"))


def _sq_l2(a, b):
    """Squared L2 between two PQ_DSUB-dim subvectors, unrolled to scalar
    expressions in index order. Bit-identical to the previous
    zip_with/aggregate fold: the addition chain starts from the same 0.0
    literal and accumulates in ascending index order, so every intermediate
    double is the same. Unrolled because higher-order array functions
    evaluate interpreted per element — this is the hottest expression in the
    PQ path (corpus x PQ_M x PQ_CODES rows), and unrolling keeps it in
    whole-stage codegen (guide §4.1: built-in scalar exprs over opaque
    per-element lambdas in the hot path; measured ~3.5s -> ~0.9s on the
    dists stage at sf0.1)."""
    out = F.lit(0.0)
    for i in range(1, PQ_DSUB + 1):
        d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast("double")
        out = out + d * d
    return out


def _pq_scored(emb: DataFrame) -> DataFrame:
    """(query_id, cand_id, score_pq, sim_exact) — the shared PQ/ADC scored
    stage behind ann_pq_adc_topk and ann_pq_rerank_topk.

    Product-Quantization ADC (asymmetric distance computation)
    inner product, exact cosine beside it — the compression end-game of the
    ANN family: vectors stored as PQ_M small integer codes (~10.7x smaller
    than float32 at this shape), queries scored WITHOUT decompression
    through a per-query lookup table.

    The three classic PQ stages, each in its Spark-native shape:
    - ENCODE: vectors explode into PQ_M subvectors, nearest codeword per
      subspace via a broadcast join against the (tiny) codebook + one
      argmin; codes fold back into an index-ordered byte array per vector.
      This is the table a deployment persists — the corpus-sized side.
    - LUT: dot(query_subvector, codeword) for every (query, m, cid) —
      N_QUERIES x PQ_M x PQ_CODES rows, folded into one flat array per
      query ordered by (m, cid). Broadcast: ADC's whole point is that the
      expensive float math is query-side-only and codebook-sized.
    - SCORE: one broadcast join of the LUT rows onto the code table; the
      score is a FIXED-ORDER fold over the code array (element m looks up
      lut[m*PQ_CODES + code]) — deterministic double summation (ascending
      m), the same sorted-fold determinism anchor as the kmeans mean, so
      the oracle replays it bitwise. No shuffle touches the corpus side
      except the final per-query top-k window over scored rows.

    Determinism note: argmin ties (equal squared distances) break on cid;
    distances are same-order double folds in both engines, so the ranking
    — and therefore the codes — are bit-identical.

    Like ann_sq8_topk, PQ runs on the L2-NORMALIZED vectors: ADC
    approximates the INNER PRODUCT, and only on unit vectors is that the
    cosine the exactness baseline ranks by (un-normalized, norm variance
    drowns the angle signal — normalization is a precondition; the shape sweep above moved recall 0.28 -> 0.76).
    The norm is staged multiply-referenced so CollapseProject keeps the
    projection boundary (tokenize-once rule)."""
    nrm_src = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    unit = F.transform(
        F.col("embedding"), lambda x: x.cast("double") / F.col("nrm")
    )
    zeros = F.transform(F.col("embedding"), lambda x: F.lit(0.0))
    emb = nrm_src.select(
        "vec_id", F.when(F.col("nrm") > 0, unit).otherwise(zeros).alias("embedding")
    )
    cb = _pq_codebook(emb)

    # ENCODE the corpus: nearest codeword per (vector, subspace)
    sub = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("int").alias("m"),
                        _pq_subvec(F.col("embedding"), m).alias("xv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select("cand_id", F.col("e.m").alias("m"), F.col("e.xv").alias("xv"))
    dists = sub.join(F.broadcast(cb), "m").select(
        "cand_id", "m", "cid", _sq_l2(F.col("xv"), F.col("sv")).alias("d")
    )
    # argmin codeword per (vector, subspace) as a min_by AGGREGATION, not a
    # row_number window (guide §2.4's "orderBy used only to pick a row"):
    # the window shape shuffled and sorted ALL |corpus| x PQ_M x PQ_CODES
    # distance rows twice (local + global). min_by over struct(d, cid) takes
    # map-side PARTIAL aggregation — PQ_CODES rows fold to 1 per
    # (vector, m) before the exchange, so the shuffle carries codebook-fold
    # fewer bytes and the post-exchange side never sorts the full distance
    # table. (The struct ordering makes the buffer immutable, so the
    # physical operator is still SortAggregate, not HashAggregate — a
    # double-only ordering would be hash-eligible but nondeterministic on
    # exact distance ties, which the oracle's (d, cid) tie-break forbids.
    # The partial-reduction + narrower-exchange win is what measured, not
    # sort removal in the partial.) struct ordering is lexicographic
    # (d, then cid), identical to the window's (d ASC, cid ASC) row 1 —
    # codes are unchanged (oracle-verified).
    codes = (
        dists.groupBy("cand_id", "m")
        .agg(F.min_by("cid", F.struct("d", "cid")).alias("cid"))
        .groupBy("cand_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda s: s["cid"],
            ).alias("codes")
        )
    )

    # LUT per query: dot(query_sub, codeword) flattened in (m, cid) order
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    lut = (
        q.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "m",
            "cid",
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("qv"), F.col("m") * PQ_DSUB + 1, PQ_DSUB),
                    F.col("sv"),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("val"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid", "val"))),
                lambda s: s["val"],
            ).alias("lut")
        )
    )

    # SCORE: fixed-order fold over the code array through the query's LUT.
    # Codes-only: NO raw-vector join here — the float cosine is attached by
    # _attach_exact AFTER rank/shortlist filters, so the exact pass touches
    # only surviving rows (TOP_K or PQ_RERANK_POOL per query), never the corpus.
    # (Left as the interpreted fold on purpose: this stage touches only
    # queries x corpus rows AFTER the per-row work collapsed to one array
    # lookup per subspace — an unrolled 32-term element_at chain was tried
    # and measured no better, at 3x the generated-code size.)
    scored = (
        F.broadcast(q.join(lut, "query_id"))
        .join(codes, F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda c, m: F.element_at(
                        F.col("lut"), (m * PQ_CODES + c + 1).cast("int")
                    ),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score_pq"),
            "qv",
        )
    )
    return scored, emb


def _attach_exact(subset: DataFrame, normed: DataFrame) -> DataFrame:
    """Join the (already rank-filtered, per-query-bounded) rows back to the
    normalized vectors and compute the 6-dp exact cosine — the only float
    pass over raw vectors, costing |subset| rows, not the corpus."""
    exact = normed.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    return (
        subset.join(exact, "cand_id")
        .withColumn(
            "sim_exact", F.round(cosine_col(F.col("qv"), F.col("cv")), 6)
        )
        .drop("qv", "cv")
    )


def ann_pq_adc_topk(emb: DataFrame) -> DataFrame:
    """Top-TOP_K by PQ/ADC score alone (see _pq_scored for the machinery);
    exact cosine rides along as the in-band accuracy report, computed only
    for the TOP_K surviving rows per query."""
    scored, normed = _pq_scored(emb)
    top = top_k(scored, ["query_id"], [F.desc("score_pq"), F.asc("cand_id")], TOP_K)
    return _attach_exact(top, normed).select(
        "query_id",
        "cand_id",
        F.round(F.col("score_pq"), 6).alias("score_pq"),
        "sim_exact",
        "rk",
    )


PQ_RERANK_POOL = 50  # ADC shortlist size fed to the exact re-rank


def ann_pq_rerank_topk(emb: DataFrame) -> DataFrame:
    """The production PQ deployment shape: ADC shortlists PQ_RERANK_POOL
    candidates per query from the compressed codes, then EXACT cosine re-ranks only
    the shortlist — recall recovers toward exact (ADC@5 alone measures
    0.68-0.76 across sf on these clusterless embeddings; rerank@5 over a
    50-pool measures 1.0, because the true top-5 survive into the
    shortlist) while the
    expensive float pass touches POOL rows per query instead of the
    corpus. At 10^12 vectors the codes table is the only corpus-sized
    scan; the re-rank joins raw vectors for query x POOL rows only.

    Determinism: the shortlist ranks on the raw (unrounded) ADC fold with
    cand_id tie-breaks; the re-rank orders by the 6-dp-ROUNDED exact cosine
    (identical rounding in both engines) with the same tie-break — so
    cross-engine agreement rests on identical folds for the shortlist and
    identical rounding for the re-rank. The cosine is computed AFTER the
    shortlist filter (see _attach_exact), so the float pass costs
    PQ_RERANK_POOL x queries rows."""
    scored, normed = _pq_scored(emb)
    shortlist = top_k(
        scored, ["query_id"], [F.desc("score_pq"), F.asc("cand_id")], PQ_RERANK_POOL
    )
    pooled = _attach_exact(shortlist, normed)
    # the re-rank's rk overwrites the shortlist's
    return top_k(
        pooled, ["query_id"], [F.desc("sim_exact"), F.asc("cand_id")], TOP_K
    ).select(
        "query_id",
        "cand_id",
        F.round(F.col("score_pq"), 6).alias("score_pq"),
        "sim_exact",
        "rk",
    )
