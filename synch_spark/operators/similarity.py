"""Similarity search over embedding columns (array<float>).

North-star extension: approximate-nearest-neighbor over embeddings.

- Brute-force cosine top-k (the correctness baseline): broadcast the
  probe set, score every row with JVM-side array algebra
  (zip_with + aggregate fold — no Python, no UDF), window top-k.
  At 100 TB this is one scan of the corpus per probe batch; the probe
  side is broadcast so the corpus never shuffles.
- LSH-bucketed variant (the scale path): random-hyperplane signatures
  via deterministic hash-derived planes; candidates = bucket mates,
  then exact re-scoring of candidates only. Probing multiple signature
  permutations trades recall for cost.

Numeric policy: dot/norm products are folded into DECIMAL(38,12) so the
result is associativity-free and bit-identical to the DuckDB oracle;
the final cosine is a double division of exact decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# element type (25,12): addition yields (26,12) — no precision overflow, so
# Spark never reduces the scale and the fold stays exact at 12 decimals,
# matching DuckDB's SUM(DECIMAL(38,12)) bit-for-bit after the final cast.
DEC = "decimal(25,12)"


def _dot_dec(a, b):
    """Exact decimal fold of an elementwise product — order-independent."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC))
    return F.aggregate(prods, F.lit(0).cast(DEC), lambda acc, x: (acc + x).cast(DEC))


def _norm2_dec(a):
    return _dot_dec(a, a)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm2", _norm2_dec(F.col(vec_col)))


def _dot_double(a, b):
    """Fast JVM double fold (ranking prefilter; not oracle-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _finite_vec(v) -> "F.Column":
    """TRUE when every element of the vector is finite (and the vector
    is non-null). A single NaN element sorts ABOVE every real double in
    a desc prefilter ranking — the NaN vector becomes everyone's rank-1
    candidate — and then the exact decimal rescore raises
    CAST_INVALID_INPUT under ANSI. Non-finite vectors are garbage
    embeddings; similarity operators drop them at the door."""
    bad = F.exists(
        v,
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    return v.isNotNull() & ~bad


def _safe_div(num, denom, otherwise):
    """ANSI-safe score division. An all-zero vector has norm 0, so the
    cosine denominator is 0: Spark's default ANSI mode raises
    DIVIDE_BY_ZERO (killing the whole query), and with ANSI off the
    0/0 = NaN sorts ABOVE every real score under a desc ordering,
    making zero vectors rank-1 neighbors of everything. Guard the
    division and pin such pairs to ``otherwise`` (below any real
    cosine) so they rank last instead."""
    return F.when(denom > F.lit(0.0), num / denom).otherwise(F.lit(otherwise))


def _decimal_rescore(cand: DataFrame) -> DataFrame:
    """Exact decimal cosine on (_pv, _cv) candidate rows -> `cosine`.
    Pairs involving a zero vector get cosine NULL (mathematically
    undefined); NULL sorts last under Spark's desc ordering.

    When the caller carries precomputed ``_pn2`` / ``_cn2`` columns
    (the decimal norm2 of each SIDE, attached before the pair join),
    they are reused: a norm depends on one vector, not the pair, so
    computing it per pair multiplies the interpreted decimal fold —
    the dominant per-row cost — by ~3x on exhaustive candidate sets
    (n_pairs >> n_rows). Values are identical either way."""
    pn = (F.col("_pn2") if "_pn2" in cand.columns
          else _norm2_dec(F.col("_pv")))
    cn = (F.col("_cn2") if "_cn2" in cand.columns
          else _norm2_dec(F.col("_cv")))
    return (
        cand.withColumn("_dot", _dot_dec(F.col("_pv"), F.col("_cv")))
        .withColumn("_pn", pn)
        .withColumn("_cn", cn)
        .withColumn(
            "cosine",
            _safe_div(
                F.col("_dot").cast("double"),
                F.sqrt(F.col("_pn").cast("double") * F.col("_cn").cast("double")),
                None,
            ),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefilter: int = 32,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (excluding self-matches).

    Two-phase scoring: a cheap double-precision pass ranks everything
    (one corpus scan, probe set broadcast), then only the top
    ``prefilter`` candidates per probe are re-scored with the exact
    decimal fold that defines the output (and matches the DuckDB oracle
    bit-for-bit). With prefilter >> k the double/decimal rank disagreement
    window (~1e-15) cannot affect the final top-k. Output:
    (probe_id, neighbor_id, rank, cosine).
    """
    # norms computed once per side (n + m folds), not once per pair (n*m);
    # non-finite vectors dropped at the door (see _finite_vec)
    p = probes.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
    ).withColumn("_pn_d", F.sqrt(_dot_double(F.col("_pv"), F.col("_pv"))))
    c = corpus.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_cn_d", F.sqrt(_dot_double(F.col("_cv"), F.col("_cv"))))
    rough = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id")).withColumn(
        "_s",
        _safe_div(
            _dot_double(F.col("_pv"), F.col("_cv")),
            F.col("_pn_d") * F.col("_cn_d"),
            -2.0,
        ),
    )
    wr = W.partitionBy("probe_id").orderBy(F.col("_s").desc(), F.col("neighbor_id"))
    cand = (
        rough.withColumn("_rr", F.row_number().over(wr))
        .filter(F.col("_rr") <= max(prefilter, k))
        .drop("_rr", "_s", "_pn_d", "_cn_d")
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        _decimal_rescore(cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cosine")
    )


def hyperplane_signature(
    df: DataFrame, vec_col: str, num_planes: int = 8, num_tables: int = 1
) -> DataFrame:
    """Multi-table random-hyperplane LSH signatures (SimHash for vectors).

    Emits one row per (input row, table) with the table's ``num_planes``-
    bit signature in ``_sig`` and the table index in ``_tbl``. Plane
    (t, p)'s normal has component j = xxhash64(t*4096+p, j) mapped to
    {-1,+1} — deterministic, no driver-side randomness to ship. Multiple
    independent tables are the standard recall lever: a pair collides if
    it agrees in ANY table.

    ``num_planes=0`` is the degenerate exhaustive setting: every row
    gets signature 0 (one bucket — candidate pruning off). Spark's
    ``sequence(0, -1)`` DESCENDS rather than being empty, so the case
    must short-circuit instead of falling through the fold.
    """
    if num_tables < 1:
        # sequence(0, -1) DESCENDS (same gotcha as num_planes below):
        # num_tables=0 would silently fan every row into _tbl 0 AND -1
        raise ValueError(f"num_tables must be >= 1 (got {num_tables})")
    if num_planes < 0 or num_planes > 63:
        # negative: sequence DESCENDS and silently computes a wrong-width
        # signature; >=64: the acc*2+bit fold overflows the signed-long
        # signature under ANSI — both are config errors, say so
        raise ValueError(
            f"num_planes must be 0..63 (got {num_planes}): the signature "
            "is a signed 64-bit fold")
    dim = F.size(F.col(vec_col))
    tables = F.explode(F.sequence(F.lit(0), F.lit(num_tables - 1))).alias("_tbl")
    out = df.select("*", tables)
    if num_planes == 0:
        return out.withColumn("_sig", F.lit(0).cast("long"))
    planes = F.transform(
        F.sequence(F.lit(0), F.lit(num_planes - 1)),
        lambda p: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.sequence(F.lit(0), dim - 1),
                lambda x, j: F.when(
                    F.xxhash64(F.col("_tbl") * 4096 + p, j) % 2 == 0, x.cast("double")
                ).otherwise(-x.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    bits = F.transform(planes, lambda s: F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)))
    # big-endian fold: acc*2 + bit (shiftleft needs a literal shift amount)
    sig = F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b.cast("long")
    )
    return out.withColumn("_sig", sig)


def ann_topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    num_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to LSH bucket mates.

    A pair is a candidate if its signatures agree in ANY of the
    ``num_tables`` tables (union via distinct on the joined pairs). The
    bucket equi-join replaces the corpus-wide scan; planes/tables trade
    candidate-set size against recall (tested vs cosine_topk in
    tests/test_dataops.py). At 100 TB: more planes -> smaller buckets;
    more tables -> recall back — the corpus-side explode is linear in
    num_tables, the join stays bucket-local.
    """
    # signature join carries IDs only — vectors never ride the shuffle;
    # the (small) candidate-pair set is then broadcast back against the
    # corpus and probe vectors for exact scoring
    c = hyperplane_signature(
        corpus.filter(_finite_vec(F.col(vec_col)))
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        "_cv",
        num_planes,
        num_tables,
    ).select("neighbor_id", "_tbl", "_sig")
    p = hyperplane_signature(
        probes.filter(_finite_vec(F.col(vec_col)))
        .select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")),
        "_pv",
        num_planes,
        num_tables,
    ).select("probe_id", "_tbl", "_sig")
    cand_ids = (
        c.join(F.broadcast(p), ["_tbl", "_sig"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    # decimal norms attached per SIDE before the pair join: one fold per
    # corpus/probe row instead of one per candidate pair (see
    # _decimal_rescore — with zero planes the candidate set is the full
    # cross of bucket mates, so per-pair norms would triple the
    # dominant decimal work)
    cand = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
        .withColumn("_cn2", _norm2_dec(F.col("_cv")))
        .join(F.broadcast(cand_ids), "neighbor_id")
        .join(
            F.broadcast(
                probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv"))
                .withColumn("_pn2", _norm2_dec(F.col("_pv")))
            ),
            "probe_id",
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        _decimal_rescore(cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (by cosine).

    centroids: (cid, cvec) — tiny by contract (they are broadcast-sized
    in every caller), so they ride INTO the assignment expression as
    literals: one corpus scan computes all K similarities per row and
    picks the top ``nprobe`` with array algebra. The earlier broadcast
    join + row_number window materialized K rows PER VECTOR and then
    shuffled the whole corpus (with its vector payload) just to rank K
    values per id — at 100 TB that exchange is a full-corpus shuffle
    for a per-row argmax. Zero exchanges now; adds columns
    (_cid, _crank). nprobe>1 is the query-side recall lever.

    Numeric identity with the join formulation: the per-centroid norm
    is computed by the SAME JVM double fold (one tiny K-row job), the
    literal centroid values are the float->double casts the join
    produced, and ordering ties break on the smaller cid exactly as the
    (sim desc, cid) window did — struct comparison over (-sim, cid).
    """
    # K-row driver hop, same bound as ivf_centroids' collect; norms are
    # JVM-folded here so the double values are bit-identical to the
    # per-joined-row computation they replace
    rows = centroids.select(
        "cid", "cvec",
        F.sqrt(_dot_double(F.col("cvec"), F.col("cvec"))).alias("_cn"),
    ).collect()
    rows.sort(key=lambda r: r["cid"])
    cid_t = centroids.schema["cid"].dataType
    if not rows:
        # the old cross join with an empty broadcast side emitted no rows
        return df.select(
            *df.columns,
            F.lit(None).cast(cid_t).alias("_cid"),
            F.lit(None).cast("int").alias("_crank"),
        ).filter(F.lit(False))
    v = df.withColumn("_vn", F.sqrt(_dot_double(F.col(vec_col), F.col(vec_col))))

    def neg_sim(r):
        # ascending struct order == (sim desc, cid asc): negate the sim
        if r["_cn"] is None:
            # NULL cvec (or element): the join's NULL norm hit the -2.0
            # sentinel of _safe_div
            return F.lit(2.0)
        sim = _safe_div(
            _dot_double(F.col(vec_col), F.lit(list(r["cvec"]))),
            F.col("_vn") * F.lit(float(r["_cn"])),
            -2.0,
        )
        # a NULL sim (dim mismatch, NULL element) ranked last under the
        # window's `sim desc` (NULLS LAST): pin it below the sentinel,
        # since ascending struct order would put a NULL first
        return F.coalesce(-sim, F.lit(3.0))

    cands = F.array(*[
        F.struct(neg_sim(r).alias("_ns"),
                 F.lit(r["cid"]).cast(cid_t).alias("cid"))
        for r in rows
    ])
    if nprobe == 1:
        return v.select(
            *df.columns,
            F.array_min(cands)["cid"].alias("_cid"),
            F.lit(1).alias("_crank"),
        )
    top = F.slice(F.array_sort(cands), 1, nprobe)
    return (
        v.select(*df.columns, F.posexplode(top).alias("_pos", "_s"))
        .select(*df.columns, F.col("_s")["cid"].alias("_cid"),
                (F.col("_pos") + 1).cast("int").alias("_crank"))
    )


def ivf_centroids(
    corpus: DataFrame, num_centroids: int = 16, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic hash-rank sampled centroids (IVF-flat): the
    ``num_centroids`` vectors with the smallest ``xxhash64(id)`` — a
    uniform draw over ANY id domain (sparse, negative, string), unlike
    the earlier ``id % stride`` scheme, which skewed or truncated the
    centroid set whenever ids weren't dense integers starting at 0.

    ``orderBy(hash).limit(k)`` executes as TakeOrdered (per-partition
    top-k, merged on the driver — no global sort shuffle); the k
    surviving rows are a bounded O(k) driver hop, the same size as the
    broadcast ``ivf_assign`` does with them anyway. K-means refinement
    (vector_index.ivf_refine) is the optional upgrade; hash-sampled
    centroids already give balanced buckets and keep the index build to
    one scan."""
    sample = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("cvec"),
            F.xxhash64(F.col(id_col)).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(num_centroids)
    )
    rows = sample.collect()  # bounded: exactly num_centroids rows
    rows.sort(key=lambda r: (r["_h"], r["_id"]))
    spark = corpus.sparkSession
    from pyspark.sql import types as T

    vec_type = sample.schema["cvec"].dataType
    schema = T.StructType(
        [T.StructField("cid", T.IntegerType()), T.StructField("cvec", vec_type)]
    )
    return spark.createDataFrame(
        [(i, r["cvec"]) for i, r in enumerate(rows)], schema
    )


def ann_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid (one
    assignment pass — at scale this is the persisted index); each probe
    searches only its ``nprobe`` nearest centroid buckets. Cost per probe
    ~ corpus * nprobe / num_centroids. Output matches cosine_topk's
    schema; recall regression-tested against the exact operator.

    ``refine_iters`` Lloyd iterations (vector_index.ivf_refine) tighten
    the hash-sampled centroids before bucketing — each iteration is one
    extra corpus scan, bought back as recall at fixed nprobe. For
    repeated queries build a VectorIndex instead (centroid + assignment
    cost paid once)."""
    cents = ivf_centroids(corpus, num_centroids, vec_col, id_col)
    if refine_iters > 0:
        from synch_spark.operators.vector_index import ivf_refine

        cents = ivf_refine(corpus, cents, vec_col, id_col, iters=refine_iters)
    # decimal norms attached per SIDE after assignment, before the pair
    # join: one fold per row instead of one per (probe, neighbor) pair
    # (at nprobe == num_centroids the join is the full cross — per-pair
    # norms would triple the dominant decimal work; see _decimal_rescore)
    corpus_b = ivf_assign(
        corpus.filter(_finite_vec(F.col(vec_col)))
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        cents, "_cv", "neighbor_id", nprobe=1,
    ).select("neighbor_id", "_cv", "_cid").withColumn(
        "_cn2", _norm2_dec(F.col("_cv")))
    probes_b = ivf_assign(
        probes.filter(_finite_vec(F.col(vec_col)))
        .select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")),
        cents, "_pv", "probe_id", nprobe=nprobe,
    ).select("probe_id", "_pv", "_cid").withColumn(
        "_pn2", _norm2_dec(F.col("_pv")))
    # no distinct(): the corpus side is assigned with nprobe=1, so a
    # (probe, neighbor) pair can share at most ONE _cid — the join emits
    # each pair exactly once, and a distinct here would be a full
    # shuffle of rows carrying two embedding arrays for nothing
    cand = corpus_b.join(F.broadcast(probes_b), "_cid").filter(
        F.col("neighbor_id") != F.col("probe_id")
    ).drop("_cid")
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        _decimal_rescore(cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cosine")
    )


# d·127² must stay under 2^24 for the float32 accumulation of integer
# values to be EXACT (see _candidate_pairs_quantized); above it the
# kernel falls back to the float64 GEMM
_QUANT_GEMM_MAX_DIM = 1000


def _candidate_pairs_quantized(V, norms, thr_pre):
    """Candidate (i, j, cos_f64) pairs with float64 cosine >=
    ``thr_pre``, via an int8-quantized GEMM tile with a PROVABLE
    per-pair margin — no true pair can be lost, so the exact decimal
    rescore downstream still defines the output.

    The tile is ``q = rint(v / s)`` with ``s = max|v|/127`` per row
    (int8: 8x smaller than the float64 matrix — at 100 TB the
    difference between a GEMM block that fits executor memory and one
    that spills). The GEMM runs on the int8 values staged as float32:
    every product is <= 127^2 and every partial sum < d·127^2 < 2^24
    for d <= 1000, so BLAS sgemm accumulates EXACT integers at twice
    dgemm's throughput — the quantized cosine has NO float error, only
    quantization error, which is bounded per pair by the standard
    perturbation bound |cos(u,v) - cos(u',v')| <= 2(||e_u||/||u|| +
    ||e_v||/||v||) with e = v - s·q measured exactly from the data.

    The coarse pass over-admits (the margin is a worst-case bound;
    measured ~2x at threshold 0.35 on the fixture embeddings), and
    every emitted pair pays the DECIMAL rescore downstream — far more
    expensive than a float64 dot — so a refine step re-scores ONLY the
    coarse survivors with exact float64 dots (O(cands·d) gathered
    einsum, not the O(n^2·d) full GEMM) and emits exactly the pairs
    the float64 prefilter would have: the quantization is invisible in
    both results AND downstream rescore load. Dims > 1000 (or
    degenerate all-zero quantizations) take the float64 path."""
    import numpy as np

    d = V.shape[1]

    def dense_f64():
        N = V / norms[:, None]
        S = N @ N.T
        i, j = np.nonzero(np.triu(S >= thr_pre, k=1))
        return i, j, S[i, j]

    if d > _QUANT_GEMM_MAX_DIM:
        return dense_f64()
    s = np.abs(V).max(axis=1) / 127.0
    s[s == 0.0] = 1.0  # norm>0 guarantees max|v|>0; belt and braces
    Q = np.rint(V / s[:, None])
    Qf = Q.astype(np.float32)
    # Score-side memory discipline: the n^2 side dominates (the int8
    # input tile is the n·d side), so exactly ONE full n^2 float64
    # array (G, mutated in place: dots -> quantized cosine -> coarse
    # score) plus one n^2 bool mask are ever live — broadcast divides/
    # adds instead of np.outer/margin temps, nonzero + i<j instead of
    # a triu copy.
    G32 = Qf @ Qf.T  # exact integers (< 2^24), sgemm throughput
    G = G32.astype(np.float64)
    del G32
    qn2 = np.diag(G).copy()
    if (qn2 == 0.0).any():
        # a vector so skewed it quantized to all zeros: its quantized
        # cosine is undefined — take the exact float64 path instead
        return dense_f64()
    qn = np.sqrt(qn2)
    G /= qn[:, None]
    G /= qn[None, :]
    rel = np.sqrt(np.einsum("ij,ij->i", V - s[:, None] * Q,
                            V - s[:, None] * Q)) / norms
    # fold the per-pair margin INTO the score: admit when
    # qcos + 2(rel_i + rel_j) >= thr_pre - 1e-9
    G += (2.0 * rel)[:, None]
    G += (2.0 * rel)[None, :]
    ii, jj = np.nonzero(G >= thr_pre - 1e-9)
    upper = ii < jj
    i, j = ii[upper], jj[upper]
    if len(i) == 0:
        return i, j, np.zeros(0)
    # refine: exact float64 cosine on the coarse survivors only
    cos = np.einsum("ij,ij->i", V[i], V[j]) / (norms[i] * norms[j])
    keep = cos >= thr_pre
    return i[keep], j[keep], cos[keep]


def embedding_near_dups_exact(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs by cosine >= threshold: (a, b, cosine).

    The deterministic baseline the LSH variant's recall is judged
    against. ``block_col`` bounds the quadratic pair space to equal-key
    blocks (the dedup-within-shard pattern); without it the whole input
    is one block — fine for a probe set, not for a 100 TB corpus (use
    ``embedding_near_dups`` there).

    Candidate generation is a block-local BLAS matmul inside
    ``applyInPandas``: each block's vectors quantize to an int8 tile
    (8x smaller than float64) scored by one exact-integer float32 GEMM
    with a provable per-pair quantization margin — see
    ``_candidate_pairs_quantized`` — and only upper-triangle pairs that
    can possibly clear ``threshold - 1e-6`` leave the worker as (a, b)
    id pairs: 10-100x the throughput of per-pair expression folds, and
    the shuffle carries ids, never vectors. Survivors are re-scored
    with the exact decimal fold that DEFINES the output (and matches
    the DuckDB oracle bit-for-bit); the margins are constructed so no
    true pair is lost, so the prefilter affects cost only, never
    results.

    Memory bound: a block must fit one executor (n·d doubles + the n^2
    score tile). Size blocks accordingly upstream, or switch to the LSH
    variant past ~100k vectors per block; zero vectors have undefined
    cosine (NULL, never >= threshold) and are dropped before the GEMM.
    """
    base, pairs = _block_pair_candidates(
        df, threshold, vec_col, id_col, block_col)
    av = base.select(F.col("id").alias("a"), F.col("v").alias("_pv"))
    bv = base.select(F.col("id").alias("b"), F.col("v").alias("_cv"))
    cand = pairs.join(av, "a").join(bv, "b")
    return (
        _decimal_rescore(cand)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _block_pair_candidates(df, threshold, vec_col, id_col, block_col):
    """Shared GEMM candidate stage: (base, pairs) where pairs =
    (a, b, _fcos) with float64 cosine _fcos >= threshold - 1e-6,
    a < b, within equal-``block_col`` blocks."""
    import numpy as np
    import pandas as pd

    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    blk = F.col(block_col) if block_col else F.lit(0)
    base = df.select(*cols, blk.alias("_blk"))
    thr_pre = threshold - 1e-6

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": [], "b": [], "_fcos": []})
        # drop NULL / ragged-length vectors BEFORE np.stack — one bad
        # row would otherwise kill the whole job, and an undefined
        # cosine can never reach the threshold anyway
        vs = pdf["v"]
        dim = next((len(x) for x in vs if x is not None), None)
        if dim is None:
            return empty
        ok = vs.map(lambda x: x is not None and len(x) == dim).to_numpy()
        pdf = pdf[ok]
        if len(pdf) < 2:
            return empty
        ids = pdf["id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        keep = (norms > 0.0) & np.isfinite(norms)  # zero AND NaN/Inf out
        ids, V, norms = ids[keep], V[keep], norms[keep]
        if len(ids) < 2:
            return empty
        order = np.argsort(ids, kind="stable")  # a < b canonical pairs
        ids, V, norms = ids[order], V[order], norms[order]
        i, j, fcos = _candidate_pairs_quantized(V, norms, thr_pre)
        return pd.DataFrame({"a": ids[i], "b": ids[j], "_fcos": fcos})

    # pair schema follows the caller's id type — a hard-coded 'long'
    # would fail every task on string/decimal ids at Arrow conversion
    id_t = df.schema[id_col].dataType.simpleString()
    pairs = base.groupBy("_blk").applyInPandas(
        gen, f"a {id_t}, b {id_t}, _fcos double")
    return base, pairs


def _near_dup_pair_ids(df, threshold, vec_col, id_col, block_col):
    """Near-dup pair SET (a, b) by decimal cosine >= threshold —
    results identical to ``embedding_near_dups_exact(...).select('a',
    'b')`` but without paying the decimal rescore for pairs that
    cannot be borderline.

    The kernel's float64 cosine differs from the decimal cosine by
    ~1e-12 (product quantization at 12 dp + float rounding), so only
    pairs inside the band [threshold - 1e-6, threshold + 1e-6] need
    decimal adjudication — the SAME 1e-6 >> float-error assumption the
    prefilter has always made on the low side, applied symmetrically.
    In practice the band is empty and the expensive rescore join runs
    over ~0 rows; callers that need the cosine VALUE (q47's output
    column) still use the full rescore path."""
    base, pairs = _block_pair_candidates(
        df, threshold, vec_col, id_col, block_col)
    # materialize ONCE: the certain/band split consumes this frame
    # twice and cluster_duplicates' symmetric edge union doubles it
    # again — without the checkpoint the GEMM applyInPandas stage (the
    # very thing this path makes cheap) executes 4x per collapse
    # (Spark reuses Exchange subtrees, never Python-UDF stages).
    # Lazy: materialization rides the first consumer's job.
    pairs = pairs.localCheckpoint(eager=False)
    certain = pairs.filter(F.col("_fcos") >= threshold + 1e-6)
    band = pairs.filter(F.col("_fcos") < threshold + 1e-6)
    av = base.select(F.col("id").alias("a"), F.col("v").alias("_pv"))
    bv = base.select(F.col("id").alias("b"), F.col("v").alias("_cv"))
    adjudicated = (
        _decimal_rescore(band.join(av, "a").join(bv, "b"))
        .filter(F.col("cosine") >= threshold)
    )
    return certain.select("a", "b").unionByName(
        adjudicated.select("a", "b"))


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, LSH-blocked.

    High-cosine pairs agree on almost every hyperplane, so even one
    8-plane table catches most of them; the extra tables close the gap.
    """
    base = df.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    sig = hyperplane_signature(base, "v", num_planes, num_tables)
    # ids-only through the exploded signature join AND the cross-table
    # dedup — vectors never ride the num_tables-way shuffle (the same
    # discipline as ann_topk_lsh); the deduped pair set then joins the
    # vectors back once for the exact rescore
    a = sig.select(F.col("id").alias("a"), "_tbl", "_sig")
    b = sig.select(F.col("id").alias("b"), "_tbl", "_sig")
    pair_ids = (
        a.join(b, ["_tbl", "_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    av = base.select(F.col("id").alias("a"), F.col("v").alias("_pv"))
    bv = base.select(F.col("id").alias("b"), F.col("v").alias("_cv"))
    cand = pair_ids.join(av, "a").join(bv, "b")
    return (
        _decimal_rescore(cand)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# --- int8 scalar quantization (the 4x-memory ANN path) --------------------
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = round(v[i]/s)``
    with ``s = max|v|/127``. Cuts vector bytes 4x (float32 -> int8), which
    at 100 TB is the difference between an index that fits the cluster's
    memory/NVMe tier and one that doesn't. Cosine RANKING needs no
    dequantization at all — the per-vector scales cancel in
    ``dot(qa,qb)/(|qa||qb|)`` — so the scan path is pure int math; the
    scale column exists to reconstruct approximate values when needed.

    The max-abs expression is materialized as a column before the
    division lambda references it (HOF lambdas re-evaluate inline
    expression trees per element — the shingles() lesson).
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    out = df.withColumn(
        scale_col,
        F.when(amax > F.lit(0.0), amax / F.lit(127.0)).otherwise(F.lit(1.0)).cast(
            "double"
        ),
    )
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / F.col(scale_col)).cast("tinyint"),
    )
    return out.withColumn(qvec_col, q)


def _dot_int(a, b):
    """Integer dot product of two int8 vectors (exact in long)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefilter: int = 32,
) -> DataFrame:
    """Top-k cosine with int8-quantized RANKING and exact rescoring.

    Phase 1 scans the corpus scoring candidates from int8 vectors only
    (long int dot / int norms — scales cancel for cosine, see
    quantize_embeddings), so the scan reads a quarter of the bytes of
    the float path; phase 2 rescores the top ``prefilter`` candidates
    per probe with the exact decimal fold on the ORIGINAL float vectors,
    so returned cosines are identical to cosine_topk's — only the
    candidate set is approximate (quantization noise ~1/254 per element;
    recall is regression-tested against the exact operator). Output:
    (probe_id, neighbor_id, rank, cosine).
    """
    # same door filter as every other top-k operator here: one NaN/Inf
    # vector would otherwise CAST_OVERFLOW inside the int8 quantization
    # under ANSI and kill the whole query
    probes = probes.filter(_finite_vec(F.col(vec_col)))
    corpus = corpus.filter(_finite_vec(F.col(vec_col)))
    p = quantize_embeddings(probes, vec_col, "_pq", "_ps").select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv"), "_pq"
    )
    c = quantize_embeddings(corpus, vec_col, "_cq", "_cs").select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "_cq"
    )
    p = p.withColumn("_pn_q", F.sqrt(_dot_int(F.col("_pq"), F.col("_pq")).cast("double")))
    c = c.withColumn("_cn_q", F.sqrt(_dot_int(F.col("_cq"), F.col("_cq")).cast("double")))
    rough = c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id")).withColumn(
        "_s",
        _safe_div(
            _dot_int(F.col("_pq"), F.col("_cq")).cast("double"),
            F.col("_pn_q") * F.col("_cn_q"),
            -2.0,
        ),
    )
    wr = W.partitionBy("probe_id").orderBy(F.col("_s").desc(), F.col("neighbor_id"))
    cand = (
        rough.withColumn("_rr", F.row_number().over(wr))
        .filter(F.col("_rr") <= max(prefilter, k))
        .select("probe_id", "neighbor_id", "_pv", "_cv")
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        _decimal_rescore(cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cosine")
    )


def probe_similarity_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """All (corpus, probe) pairs with decimal cosine >= ``threshold``:
    (id_col, probe_id_col, cosine). The decontamination primitive — a
    probe set (eval-suite embeddings, blocklist centroids) is small by
    nature, so it rides into a per-partition numpy GEMM kernel and the
    corpus streams through in one pass; only candidates whose float64
    cosine clears ``threshold - 1e-6`` leave the worker, and the exact
    decimal fold that defines the output rescores those. Never a
    probe-count x corpus row explosion (the broadcast-join + HOF-fold
    formulation materializes K·n rows of interpreted per-element work;
    this is one sgemm per batch)."""
    import numpy as np
    import pandas as pd

    # non-finite/NULL probes drop at the door like every similarity
    # operator here (their cosine is undefined — and a NULL embedding
    # would TypeError the driver-side materialization below)
    finite_probes = probes.filter(_finite_vec(F.col(vec_col))).select(
        probe_id_col, vec_col)
    # the probe set rides the driver and every task: enforce the
    # "small by nature" contract with a bounded fetch sized in ELEMENTS
    # (rows x dim — a row cap alone lets 100k wide vectors blow the
    # driver heap and the task closure the guard exists to prevent)
    first = finite_probes.select(vec_col).first()
    dim0 = len(first[0]) if first is not None else 0
    max_elems = 20_000_000  # ~160 MB as float64 — closure-shippable
    max_probes = min(100_000, max(1, max_elems // max(1, dim0)))
    prows = [
        (r[0], list(r[1]))
        for r in finite_probes.limit(max_probes + 1).collect()
    ]
    if len(prows) > max_probes:
        raise ValueError(
            f"probe_similarity_pairs expects a bounded probe set "
            f"(> {max_probes:,} rows of dim {dim0} found); partition the "
            "probes and union the results, or use embedding_near_dups "
            "for corpus-vs-corpus similarity")
    # a probe whose length differs from the probe set's dim can never
    # score a defined cosine against the (uniform-dim) corpus the
    # kernel gates on — drop it, mirroring the ragged-corpus handling
    prows = [(pid, v) for pid, v in prows if len(v) == dim0]
    thr_pre = threshold - 1e-6
    c = corpus.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_cv"))
    id_t = corpus.schema[id_col].dataType.simpleString()
    pid_t = probes.schema[probe_id_col].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    out_schema = f"_id {id_t}, _cv {vec_t}, {probe_id_col} {pid_t}"
    if not prows:
        pairs = c.limit(0).withColumn(
            probe_id_col,
            F.lit(None).cast(probes.schema[probe_id_col].dataType))
    else:
        P = np.array([v for _, v in prows], dtype=np.float64)
        pn = np.sqrt(np.einsum("ij,ij->i", P, P))
        ok_p = pn > 0.0  # zero probes have undefined cosine: never hit
        pids = [pid for (pid, _), keep in zip(prows, ok_p) if keep]
        Pn = (P[ok_p] / pn[ok_p, None]).T  # d x K
        d = P.shape[1]

        def gen(batches):
            for pdf in batches:
                if not len(pdf) or not pids:
                    continue
                lens = pdf["_cv"].map(len).to_numpy()
                good = pdf[lens == d]  # ragged: undefined, no candidates
                if not len(good):
                    continue
                V = np.stack(good["_cv"].to_numpy()).astype(np.float64)
                vn = np.sqrt(np.einsum("ij,ij->i", V, V))
                okv = vn > 0.0
                good = good[okv]
                if not len(good):
                    continue
                S = (V[okv] / vn[okv, None]) @ Pn
                gi, pi = np.nonzero(S >= thr_pre)
                if not len(gi):
                    continue
                yield good.iloc[gi].assign(
                    **{probe_id_col: [pids[k] for k in pi]})

        pairs = c.mapInPandas(gen, out_schema)
    # the rescore side is rebuilt from the ALREADY-COLLECTED rows —
    # re-referencing `probes` here would re-run its whole upstream scan
    # as a second distributed job per query
    pv = probes.sparkSession.createDataFrame(
        prows, probes.select(probe_id_col, vec_col).schema
    ).select(F.col(probe_id_col), F.col(vec_col).alias("_pv"))
    cand = pairs.join(F.broadcast(pv), probe_id_col)
    return (
        _decimal_rescore(cand)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("_id").alias(id_col), probe_id_col, "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding column — cluster the embedding space,
    then within each cluster collapse every group of mutually
    eps-similar points down to ONE representative. Catches paraphrases
    and re-encodings that MinHash/SimHash (surface-form) dedup misses.

    Three stages, all bounded:
    1. **Assign** each vector to its nearest centroid by exact decimal
       cosine (one broadcast pass over the corpus; ``centroids`` is
       (cid, cvec), tiny — the persisted VectorIndex centroids or any
       fixed set). Ties break on the smaller cid. The cosine to the
       winning centroid (``csim``) doubles as the keep-best ranking:
       the most *prototypical* copy survives.
    2. **Pairs** within each centroid cluster with cosine >=
       ``threshold`` via the blocked int8-GEMM kernel
       (``_near_dup_pair_ids``, block_col = the assignment; only the
       borderline 1e-6 band pays the decimal rescore since just the
       pair SET is consumed) — the pair space is bounded by cluster
       size, and ``len(centroids)`` is the scale lever: size it so
       corpus/num_centroids vectors fit one executor's GEMM tile.

    NOTE: construction is EAGER (the collapse's edge gate and the
    connected-components pass run Spark jobs when this function is
    called, not at the first action on the returned frame; the
    assignment and pair checkpoints are lazy — they materialize inside
    the first of those jobs).
    3. **Collapse**: connected components over the pairs + keep the
       highest-``csim`` member per component (ties: lowest id), via
       ``keep_best_representative``. Vectors in no pair survive as
       singletons.

    Returns one row per KEPT vector: (id_col, cid, csim, cluster_id,
    cluster_size). Non-finite vectors are dropped at the door (same
    contract as every similarity operator here)."""
    assigned = assign_to_centroids(df, centroids, vec_col, id_col)
    kept = collapse_assigned(assigned, threshold)
    return kept.select(
        F.col("_id").alias(id_col), "cid", "csim", "cluster_id",
        F.col("cluster_size"),
    )


def assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
    need_csim: bool = True,
) -> DataFrame:
    """semantic_dedup's assignment stage, reusable by the incremental
    index: one row per finite vector — (_id, _v, cid, csim), csim =
    exact decimal cosine to the winning centroid — checkpointed so the
    fan-out consumers share one materialization (lazy: the FIRST
    consumer's job runs the subtree; every later consumer reads the
    materialized partitions). ``materialize=False`` skips the final
    checkpoint for callers that consume the assignment exactly once
    (ivf_refine's per-iteration mean), where a materialization job is
    a pure extra barrier. ``need_csim=False`` (same caller) skips the
    decimal rescore entirely for every vector whose in-band candidate
    is unique — the argmax is already decided — and emits csim-less
    rows (_id, _v, cid); only 1e-6 ties pay the decimal adjudication."""
    import numpy as np
    import pandas as pd

    # two-phase assignment. Phase 1 (candidates): one vectorized numpy
    # GEMM per partition scores every vector against the K centroids in
    # float64 and emits only candidates within 1e-6 of the per-vector
    # max — in practice one per vector, so the K-way fan-out of decimal
    # folds never materializes (K·n interpreted HOF folds were the
    # single most expensive piece of this operator). Phase 2 rescores
    # the survivors with the decimal fold that DEFINES csim; the 1e-6
    # band is the same >>-float-error contract the pair prefilter
    # stands on, so the decimal argmax cannot hide below it. Vectors
    # with undefined cosine (zero norm, or a length that does not match
    # the centroid dim) emit ALL K candidates: their csim is NULL for
    # every centroid and the cid tiebreak assigns them exactly as the
    # single-phase code did.
    cent_rows = centroids.select("cid", "cvec").collect()  # K rows, tiny
    if not cent_rows:
        # np.einsum on a (0,)-shaped array raises an uninterpretable
        # operand error far from the cause; say what actually happened
        raise ValueError(
            "assign_to_centroids: empty centroid set — build centroids "
            "over a non-empty corpus (ivf_centroids / ivf_refine) first")
    cent_rows.sort(key=lambda r: r["cid"])
    cids_np = [r["cid"] for r in cent_rows]
    C = np.array([list(r["cvec"]) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))
    # undefined cosine: zero-norm AND non-finite centroids (a NaN
    # component would otherwise poison R.max(axis=1) into NaN and the
    # candidate mask ALL-FALSE — every vector silently dropped, which
    # an index sync then interprets as mass deletion)
    zero_c = ~((cnorm > 0.0) & np.isfinite(cnorm))
    cnorm_safe = np.where(zero_c, 1.0, cnorm)
    Cn = (C / cnorm_safe[:, None]).T  # d x K; bad centroids masked below

    v = df.filter(_finite_vec(F.col(vec_col))).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    vec_t = df.schema[vec_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    cid_t = centroids.schema["cid"].dataType.simpleString()
    d = C.shape[1]

    K = len(cids_np)

    def assign_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = pdf["_v"].map(len).to_numpy()
            out_frames = []
            bad = pdf[lens != d]
            if len(bad):  # ragged: all K candidates, NULL csim later
                out_frames.append(bad.loc[bad.index.repeat(K)]
                                  .assign(cid=cids_np * len(bad), _nc=K))
            good = pdf[lens == d]
            if len(good):
                V = np.stack(good["_v"].to_numpy()).astype(np.float64)
                vn = np.sqrt(np.einsum("ij,ij->i", V, V))
                ok = vn > 0.0
                zv = good[~ok]
                if len(zv):  # zero vectors: all K candidates
                    out_frames.append(
                        zv.loc[zv.index.repeat(K)]
                        .assign(cid=cids_np * len(zv), _nc=K))
                good = good[ok]
                if len(good):
                    R = (V[ok] / vn[ok, None]) @ Cn
                    R[:, zero_c] = -np.inf
                    mask = R >= (R.max(axis=1)[:, None] - 1e-6)
                    nc = mask.sum(axis=1)
                    gi, ci = np.nonzero(mask)
                    out_frames.append(
                        good.iloc[gi].assign(
                            cid=[cids_np[c_] for c_ in ci],
                            _nc=nc[gi]))
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    # `_nc` = the number of in-band candidates of that row's vector:
    # when it is 1, the decimal argmax is ALREADY decided (the 1e-6
    # float band provably contains the decimal winner, so a unique
    # band member IS it) — no cross-corpus row_number window needed.
    # Only genuine 1e-6 ties and undefined-cosine vectors (ragged /
    # zero: all K candidates) go through the decimal adjudication
    # window. This removes the corpus-wide hashpartitioning(_id)
    # exchange (+ sort) the single-window formulation paid purely to
    # rank K candidates per id.
    cand = v.mapInPandas(
        assign_gen, f"_id {id_t}, _v {vec_t}, cid {cid_t}, _nc int")
    # materialize ONCE: singles and ties are two filters over the same
    # Python stage, and Spark reuses Exchange subtrees, never
    # Python-UDF stages — without this the kernel (and the corpus scan
    # under it) would execute once per branch. Lazy: rides the first
    # consumer's job. No shuffle: blocks are written executor-local.
    cand = cand.localCheckpoint(eager=False)
    singles = cand.filter(F.col("_nc") == 1).drop("_nc")
    ties = cand.filter(F.col("_nc") > 1).drop("_nc")
    # the rescore side is rebuilt from the ALREADY-COLLECTED centroid
    # rows (the probe_similarity_pairs move): referencing `centroids`
    # again here would re-execute its whole upstream plan — for
    # ivf_refine-produced centroids that is a second full corpus
    # assignment + mean aggregation per call
    c = df.sparkSession.createDataFrame(
        cent_rows, centroids.select("cid", "cvec").schema
    ).withColumn(
        "_cn2", _norm2_dec(F.col("cvec")))  # K decimal folds, broadcast

    def rescore(part):
        return part.join(F.broadcast(c), "cid").withColumn(
            "csim",
            _safe_div(
                _dot_dec(F.col("_v"), F.col("cvec")).cast("double"),
                F.sqrt(
                    _norm2_dec(F.col("_v")).cast("double")
                    * F.col("_cn2").cast("double")
                ),
                None,
            ),
        )

    wa = W.partitionBy("_id").orderBy(F.col("csim").desc(), F.col("cid"))
    adjudicated = (
        rescore(ties)
        .withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") == 1)
    )
    if need_csim:
        out = rescore(singles).select("_id", "_v", "cid", "csim").unionByName(
            adjudicated.select("_id", "_v", "cid", "csim"))
    else:
        # the cosine value is discarded by the caller: singles skip the
        # n interpreted decimal folds entirely (the dominant per-row
        # cost of this operator); only the ~empty tie set pays them
        out = singles.select("_id", "_v", "cid").unionByName(
            adjudicated.select("_id", "_v", "cid"))
    if not materialize:
        return out
    # materialize ONCE: the assignment subtree (scan + decimal folds)
    # is consumed FOUR times downstream — the pair kernel, both sides
    # of its rescore join, and the keep-best label join — and would
    # re-execute for each without this (4x the decimal work at any
    # scale). Lazy: the checkpoint RDD materializes inside the first
    # consumer's job instead of paying a dedicated materialization job
    # + scheduler barrier.
    return out.localCheckpoint(eager=False)


def collapse_assigned(assigned: DataFrame, threshold: float) -> DataFrame:
    """semantic_dedup's collapse stage over an (_id, _v, cid, csim)
    assignment frame: within-cid near-dup pairs, connected components,
    keep-most-prototypical. Returns (_id, cid, csim, cluster_id,
    cluster_size) — one row per kept vector. Reusable standalone so the
    incremental index can re-collapse ONLY the touched cid blocks."""
    from synch_spark.operators.dedup import keep_best_representative

    # pair SET only (the cosine value is not in the output): certain
    # pairs skip the decimal rescore, the borderline band (empty in
    # practice) is decimal-adjudicated — same results as the full
    # rescore path, a fraction of its cost
    pairs = _near_dup_pair_ids(
        assigned, threshold, vec_col="_v", id_col="_id", block_col="cid"
    )
    return keep_best_representative(
        assigned.select("_id", "cid", "csim"), pairs, "_id", "csim"
    )
