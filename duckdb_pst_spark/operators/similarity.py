"""Similarity search over the embeddings table (array<float> vectors) —
brute-force cosine top-k baseline and an LSH-bucketed variant (the scale
path), plus embedding near-dup. North-star additions (SURVEY.md §2.B end).

All vector math is Spark higher-order functions (zip_with / aggregate) —
JVM-side sequential folds, bit-identical to the DuckDB oracle's
list_transform/list_reduce folds (see functions/vectors.py).

Scale design: brute-force is O(|Q|·|C|) — fine for small query sets and
the correctness baseline. The LSH variant buckets by random-hyperplane
signs so each query only joins its bucket: the shuffle is on the bucket
key and candidate count drops ~2^planes-fold; this is the shape that
survives 100 TB (bucket join ≈ IVF probe). Skewed buckets are AQE's
skew-join case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.vectors import cosine, dot, duck_cosine, duck_norm, norm
from duckdb_pst_spark.goldens_pinned import PINNED as _PINNED
from duckdb_pst_spark.registry import query
from duckdb_pst_spark.tables import table

# Corpus the constant-pinned VALUES goldens were generated at
# (tools/pin_goldens.py) — the driver's correctness gate runs there.
_PIN_SF = "/root/testdata/sf0.01"

DIM = 64
N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
N_PLANES = 8


@query(
    "q_embedding_norm",
    oracle=f"""
    SELECT vec_id,
           sqrt(list_reduce(list_transform(range(1, {DIM + 1}),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                (x, y) -> x + y)) AS l2_norm
    FROM embeddings
    """,
    tags=("similarity", "pipeline"),
)
def q_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding — the basic vector kernel, per-row, no
    shuffle. Left-fold in double precision == DuckDB's list_reduce."""
    e = table(spark, sf_dir, "embeddings")
    prods = F.zip_with(
        F.col("embedding"), F.col("embedding"), lambda x, y: x.cast("double") * y.cast("double")
    )
    return e.select(
        "vec_id", F.sqrt(F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)).alias("l2_norm")
    )


def _knn(q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """Shared top-k kernel: cosine + per-query row_number.

    Norms are precomputed per side *below* the join (projections don't
    collapse across a join), so each vector's norm fold runs once per
    row, not once per pair; the per-pair work is just the dot product.
    Bit-identical to computing cosine() per pair — same IEEE ops.
    """
    q = q.withColumn("q_norm", norm(F.col("q_emb")))
    c = c.withColumn("c_norm", norm(F.col("c_emb")))
    joined = q.crossJoin(c) if "bucket" not in q.columns else q.join(c, "bucket")
    scored = joined.select(
        F.col("qid"),
        F.col("cand_id"),
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cand_id", "rn", "cos_sim")
    )


@query(
    "q_knn_brute",
    oracle=f"""
    SELECT qid, cand_id, rn, cos_sim FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cand_id,
             {duck_cosine('q.embedding', 'c.embedding', DIM)} AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {duck_cosine('q.embedding', 'c.embedding', DIM)} DESC, c.vec_id
             ) AS rn
      FROM embeddings q
      JOIN embeddings c ON c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "pipeline"),
    bench=True,
)
def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: small query set broadcast against the
    full candidate corpus, ranked per query. The broadcast means the
    candidate scan is the only pass over big data — this is the exact
    baseline an ANN index is validated against."""
    from duckdb_pst_spark.functions.partitioning import spread

    e = table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
        )
    )
    # the per-pair fold is interpreted compute — guard scan parallelism
    c = spread(e.filter(F.col("vec_id") >= N_QUERIES)).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    return _knn(q, c, TOP_K)


# ---------------------------------------------------------- LSH variant
def _plane_weight(p: int, j: int) -> int:
    """Deterministic pseudo-random hyperplane component in {-3..3}.
    j is the 1-based dimension index (matches DuckDB list indexing)."""
    return ((p * 31 + j * 17) % 7) - 3


def _bucket_col(emb: str) -> Column:
    """Hyperplane-sign bucket id (0..2^N_PLANES-1) for an embedding col."""
    bits = []
    for p in range(N_PLANES):
        w = F.array(*[F.lit(float(_plane_weight(p, j))) for j in range(1, DIM + 1)])
        dot = F.aggregate(
            F.zip_with(w, F.col(emb), lambda x, y: x * y.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _duck_bucket(emb: str) -> str:
    terms = []
    for p in range(N_PLANES):
        prods = (
            f"list_transform(range(1, {DIM + 1}), "
            f"j -> CAST((({p} * 31 + j * 17) % 7) - 3 AS DOUBLE) * CAST({emb}[j] AS DOUBLE))"
        )
        dot = f"list_reduce({prods}, (x, y) -> x + y)"
        terms.append(f"CASE WHEN {dot} > 0 THEN CAST({2**p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return "(" + " + ".join(terms) + ")"


@query(
    "q_knn_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
      FROM embeddings
    )
    SELECT qid, cand_id, rn, cos_sim FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cand_id,
             {duck_cosine('q.embedding', 'c.embedding', DIM)} AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {duck_cosine('q.embedding', 'c.embedding', DIM)} DESC, c.vec_id
             ) AS rn
      FROM b q
      JOIN b c ON c.bucket = q.bucket AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-of-random-hyperplane bucketing (8
    deterministic integer planes), then cosine top-k *within the bucket
    only*. Recall trades against the 2^8-fold candidate reduction; at
    scale you'd multi-probe neighboring buckets. The join is a plain
    equi-join on the bucket key — shuffle ∝ bucket sizes, not n²."""
    e = table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket_col("embedding").alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"), "bucket"
    )
    c = b.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "bucket"
    )
    return _knn(q, c, TOP_K)


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {duck_cosine('a.embedding', 'b.embedding', DIM)} AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE {duck_cosine('a.embedding', 'b.embedding', DIM)} > 0.6
    """,
    tags=("dedup", "similarity", "pipeline"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: flag consecutive-id pairs whose cosine
    exceeds the threshold. In the full pipeline the pair source is the
    LSH bucket join (q_knn_lsh); id-adjacent pairing keeps the
    correctness kernel linear."""
    e = table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    paired = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
    )
    return paired.filter(F.col("cos_sim") > 0.6)


# ----------------------------------------------------------------- IVF ANN
N_CENTROIDS = 16  # coarse quantizer size; seeds = first candidate vectors


@query(
    "q_knn_ivf",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id - {N_QUERIES} AS cid, embedding AS cemb
      FROM embeddings
      WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {duck_cosine('e.embedding', 'cent.cemb', DIM)} DESC, cent.cid
               ) AS crn
        FROM embeddings e CROSS JOIN cent
      ) a WHERE crn = 1
    )
    SELECT qid, cand_id, rn, cos_sim FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cand_id,
             {duck_cosine('q.embedding', 'c.embedding', DIM)} AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {duck_cosine('q.embedding', 'c.embedding', DIM)} DESC, c.vec_id
             ) AS rn
      FROM assigned q
      JOIN assigned c ON c.cid = q.cid AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the scale path next to LSH): a deterministic coarse
    quantizer (seeds = the first {N_CENTROIDS} candidate vectors; no
    iterative training, so the DuckDB oracle reproduces it exactly)
    assigns every vector to its nearest centroid; each query then probes
    ONLY its own inverted list (nprobe=1). The assignment is a broadcast
    cross-join against 16 centroids (map-side), and the probe is an
    equi-join on the centroid id — shuffle ∝ list sizes, never n².
    At 100 TB: train real centroids offline, store list id as a partition
    column, and the probe becomes partition pruning. Assignment runs
    through the skinny-exchange argmax (_semantic_assign) — the rank
    window it replaced shuffled every embedding once per centroid."""
    from duckdb_pst_spark.functions.partitioning import spread

    e = spread(table(spark, sf_dir, "embeddings"))
    assigned = _semantic_assign(e)
    # The query side is N_QUERIES rows at any scale: broadcast it, as
    # q_knn_brute does. Left to AQE, the bucket join became a broadcast
    # only after the candidate side's bucket shuffle had run, so the
    # executed plan held 4 or 5 exchanges depending on stage timing.
    # At sf0.1 (4 vCPU, tools/ab.py min-of-5, 3 alternating checkout
    # pairs): 5 -> 3 exchanges, 0.56 -> 0.04 MiB shuffled, and
    # 2.29/2.69/2.74 -> 2.15/1.97/2.10 s.
    q = F.broadcast(
        assigned.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("cid").alias("bucket"),
        )
    )
    c = assigned.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), F.col("cid").alias("bucket")
    )
    return _knn(q, c, TOP_K)


@query(
    "q_embedding_quantize",
    oracle=f"""
    SELECT vec_id, amax, CAST(i - 1 AS BIGINT) AS pos,
           CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / amax) AS BIGINT)
           END AS code
    FROM (
      SELECT vec_id, embedding,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
               (a, x) -> greatest(a, x)) AS amax
      FROM embeddings
    ) t
    CROSS JOIN range(1, {DIM + 1}) r(i)
    """,
    tags=("similarity", "pipeline"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    vector-store compression step (4x smaller than float32, enough for
    recall-then-rerank ANN). Per vector: absolute max → scale, then
    codes = floor(v·127 / amax), zero-vector guarded. All per-row array
    algebra, no shuffle; the double arithmetic is a single multiply and
    divide per element in both engines, so results are bit-identical.

    Output is the EXPLODED (vec_id, amax, pos, code) form — scalar
    columns only, because the external hash gate canonicalizes results
    via a pandas sort that cannot factorize list cells (round-2 `err`).
    The array form is trivially regrouped with collect_list over pos.
    At 100 TB you'd store (amax, codes) and reconstruct approximate
    vectors executor-side during rerank — IO drops 4x, which is the
    actual bottleneck of brute-force scoring at scale."""
    emb = table(spark, sf_dir, "embeddings")
    amax = F.aggregate(
        F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    d = emb.select("vec_id", "embedding", amax.alias("amax"))
    codes = F.when(
        F.col("amax") == 0.0,
        F.transform(F.col("embedding"), lambda v: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 127 / F.col("amax")).cast("long"),
        )
    )
    return d.select(
        "vec_id", "amax", F.posexplode(codes).alias("pos", "code")
    ).select("vec_id", "amax", F.col("pos").cast("long").alias("pos"), "code")


from duckdb_pst_spark.registry import REGISTRY as _REG  # noqa: E402


@query(
    "q_knn_recall",
    oracle=f"""
    WITH brute AS ({_REG["q_knn_brute"].oracle}),
         lsh AS ({_REG["q_knn_lsh"].oracle})
    SELECT b.qid,
           CAST(COUNT(l.cand_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.cand_id) * 100 // {TOP_K} AS BIGINT) AS recall_pct
    FROM brute b
    LEFT JOIN lsh l ON l.qid = b.qid AND l.cand_id = b.cand_id
    GROUP BY b.qid
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QA: recall@{k} of the LSH path against the exact
    brute-force baseline, per query — the acceptance metric every
    approximate index ships with (an IVF/LSH variant that loses recall
    silently poisons the downstream dedup/retrieval pipeline).

    Scale design: composes the two ANN plans; the comparison itself is a
    broadcast join of two tiny top-k sets (|Q|·k rows each), so its cost
    is the two underlying scans — recall evaluation on a 100 TB corpus
    runs at index-build cost over a sampled query set. Integer recall
    (hits·100/k) keeps the oracle hash exact."""
    brute = q_knn_brute(spark, sf_dir).select("qid", "cand_id")
    lsh = q_knn_lsh(spark, sf_dir).select("qid", "cand_id")
    hits = (
        brute.join(F.broadcast(lsh), ["qid", "cand_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        brute.select("qid")
        .distinct()
        .join(F.broadcast(hits), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("h"), F.lit(0)) * 100 / TOP_K)
            .cast("long")
            .alias("recall_pct"),
        )
    )


@query(
    "q_knn_recall_ivf",
    oracle=f"""
    WITH brute AS ({_REG["q_knn_brute"].oracle}),
         ivf AS ({_REG["q_knn_ivf"].oracle})
    SELECT b.qid,
           CAST(COUNT(i.cand_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.cand_id) * 100 // {TOP_K} AS BIGINT) AS recall_pct
    FROM brute b
    LEFT JOIN ivf i ON i.qid = b.qid AND i.cand_id = b.cand_id
    GROUP BY b.qid
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the IVF path against the exact brute-force baseline
    — the twin of q_knn_recall for the second ANN index. IVF's recall
    failure mode differs from LSH's (a query near a centroid boundary
    loses its true neighbors to the unprobed adjacent list, where LSH
    loses near-orthogonal-plane neighbors), so each index ships its own
    QA metric; watching both is how you pick nprobe/planes on real data.
    Same scale shape as q_knn_recall: two index scans plus a broadcast
    join of tiny |Q|·k top-k sets."""
    brute = q_knn_brute(spark, sf_dir).select("qid", "cand_id")
    ivf = q_knn_ivf(spark, sf_dir).select("qid", "cand_id")
    hits = (
        brute.join(F.broadcast(ivf), ["qid", "cand_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        brute.select("qid")
        .distinct()
        .join(F.broadcast(hits), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("h"), F.lit(0)) * 100 / TOP_K)
            .cast("long")
            .alias("recall_pct"),
        )
    )


# ----------------------------------------------------- iterative k-means
KM_K = 8  # centroids; seeds = first KM_K vectors (deterministic init)
KM_ITERS = 2
KM_SCALE = 1_000_000  # fixed-point scale for portable centroid math


def _km_cte() -> str:
    """The shared DuckDB CTE chain: scaled points `pts`, two unrolled
    Lloyd iterations ending in trained centroids `c2` and the final
    assignment `af` (vec_id, sv, cid). All-integer — see q_kmeans_iter."""
    sq = (
        "list_transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) "
        f"* {KM_SCALE}) AS BIGINT))"
    )
    dist = (
        "list_reduce(list_transform(range(1, {d} + 1), "
        "i -> (e.sv[i] - c.cvec[i]) * (e.sv[i] - c.cvec[i])), (x, y) -> x + y)"
    ).format(d=DIM)

    def assign(cprev: str, name: str) -> str:
        return f"""
    {name} AS (
      SELECT vec_id, sv, cid FROM (
        SELECT e.vec_id, e.sv, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
        FROM pts e CROSS JOIN {cprev} c
      ) t WHERE rn = 1
    )"""

    def update(aname: str, cprev: str, name: str) -> str:
        # per-dim integer-div means, empty clusters keep the old centroid
        return f"""
    {name}_sums AS (
      SELECT cid, i, CAST(SUM(sv[i]) AS BIGINT) // count(*) AS m
      FROM {aname}, range(1, {DIM + 1}) r(i)
      GROUP BY cid, i
    ),
    {name}_new AS (
      SELECT cid, list(m ORDER BY i) AS cvec FROM {name}_sums GROUP BY cid
    ),
    {name} AS (
      SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
      FROM {cprev} p LEFT JOIN {name}_new n ON n.cid = p.cid
    )"""

    return f"""
    WITH pts AS (
      SELECT vec_id, {sq} AS sv FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid, {sq} AS cvec FROM embeddings WHERE vec_id < {KM_K}
    ),{assign("c0", "a1")},{update("a1", "c0", "c1")},{assign("c1", "a2")},{update("a2", "c1", "c2")},{assign("c2", "af")}"""


def _km_oracle() -> str:
    return (
        _km_cte()
        + """
    SELECT f.cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(list_reduce(list_transform(any_value(c.cvec), x -> abs(x)),
                            (x, y) -> x + y) AS BIGINT) AS centroid_l1
    FROM af f JOIN c2 c ON c.cid = f.cid
    GROUP BY f.cid
    """
    )


@query(
    "q_kmeans_iter",
    oracle=_km_oracle(),
    tags=("similarity", "iterative", "pipeline"),
)
def q_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, {it} iterations, ENGINE-EXACT — the iterative-
    algorithm primitive (centroid training for the IVF index) expressed
    so a SQL oracle can hash-check it, which iterative ML almost never
    allows. Everything is fixed-point: embeddings scale to integers
    (floor(v·1e6)), distances are integer sums of squared diffs (≤64
    dims · (1e7)² ≈ 6e15, BIGINT-safe), and centroid updates are
    per-dimension integer-division means — so both engines walk the
    identical lattice and every centroid bit matches. Ties in the
    argmin break by centroid id; empty clusters keep their previous
    centroid.

    Scale shape per iteration: assignment is a broadcast cross-join
    against K={k} centroids (map-side, the IVF assignment plan), and
    the update is ONE posexplode + groupBy(cid, dim) partial-aggregated
    shuffle of K·{d} rows of partial sums — the corpus is scanned once
    per iteration, centroids live on the driver between iterations
    (tiny), exactly how distributed k-means runs at 100 TB. The loop is
    a real driver-side iteration over DataFrame programs, not an
    unrolled plan. Since round 6 the assignment arithmetic runs in
    _lloyd_gemm's exact-integer BLAS kernel (bit-identical to the
    interpreted _lloyd, equivalence test-gated).""".format(
        it=KM_ITERS, k=KM_K, d=DIM
    )
    # Bit-exact BLAS training twin (_lloyd is the interpreted reference
    # the equivalence gate pins against): interleaved min-of-3 at
    # Zipf-100×, 30.9 → 6.1 s, md5-equal output — 0.35× same-box DuckDB.
    final, centroids = _lloyd_gemm(spark, sf_dir, KM_K, with_vectors=True)
    l1 = F.aggregate(
        F.transform(F.col("cvec"), lambda x: F.abs(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        final.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .join(F.broadcast(centroids), "cid")
        .select("cid", "n_members", l1.alias("centroid_l1"))
    )


def _lloyd(
    spark: SparkSession, sf_dir: str, k: int = KM_K
) -> tuple[DataFrame, DataFrame]:
    """Run KM_ITERS Lloyd iterations with k centroids; return (final
    assignment (vec_id, sv, cid), trained centroids (cid, cvec)) — the
    Spark twin of the `af` / `c2` CTEs in `_km_cte` (which unrolls the
    default k=KM_K)."""
    e = table(spark, sf_dir, "embeddings")
    sv = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * KM_SCALE).cast("long"),
    )
    pts = e.select("vec_id", sv.alias("sv"))
    centroids = (
        pts.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("sv").alias("cvec"))
        .localCheckpoint(eager=True)
    )

    def assign(cents: DataFrame) -> DataFrame:
        # Skinny-exchange argmin (same shape as _semantic_assign): the
        # distances aggregate map-side as min(struct(d2, cid)) — ties
        # break to the lowest cid, matching the oracle's (d2, cid) rank —
        # and the scaled vectors rejoin once by vec_id instead of riding
        # a rank window K times per iteration. Measured neutral at 100×
        # here (the iteration is dominated by the posexplode centroid
        # sums, not this exchange); kept for the bounded-exchange shape
        # shared with _semantic_assign, where it measured 2×.
        d2 = F.aggregate(
            F.zip_with(F.col("sv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        best = (
            pts.crossJoin(F.broadcast(cents))
            .select("vec_id", d2.alias("d2"), "cid")
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )
        return pts.join(best, "vec_id").select("vec_id", "sv", "cid")

    for _ in range(KM_ITERS):
        assigned = assign(centroids)
        sums = (
            assigned.select("cid", F.posexplode("sv").alias("i", "s"))
            .groupBy("cid", "i")
            .agg(F.sum("s").alias("ssum"), F.count(F.lit(1)).alias("n"))
            .select("cid", "i", F.expr("ssum div n").cast("long").alias("m"))
        )
        new_c = sums.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
        centroids = (
            centroids.alias("p")
            .join(new_c.alias("n"), "cid", "left")
            .select("cid", F.coalesce("n.cvec", "p.cvec").alias("cvec"))
            .localCheckpoint(eager=True)  # cut lineage per iteration
        )

    return assign(centroids), centroids


# |sv| below this keeps every dot-product partial sum under 2^53, so the
# float64 BLAS matmul is EXACT integer arithmetic: sqrt(2^53 / 64) ≈ 1.18e7
_GEMM_EXACT_BOUND = 11_863_283


def _lloyd_gemm(spark: SparkSession, sf_dir: str, k: int, *, with_vectors: bool = False):
    """Bit-exact drop-in twin of `_lloyd`'s assignment on the SAME
    fixed-point integer lattice, with the O(n·K·dim) distance arithmetic
    moved from interpreted JVM folds into one BLAS matmul per Arrow
    batch — the kernel that makes LARGE K affordable (at K≈1000 the
    interpreted fold measured 21.6 s at 10× replica volume just for
    training; the matmul form is bounded by BLAS throughput).

    Exactness: scaled components are integers |sv| < 1.19e7, so every
    x·c partial sum stays < 2^53 and the float64 GEMM result is the
    exact integer dot product; d² = ‖x‖² − 2x·c + ‖c‖² is then finished
    in int64 (the float subtraction could round past 2^53, int64
    cannot), and argmin ties break to the lowest cid exactly like
    min(struct(d2, cid)). Centroid updates are int64 partial sums
    accumulated IN the assignment kernel (integer addition is
    order-free, so parallelism cannot perturb the result), reduced by a
    K·dim-row shuffle, floored with the same `div` as `_lloyd`, empty
    clusters keeping their previous centroid. Equivalence to `_lloyd`
    is test-gated (tests/test_knn_gemm.py::test_lloyd_gemm_matches_jvm).

    Scale shape per iteration: one corpus scan (mapInPandas), partial
    state K·(dim+1) int64 per task, one K·dim-row partial-agg shuffle,
    centroids (≤ 64k × 64 longs) live on the driver between iterations.
    Returns the final assignment (vec_id, cid) — or, with
    ``with_vectors=True``, the pair (assignment (vec_id, sv, cid),
    trained centroids (cid, cvec)): the `_lloyd` return contract, for
    consumers like q_knn_ivfpq that need the vectors and codebook
    downstream of training."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    sv = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * KM_SCALE).cast("long"),
    )
    # One materialization; every training pass re-reads 64 longs per row
    # instead of re-running the interpreted scale transform.
    pts = e.select("vec_id", sv.alias("sv")).localCheckpoint(eager=True)

    seed_rows = sorted(
        pts.filter(F.col("vec_id") < k).collect(), key=lambda r: r.vec_id
    )
    C = np.array([r.sv for r in seed_rows], dtype=np.int64)
    cids = np.array([r.vec_id for r in seed_rows], dtype=np.int64)
    k_eff = len(cids)  # fewer seeds than k if vec_ids are sparse

    def assign_ids(Xi: "np.ndarray", Ci: "np.ndarray") -> "np.ndarray":
        """Exact integer argmin-distance row → centroid ROW index."""
        cn = (Ci * Ci).sum(axis=1)  # ≤ 64·(1.19e7)² < 2^63
        xn = (Xi * Xi).sum(axis=1)
        exact_blas = (
            np.abs(Xi).max(initial=0) < _GEMM_EXACT_BOUND
            and np.abs(Ci).max(initial=0) < _GEMM_EXACT_BOUND
        )
        out = np.empty(len(Xi), dtype=np.int64)
        # row-chunk so the chunk×K score matrix stays ≤ ~256 MB
        chunk = max(1, 33_554_432 // max(1, len(Ci)))
        Cf = Ci.astype(np.float64)
        for lo in range(0, len(Xi), chunk):
            hi = min(lo + chunk, len(Xi))
            if exact_blas:
                dot = np.rint(Xi[lo:hi].astype(np.float64) @ Cf.T).astype(np.int64)
            else:  # exact integer matmul fallback (no BLAS, still C loops)
                dot = Xi[lo:hi] @ Ci.T
            d2 = xn[lo:hi, None] - 2 * dot + cn[None, :]
            out[lo:hi] = np.argmin(d2, axis=1)  # first min = lowest cid
        return out

    def train_kernel_factory(bcC, bcCids):
        def kernel(batches):
            import pandas as pd

            from duckdb_pst_spark.functions.batches import rebatch

            Ci, ids = bcC.value, bcCids.value
            counts = np.zeros(len(Ci), dtype=np.int64)
            sums = np.zeros(Ci.shape, dtype=np.int64)
            for pdf in rebatch(batches, 8192):
                Xi = np.stack(pdf["sv"].to_numpy()).astype(np.int64)
                rows = assign_ids(Xi, Ci)
                counts += np.bincount(rows, minlength=len(Ci))
                # np.add.at KEPT for the row sums after a measured A/B
                # (round 7): the suggested sort+reduceat swap loses at
                # every K on the 8192-row batch shape (K=1000: 4.5 vs
                # 5.6 ms; K=65536: 26 vs 38 ms, outputs identical) —
                # an 8192-row batch scatters into mostly-singleton
                # groups at large K, so the sort is pure overhead,
                # unlike the text.py bincount win where each batch held
                # many duplicates per key
                np.add.at(sums, rows, Xi)
            nz = np.nonzero(counts)[0]
            # explicit dtypes: an empty partition would otherwise infer
            # float64 ndarray columns, which pyarrow cannot convert to
            # list<int64> on the Arrow output path
            yield pd.DataFrame(
                {
                    "cid": pd.Series(ids[nz].tolist(), dtype="int64"),
                    "n": pd.Series(counts[nz].tolist(), dtype="int64"),
                    "sums": pd.Series(sums[nz].tolist(), dtype="object"),
                }
            )

        return kernel

    sc = spark.sparkContext
    for _ in range(KM_ITERS):
        bcC, bcCids = sc.broadcast(C), sc.broadcast(cids)
        parts = pts.mapInPandas(
            train_kernel_factory(bcC, bcCids), "cid long, n long, sums array<long>"
        )
        counts = parts.groupBy("cid").agg(F.sum("n").alias("n"))
        dims = (
            parts.select("cid", F.posexplode("sums").alias("i", "s"))
            .groupBy("cid", "i")
            .agg(F.sum("s").alias("ssum"))
        )
        # same truncating `div` as _lloyd's update — identical lattice walk
        upd = counts.join(dims, "cid").select(
            "cid", "i", F.expr("ssum div n").cast("long").alias("m")
        )
        newC = C.copy()  # empty clusters keep their previous centroid
        pos = {int(c): j for j, c in enumerate(cids)}
        for r in upd.collect():
            newC[pos[r.cid], r.i] = r.m
        C = newC
        # the collect() above is the only action that reads this pass's
        # broadcasts — release them now (at the q_dedup_semantic_scaled
        # cap they are ~34 MB each; keeping every pass would leak
        # ~(KM_ITERS)*2 broadcasts for the session lifetime)
        bcC.unpersist(blocking=False)
        bcCids.unpersist(blocking=False)

    # the final pair must stay alive: the returned DataFrame is lazy and
    # re-reads them whenever the caller's action executes the plan
    bcC, bcCids = sc.broadcast(C), sc.broadcast(cids)

    def assign_kernel(batches):
        import pandas as pd

        from duckdb_pst_spark.functions.batches import rebatch

        Ci, ids = bcC.value, bcCids.value
        for pdf in rebatch(batches, 8192):
            Xi = np.stack(pdf["sv"].to_numpy()).astype(np.int64)
            out = {"vec_id": pdf["vec_id"].to_numpy(), "cid": ids[assign_ids(Xi, Ci)]}
            if with_vectors:
                # explicit object dtype: the empty-partition float64
                # inference cannot convert to list<int64> (house gotcha)
                out = {
                    "vec_id": out["vec_id"],
                    "sv": pd.Series(list(pdf["sv"].to_numpy()), dtype="object"),
                    "cid": out["cid"],
                }
            yield pd.DataFrame(out)

    if not with_vectors:
        return pts.mapInPandas(assign_kernel, "vec_id long, cid long")
    final = pts.mapInPandas(assign_kernel, "vec_id long, sv array<long>, cid long")
    cents = spark.createDataFrame(
        [(int(c), [int(x) for x in row]) for c, row in zip(cids, C)],
        "cid long, cvec array<long>",
    )
    return final, cents


@query(
    "q_knn_ivf_trained",
    oracle=_km_cte()
    + f"""
    SELECT qid, cand_id, rn FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cand_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_reduce(list_transform(range(1, {DIM + 1}),
                          i -> (q.sv[i] - c.sv[i]) * (q.sv[i] - c.sv[i])),
                          (x, y) -> x + y),
                        c.vec_id
             ) AS rn
      FROM af q
      JOIN af c ON c.cid = q.cid AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "iterative", "pipeline"),
)
def q_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN chain — TRAIN (fixed-point Lloyd's, q_kmeans_iter's
    loop) → INDEX (every vector assigned to its trained centroid's
    inverted list) → PROBE (each query searches only its own list,
    nprobe=1, ranked by the same integer squared-L2) — composed as one
    program and hash-checked end to end, because every stage is on the
    portable integer lattice. q_knn_ivf is this chain with a
    no-training quantizer; training moves the centroids to where the
    data is, which is what makes the inverted lists balanced on skewed
    real corpora.

    Scale shape: training is per-iteration one corpus scan + a K·dim
    partial-agg shuffle (BLAS assignment via `_lloyd_gemm` since round
    6 — interleaved min-of-3 at Zipf-100×: 32.7 → 7.9 s, md5-equal
    top-k, 0.35× same-box DuckDB); the index assignment is the training
    loop's last broadcast pass; the probe is an equi-join on cid —
    shuffle ∝ list sizes. At 100 TB the lists become partition values
    and the probe becomes partition pruning (q_knn_ivf's docstring),
    with centroids retrained offline exactly as here."""
    final, _cent = _lloyd_gemm(spark, sf_dir, KM_K, with_vectors=True)
    q = final.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("q_sv"), "cid"
    )
    c = final.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("sv").alias("c_sv"), "cid"
    )
    d2 = F.aggregate(
        F.zip_with(F.col("q_sv"), F.col("c_sv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cand_id"))
    return (
        q.join(c, "cid")
        .select("qid", "cand_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id", "rn")
    )


# ------------------------------------------------------------ BLAS path
def _gemm_topk_kernel(bq, k: int):
    """Factory for the Arrow-batched GEMM top-k kernel.

    Each batch of candidate vectors becomes one float64 matrix; cosine
    against ALL queries is a single BLAS matmul (queries pre-normalized
    once, broadcast); per-batch top-k per query via argpartition. The
    kernel emits ≤ |Q|·k rows per batch — the full pairwise score matrix
    never materializes off the BLAS registers."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from duckdb_pst_spark.functions.batches import rebatch

        qids, Qn = bq.value
        # Session Arrow cap is payload-safe-small (256): coalesce chunks
        # so each BLAS matmul covers ~8k candidates and the |Q|·k partial
        # top-k is emitted per 8k rows, not per 256 (32× fewer rows into
        # the rank-merge shuffle).
        for pdf in rebatch(batches, 8192):
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            # Pre-sort the batch by cand_id so a STABLE score sort breaks
            # score ties by ascending cand_id — the same tiebreak as the
            # exact baseline's (cos_sim DESC, cand_id ASC) rank. With
            # argpartition alone, duplicate embeddings tied at the kth
            # boundary were kept arbitrarily and the final pair set could
            # diverge from q_knn_brute on tie-heavy data.
            ord0 = np.argsort(ids, kind="stable")
            ids = ids[ord0]
            C = C[ord0]
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Qn @ Cn.T  # (|Q|, batch)
            kk = min(k, S.shape[1])
            top = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            rows_q = np.repeat(qids, kk)
            rows_c = ids[top.ravel()]
            rows_s = np.take_along_axis(S, top, axis=1).ravel()
            yield pd.DataFrame({"qid": rows_q, "cand_id": rows_c, "cos_sim": rows_s})

    return kernel


@query(
    "q_knn_gemm",
    tags=("similarity", "fast"),
    bench=True,
    oracle=_PINNED["q_knn_gemm"],
    pinned_sf=_PIN_SF,
)
def q_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k on the 100 TB hot path: the query set
    (bounded, |Q|={n} vectors) is collected once and broadcast as a
    pre-normalized numpy matrix; candidates stream through an
    Arrow-batched ``mapInPandas`` kernel that scores a whole batch with
    ONE BLAS matmul and pre-trims to its local top-k — so the shuffle
    that finalizes ranks carries only |Q|·k rows per input partition,
    never the |Q|·|C| score matrix. This is the shape a 100 TB
    embedding sweep takes: scan-local GEMM, trivially partitionable,
    no cross-partition traffic until the (tiny) rank merge.

    Twin of the oracle-checked ``q_knn_brute`` (GEMM sums in a different
    order than the portable left-fold, so raw doubles differ in the last
    bits — and BLAS blocking varies with the Arrow batch shape, so even
    two Spark runs can differ by 1 ulp); ``tests/test_knn_gemm.py``
    asserts the top-k PAIR SET matches the exact baseline. Driver
    correctness: the per-batch top-k pre-trim inside the kernel selects
    on EXACT BLAS scores, while the GLOBAL rank merge deliberately
    orders by the 9-decimal ROUNDED score (+ cand_id tiebreak) — see
    the comment at the window below — and the emitted ``cos_sim`` is
    that rounded, batch-shape-invariant value, so the output pins to a
    constant VALUES golden at sf0.01 (tools/pin_goldens.py).""".format(n=N_QUERIES)
    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    )
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    from duckdb_pst_spark.functions.partitioning import spread

    bq = spark.sparkContext.broadcast((qids, Qn))
    partial = (
        spread(e.filter(F.col("vec_id") >= N_QUERIES))
        .select("vec_id", "embedding")
        .mapInPandas(_gemm_topk_kernel(bq, TOP_K), "qid long, cand_id long, cos_sim double")
    )
    # Rank on the ROUNDED score: the raw BLAS trailing bits vary by 1 ulp
    # with batch blocking (and could vary across hosts), so an exact-score
    # orderBy could swap two near-tied candidates between runs; at 9
    # decimals such pairs collapse to a tie and cand_id breaks it
    # deterministically (real score gaps on this corpus are >> 1e-9).
    partial = partial.withColumn("cos_sim", F.round("cos_sim", 9))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id", "rn", "cos_sim")
    )


# --------------------------------------------- recall-then-rerank chain
RERANK_M = 4 * TOP_K  # stage-1 shortlist size per query


@query(
    "q_ann_rerank",
    bench=True,
    oracle=f"""
    WITH amx AS (
      SELECT vec_id, embedding,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
               (a, x) -> greatest(a, x)) AS amax
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id, embedding,
             CASE WHEN amax = 0
                  THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127 / amax) AS BIGINT))
             END AS code
      FROM amx
    ),
    stage1 AS (
      SELECT q.vec_id AS qid, c.vec_id AS cand_id,
             q.embedding AS q_emb, c.embedding AS c_emb,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {DIM + 1}), i -> q.code[i] * c.code[i])),
               (a, x) -> a + x) AS qdot
      FROM codes q JOIN codes c ON c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ),
    short AS (
      SELECT qid, cand_id, q_emb, c_emb FROM (
        SELECT qid, cand_id, q_emb, c_emb,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY qdot DESC, cand_id) AS crn
        FROM stage1
      ) t WHERE crn <= {RERANK_M}
    )
    SELECT qid, cand_id, rn, cos_sim FROM (
      SELECT qid, cand_id,
             {duck_cosine('q_emb', 'c_emb', DIM)} AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY {duck_cosine('q_emb', 'c_emb', DIM)} DESC, cand_id) AS rn
      FROM short
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "pipeline"),
)
def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: INT8-quantized coarse scoring shortlists
    {4k} candidates per query (integer dot product over the q_embedding_
    quantize codes — pure int64 arithmetic, bit-portable), then the
    shortlist is re-ranked with exact float cosine → top-{k}. This is
    the standard vector-store serving shape: scan the compressed index,
    touch full-precision vectors only for the shortlist.

    Scale design: stage 1 reads 4x fewer bytes than float scoring (int8
    codes) and its integer dot never needs the float vectors, so at
    100 TB the full-precision embeddings are fetched for |Q|·{4k} rows
    only — the rerank is a broadcast-sized join, not a corpus scan. The
    per-query shortlist heap is a window rank over the broadcast-join
    output (one shuffle of |Q|·{4k} carried rows); both stages tiebreak
    on cand_id so the chain is deterministic end to end.
    """
    from duckdb_pst_spark.functions.partitioning import spread

    e = table(spark, sf_dir, "embeddings")
    amax = F.aggregate(
        F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    code = F.when(
        F.col("amax") == 0.0,
        F.transform(F.col("embedding"), lambda v: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 127 / F.col("amax")).cast("long"),
        )
    )
    coded = e.select("vec_id", "embedding", amax.alias("amax")).select(
        "vec_id", "embedding", code.alias("code")
    )
    q = F.broadcast(
        coded.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("code").alias("q_code"),
        )
    )
    c = spread(coded.filter(F.col("vec_id") >= N_QUERIES)).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("code").alias("c_code"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_code"), F.col("c_code"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    w1 = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("cand_id"))
    short = (
        q.crossJoin(c)
        .select("qid", "cand_id", "q_emb", "c_emb", qdot.alias("qdot"))
        .withColumn("crn", F.row_number().over(w1))
        .filter(F.col("crn") <= RERANK_M)
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        short.select("qid", "cand_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id", "rn", "cos_sim")
    )


def _semantic_assign(e: DataFrame) -> DataFrame:
    """Nearest-centroid assignment with a SKINNY exchange, shared by both
    semantic-dedup twins. Cosines to the 16 broadcast centroids are
    computed scan-local; the argmax then runs as a map-side-combinable
    max(struct(cos, -cid)) aggregate carrying only (vec_id, cos, cid) —
    the window form shuffled every 64-float embedding 16× through the
    rank exchange (measured: 28.6 → 13.2 s at 100× replica volume for
    the GEMM twin). Tie semantics match the oracle's ROW_NUMBER
    (cos DESC, cid ASC) exactly: struct max picks the highest cosine,
    then the highest -cid — the lowest cid. Embeddings rejoin by vec_id:
    one array-bearing exchange instead of sixteen."""
    cent = (
        e.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
        )
        .select((F.col("vec_id") - N_QUERIES).alias("cid"), F.col("embedding").alias("cemb"))
    )
    pairc = (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cid", cosine(F.col("embedding"), F.col("cemb")).alias("cs")
        )
    )
    best = (
        pairc.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cs").alias("cs"), (-F.col("cid")).alias("ncid"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.ncid")).cast("long").alias("cid"))
    )
    return e.join(best, "vec_id").select("vec_id", "embedding", "cid")


# ------------------------------------------------------- semantic dedup
SEMANTIC_THRESHOLD = 0.30  # within-cluster cosine above this ⇒ near-dup pair


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id - {N_QUERIES} AS cid, embedding AS cemb
      FROM embeddings
      WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
    ), assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {duck_cosine('e.embedding', 'cent.cemb', DIM)} DESC, cent.cid
               ) AS crn
        FROM embeddings e CROSS JOIN cent
      ) a WHERE crn = 1
    )
    SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {duck_cosine('a.embedding', 'b.embedding', DIM)} AS cos_sim
    FROM assigned a
    JOIN assigned b ON b.cid = a.cid AND b.vec_id > a.vec_id
    WHERE {duck_cosine('a.embedding', 'b.embedding', DIM)} > {SEMANTIC_THRESHOLD}
    """,
    tags=("similarity", "dedup", "pipeline"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-partitioned embedding near-dup — the SemDeDup shape
    (Abbas et al., 2023: cluster the corpus, compare pairs only within
    a cluster, drop one member of every high-cosine pair). The coarse
    quantizer is the same deterministic 16-centroid assignment as
    q_knn_ivf, so the DuckDB oracle reproduces the clustering exactly;
    emitted rows are the within-cluster pairs above the threshold — the
    drop policy (keep min vec_id per pair chain) is q_dedup_cluster's
    job downstream.

    Scale design: pairwise comparison is confined to cluster members —
    the cross-cluster n² never exists. Assignment is a broadcast
    cross-join against K centroids (map-side, scan-local); the pair
    join shuffles once on the cluster id. With real trained centroids
    (q_kmeans_iter) K scales with corpus size so cluster populations
    stay bounded (~n/K per list), keeping per-cluster pair counts flat;
    skewed clusters are AQE's skew-join case, and the per-pair kernel
    is q_knn_gemm's per-batch GEMM when the interpreted fold becomes
    the bottleneck. Norms are computed once per member below the join
    (same IEEE op sequence as the per-pair cosine — see _knn)."""
    from duckdb_pst_spark.functions.partitioning import spread

    e = spread(table(spark, sf_dir, "embeddings"))
    assigned = _semantic_assign(e).select(
        "vec_id", "embedding", "cid", norm(F.col("embedding")).alias("nrm")
    )
    a = assigned.select(
        "cid",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        "cid",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cos_sim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        a.join(b, ["cid"])
        .filter(F.col("vec_b") > F.col("vec_a"))
        .select("cid", "vec_a", "vec_b", cos_sim.alias("cos_sim"))
        .filter(F.col("cos_sim") > SEMANTIC_THRESHOLD)
    )


@query(
    "q_dedup_semantic_gemm",
    tags=("similarity", "dedup", "fast"),
    oracle=_PINNED["q_dedup_semantic_gemm"],
    pinned_sf=_PIN_SF,
)
def q_dedup_semantic_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_semantic's production kernel: identical clustering, but
    the within-cluster pairwise cosine runs as a per-cluster BLOCKED
    BLAS matmul (applyInPandas over the cluster id) instead of the
    interpreted JVM fold — measured 4.9 s → 1.5 s at sf0.1 (5k vectors,
    ~780k pairs). Row blocks bound the score-matrix allocation at
    1024×|cluster| doubles no matter how big the cluster gets; only
    above-threshold pairs ever materialize. Pair SET is asserted equal
    to the exact twin in tests (tests/test_knn_gemm.py) — BLAS
    accumulation order differs from the sequential fold, so raw cos_sim
    differs in the last bits; the EMITTED cos_sim is rounded to 9
    decimals (threshold filtering stays exact) so the output pins to a
    constant VALUES golden at sf0.01 (tools/pin_goldens.py).

    At 100 TB: K grows with the corpus (train centroids with
    q_kmeans_iter) so cluster populations stay bounded; each cluster is
    one task — the shuffle is the assignment exchange, and clusters too
    big for one task sub-block by a salted secondary key (trading a few
    cross-block duplicate checks for parallelism)."""
    from duckdb_pst_spark.functions.partitioning import spread

    e = spread(table(spark, sf_dir, "embeddings"))
    assigned = _semantic_assign(e)
    return assigned.groupBy("cid").applyInPandas(
        _cluster_pairs_kernel, "cid long, vec_a long, vec_b long, cos_sim double"
    ).withColumn("cos_sim", F.round("cos_sim", 9))


def _cluster_pairs_kernel(pdf):
    """Per-cluster blocked-GEMM near-dup pairs (applyInPandas body shared
    by the semantic-dedup GEMM twins). Row blocks bound the score-matrix
    allocation at 1024×|cluster| doubles; only above-threshold upper-
    triangle pairs materialize.

    The threshold membership test runs on RAW BLAS scores (only the
    emitted cos_sim is rounded): safe for the constant-pinned goldens
    because the pinned corpus is VERIFIED to have no pair within 1e-6
    of SEMANTIC_THRESHOLD (min margin 6.9e-05 — eleven orders above
    cross-BLAS accumulation noise; certificate:
    tests/test_knn_gemm.py::test_semantic_threshold_margin_on_pinned_corpus)."""
    import numpy as np
    import pandas as pd

    if len(pdf) < 2:
        return pd.DataFrame(
            {"cid": [], "vec_a": [], "vec_b": [], "cos_sim": []}
        ).astype({"cid": "int64", "vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    cid = int(pdf["cid"].iloc[0])
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    out_a, out_b, out_s = [], [], []
    block = 1024
    for lo in range(0, len(ids), block):
        hi = min(lo + block, len(ids))
        S = Xn[lo:hi] @ Xn.T  # (block, n) — bounded allocation
        r, c = np.nonzero(S > SEMANTIC_THRESHOLD)
        keep = ids[c] > ids[lo + r]  # upper triangle only (a < b)
        out_a.append(ids[lo + r[keep]])
        out_b.append(ids[c[keep]])
        out_s.append(S[r[keep], c[keep]])
    return pd.DataFrame(
        {
            "cid": np.full(sum(map(len, out_a)), cid, dtype="int64"),
            "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype="int64"),
            "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype="int64"),
            "cos_sim": np.concatenate(out_s) if out_s else np.array([], dtype="float64"),
        }
    )


_SEM_TARGET_CLUSTER = 512  # scaled twin: aim for ~this many vectors/cluster
_SEM_MAX_K = 65536  # centroid table must stay broadcastable (~34 MB at 64 dims)


@query(
    "q_dedup_semantic_scaled",
    tags=("similarity", "dedup", "fast"),
    oracle=_PINNED["q_dedup_semantic_scaled"],
    pinned_sf=_PIN_SF,
)
def q_dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION semantic-dedup twin with K ∝ corpus size — the
    piece VERDICT r3 flagged as missing: q_dedup_semantic_gemm's fixed
    K=16 keeps per-cluster pair work at O(n²/16), quadratic in corpus
    size; here K = clamp(n / 512, 8, 65536) and the centroids are
    REAL trained ones (q_kmeans_iter's fixed-point Lloyd loop, same
    KM_ITERS), so cluster populations stay ~512 and total pair work is
    O(n·512) — linear in the corpus. Pair semantics are identical to
    the exact twin on the same assignment (blocked upper-triangle GEMM,
    SEMANTIC_THRESHOLD); the pair SET is asserted equal to a JVM-fold
    exact computation on the trained assignment in
    tests/test_knn_gemm.py. BLAS accumulation order makes the trailing
    raw cos_sim bits engine-specific, so the EMITTED cos_sim rounds to
    9 decimals (threshold filtering stays exact) and the output pins to
    a constant VALUES golden at sf0.01 (tools/pin_goldens.py); K is a
    runtime count but deterministic on the pinned corpus.

    Scale shape: count → train with `_lloyd_gemm` (per iteration: one
    corpus scan through the exact-integer BLAS assignment kernel + a
    K·dim partial-agg shuffle; the interpreted JVM fold `_lloyd` uses
    is fine at K=8 but measured 21.6 s at 10× replica volume once
    K≈100) → assign (same kernel) → one shuffle on cid → per-cluster
    GEMM tasks. Clusters too big for one task sub-block by a salted
    secondary key; K caps at 65536 to keep the centroid table
    broadcastable."""
    from duckdb_pst_spark.functions.partitioning import spread

    e = spread(table(spark, sf_dir, "embeddings"))
    n = e.count()  # driver-side scalar, prices the index like IVF training
    k = max(KM_K, min(_SEM_MAX_K, n // _SEM_TARGET_CLUSTER))
    assigned = e.select("vec_id", "embedding").join(
        _lloyd_gemm(spark, sf_dir, k=k), "vec_id"
    )
    return assigned.groupBy("cid").applyInPandas(
        _cluster_pairs_kernel, "cid long, vec_a long, vec_b long, cos_sim double"
    ).withColumn("cos_sim", F.round("cos_sim", 9))


# ------------------------------------------------- product quantization
PQ_M = 8  # subspaces (64 dims → 8 × 8-dim subvectors)
PQ_SUB = DIM // PQ_M
PQ_K = 16  # codes per subspace (4-bit codes); seeds = first candidates
# per-subspace squared L2 between two full vectors restricted to the
# subspace starting at 1-based index s — written once, used verbatim on
# both engines so the IEEE op tree is identical
_D2_SPARK = (
    "aggregate(transform(sequence(s, s + {w}), "
    "i -> (CAST(element_at({a}, CAST(i AS INT)) AS DOUBLE)"
    " - CAST(element_at({b}, CAST(i AS INT)) AS DOUBLE))"
    " * (CAST(element_at({a}, CAST(i AS INT)) AS DOUBLE)"
    " - CAST(element_at({b}, CAST(i AS INT)) AS DOUBLE))), "
    "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
)
_D2_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(s, s + {w} + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
    "(acc, x) -> acc + x)"
)


@query(
    "q_knn_pq",
    oracle=f"""
    WITH nv AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE) /
               sqrt(list_reduce(list_transform(range(1, {DIM + 1}),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                 (x, y) -> x + y))) AS embedding
      FROM embeddings
    ),
    mm AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cb AS (
      SELECT CAST(mm.m AS BIGINT) AS m, e.vec_id - {N_QUERIES} AS code,
             CAST(1 + {PQ_SUB} * mm.m AS BIGINT) AS s, e.embedding AS cemb
      FROM nv e CROSS JOIN mm
      WHERE e.vec_id >= {N_QUERIES} AND e.vec_id < {N_QUERIES + PQ_K}
    ),
    encd AS (
      SELECT c.vec_id, b.m, b.code,
             {_D2_DUCK.format(a='c.embedding', b='b.cemb', w=PQ_SUB - 1)} AS d2
      FROM nv c JOIN cb b ON true
      WHERE c.vec_id >= {N_QUERIES}
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM encd
      ) t WHERE rn = 1
    ),
    qd AS (
      SELECT q.vec_id AS qid, b.m, b.code,
             CAST(FLOOR({_D2_DUCK.format(a='q.embedding', b='b.cemb', w=PQ_SUB - 1)}
                        * 1000000) AS BIGINT) AS d2u
      FROM nv q JOIN cb b ON true
      WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT qd.qid, enc.vec_id AS cand_id, CAST(sum(qd.d2u) AS BIGINT) AS adc_d2u
      FROM enc JOIN qd ON qd.m = enc.m AND qd.code = enc.code
      GROUP BY qd.qid, enc.vec_id
    )
    SELECT qid, cand_id, rn, adc_d2u FROM (
      SELECT qid, cand_id, adc_d2u,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY adc_d2u, cand_id) AS BIGINT) AS rn
      FROM adc
    ) t WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI'11) — the third
    index family beside LSH buckets and IVF lists: each vector is
    encoded as {PQ_M} 4-bit codes (nearest codebook entry per 8-dim
    subspace; deterministic seed codebooks so the oracle reproduces the
    training), and queries score candidates with Asymmetric Distance
    Computation — a per-query lookup table of subspace distances to
    every codebook entry, summed over the stored codes. Storage per
    vector drops 64×4 bytes → {PQ_M} nibbles; the query never touches
    raw candidate vectors. Subspace distances are floor-scaled to
    BIGINT before the ADC sum so the ranking is engine-exact (an
    unordered double sum would not be reproducible).

    Scale shape: encoding is scan-local per candidate against the
    broadcast {PQ_M}×{PQ_K}-row codebook, argmin'd map-side via the
    skinny min(struct) aggregate; the ADC join keys the broadcast
    |Q|·{PQ_M}·{PQ_K} lookup table against the code column — the only
    corpus-sized exchange is the (qid, cand) partial-sum aggregate, and
    at serving scale the lookup-add runs inside one Arrow kernel per
    batch (the q_knn_gemm pattern) with the codes as packed bytes."""
    # Unit-normalize first: on unit vectors L2² = 2 − 2·cos, so the ADC
    # ranking approximates the cosine ranking the brute baseline uses —
    # recall@k then measures QUANTIZATION loss, not a metric mismatch.
    # The norm fold is the same IEEE op tree as the oracle's (see
    # q_embedding_norm), so normalized values agree bit-for-bit.
    raw = table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("embedding"),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    e = (
        raw.withColumn("nrm", nrm)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda v: v.cast("double") / F.col("nrm")
            ).alias("embedding"),
        )
    )
    mm = spark.range(PQ_M).select(F.col("id").cast("long").alias("m"))
    cb = F.broadcast(
        e.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select((F.col("vec_id") - N_QUERIES).alias("code"), F.col("embedding").alias("cemb"))
        .crossJoin(mm)
        .select("m", "code", (1 + PQ_SUB * F.col("m")).cast("long").alias("s"), "cemb")
    )
    d2 = F.expr(_D2_SPARK.format(a="embedding", b="cemb", w=PQ_SUB - 1))
    enc = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(cb)
        .select("vec_id", "m", "code", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"))).alias("mc"))
        .select("vec_id", "m", F.col("mc.code").alias("code"))
    )
    qd = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding"))
        .crossJoin(cb)
        .select(
            "qid",
            "m",
            "code",
            F.floor(
                F.expr(_D2_SPARK.format(a="embedding", b="cemb", w=PQ_SUB - 1))
                * 1_000_000
            )
            .cast("long")
            .alias("d2u"),
        )
    )
    adc = (
        enc.join(qd, ["m", "code"])
        .groupBy("qid", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d2u").cast("long").alias("adc_d2u"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_d2u"), F.asc("cand_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id", "rn", "adc_d2u")
    )


@query(
    "q_knn_recall_pq",
    oracle=f"""
    WITH brute AS ({_REG["q_knn_brute"].oracle}),
         pq AS ({_REG["q_knn_pq"].oracle})
    SELECT b.qid,
           CAST(COUNT(p.cand_id) AS BIGINT) AS n_hits,
           CAST(COUNT(p.cand_id) * 100 // {TOP_K} AS BIGINT) AS recall_pct
    FROM brute b
    LEFT JOIN pq p ON p.qid = b.qid AND p.cand_id = b.cand_id
    GROUP BY b.qid
    """,
    tags=("similarity", "pipeline"),
)
def q_knn_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the PQ/ADC path against the exact baseline — the
    third per-index QA metric (see q_knn_recall / q_knn_recall_ivf). PQ
    recall degrades differently again: quantization error is spread
    across every candidate (a lossy-code ranking problem), not a
    bucketing miss.

    SERVING VERDICT (SCALE.md "PQ servability on clustered corpora", a
    numpy replica of this pipeline on the clustered x100v corpus):
    recall@5 is 14% with the registered 4-bit seed codebooks, and
    raising the code budget and/or TRAINING the codebooks does not
    rescue it — 18% seed-256, 14% Lloyd-trained-16,
    20% Lloyd-trained-256. The corpus's cluster margin (intra ≈ 0.69 vs
    inter ≈ 1.08 on unit vectors) sits BELOW the per-subspace
    quantization error at 8 subspaces, so PQ-as-sole-index is
    structurally unservable on this geometry at any practical code
    budget; this operator stands as the compression/QA metric it is.
    The supported serving path is q_ann_rerank — an ANN shortlist
    re-ranked exactly (measured 100% recall @ M=100 with flat wall,
    SCALE.md round 8)."""
    brute = q_knn_brute(spark, sf_dir).select("qid", "cand_id")
    pq = q_knn_pq(spark, sf_dir).select("qid", "cand_id")
    hits = (
        brute.join(F.broadcast(pq), ["qid", "cand_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        brute.select("qid")
        .distinct()
        .join(F.broadcast(hits), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("h"), F.lit(0)) * 100 / TOP_K)
            .cast("long")
            .alias("recall_pct"),
        )
    )



# ---------------------------------------------------------- ranking AUC
@query(
    "q_auc",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(floor({duck_norm('embedding', DIM)} * 1000) AS BIGINT) AS score,
             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings
    ),
    hist AS (
      SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM scored GROUP BY score
    ),
    ranked AS (
      SELECT score, cnt, pos,
             coalesce(sum(cnt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM hist
    ),
    agg AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT) AS sum_r2
      FROM ranked
    )
    SELECT n, n_pos, n - n_pos AS n_neg,
           sum_r2 - n_pos * (n_pos + 1) AS two_u,
           CASE WHEN n_pos * (n - n_pos) = 0 THEN 500000
                ELSE 1000000 * (sum_r2 - n_pos * (n_pos + 1))
                       // (2 * n_pos * (n - n_pos)) END AS auc_ppm
    FROM agg
    """,
    tags=("similarity", "quality", "pipeline"),
    bench=True,
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking AUC (Mann-Whitney U with average-rank tie handling) —
    the metric every quality-classifier gate (fastText/logreg filters a
    la CCNet, GPT-3's quality model) is tuned by, computed exactly in
    integers: score = floor(1000·‖embedding‖) (the portable norm fold,
    deliberately quantized so ties exercise the average-rank path),
    label parity as the binary class, AUC in ppm via the rank-sum
    identity 2U = ΣR₂(pos) − n₊(n₊+1).

    Scale design: the corpus-sized work is ONE groupBy(score) with
    map-side partial counts; the rank window then runs over the
    COMPACT score histogram (≈thousands of rows however big the
    corpus), so the unpartitioned window — normally a scale smell — is
    bounded by score cardinality, not data volume. The final aggregate
    is a scalar. This is how you compute exact global AUC at 100 TB
    without ever sorting the corpus."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        F.floor(norm(F.col("embedding")) * 1000).cast("long").alias("score"),
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("y"),
    )
    hist = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wbelow = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.withColumn(
        "below", F.coalesce(F.sum("cnt").over(wbelow), F.lit(0))
    )
    agg = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(
            F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1)
        ).cast("long").alias("sum_r2"),
    )
    return agg.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        (F.col("sum_r2") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("two_u"),
        F.expr(
            "CASE WHEN n_pos * (n - n_pos) = 0 THEN 500000"
            " ELSE 1000000 * (sum_r2 - n_pos * (n_pos + 1))"
            " div (2 * n_pos * (n - n_pos)) END"
        ).alias("auc_ppm"),
    )


# ------------------------------------------------- hybrid retrieval (RRF)
RRF_K = 60
_HYB_POOL = 100
_HYB_TOP = 10
_HYB_QVEC = 0  # the dense query: embedding of vec_id 0


def _hybrid_oracle() -> str:
    # text.py holds the shared BM25 CTE chain; it never imports this
    # module, so the load here cannot cycle.
    from duckdb_pst_spark.operators.text import _DUCK_BM25_SCORED

    return f"""
    WITH {_DUCK_BM25_SCORED},
    sparse AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r
        FROM bm
      ) WHERE r <= {_HYB_POOL}
    ),
    qv AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_HYB_QVEC}),
    dense0 AS (
      SELECT e.vec_id AS doc_id,
             {duck_cosine('e.embedding', 'q.q_emb', DIM)} AS cs
      FROM embeddings e CROSS JOIN qv q
      WHERE e.vec_id <> {_HYB_QVEC}
    ),
    dense AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cs DESC, doc_id ASC) AS BIGINT) AS r
        FROM dense0
      ) WHERE r <= {_HYB_POOL}
    )
    SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
           coalesce(s.r, 0) AS r_sparse,
           coalesce(d.r, 0) AS r_dense,
           coalesce(1000000 // ({RRF_K} + s.r), 0)
             + coalesce(1000000 // ({RRF_K} + d.r), 0) AS rrf_u
    FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    ORDER BY rrf_u DESC, doc_id ASC
    LIMIT {_HYB_TOP}
    """


def _top_ranked(df: DataFrame, by: str, alias: str) -> DataFrame:
    """Global top-{100} of df as (doc_id, rank): TakeOrderedAndProject
    trims the corpus to the pool FIRST, then row_number runs over the
    ≤{100}-row survivor set — the unpartitioned window never sees more
    than the pool, however big the corpus."""
    pool = df.orderBy(F.desc(by), F.asc("doc_id")).limit(_HYB_POOL)
    w = Window.orderBy(F.desc(by), F.asc("doc_id"))
    return pool.select(
        "doc_id", F.row_number().over(w).cast("long").alias(alias)
    )


@query(
    "q_hybrid_rrf",
    oracle=_hybrid_oracle(),
    tags=("similarity", "search", "pipeline"),
    bench=True,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion [Cormack et al.,
    SIGIR'09]: the standard lexical+semantic serving shape — BM25 ranks
    (exact-integer scoring, shared with q_bm25 so the formulas cannot
    drift) fused with dense cosine ranks against a query embedding,
    fused score Σ 10⁶//(60+rank) over both lists, missing membership
    contributing zero. Ranks, not scores, are fused — RRF needs no
    score calibration between the incomparable BM25 and cosine scales,
    which is exactly why it is the default hybrid in production search.

    Scale design: each arm is already corpus-safe (BM25: zero corpus
    shuffles + TakeOrdered; dense: scan-local cosine vs a broadcast
    query + TakeOrdered); the pools are ≤100 rows each, so the rank
    windows and the full-outer fusion join run on driver-trivial data.
    Fan out to a query BATCH by making both pools per-query (the
    window partitions by query id) — no plan shape changes.

    Measured no-ship (round 5): localCheckpoint-ing each arm's ≤100-row
    pool — the hypothesis was the full-outer fusion re-executes both
    arms once per plan branch, but a same-session 100× A/B read 6.4 s
    (no barrier) vs 8.3 s (barriers): Spark executes each arm exactly
    once in the fused plan already (the BM25 arm's corpus kernels sit
    behind _bm25_scored's own internal checkpoint), so the extra eager
    jobs only ADD a materialization pass per arm. Arm breakdown at
    100×: sparse pool 3.0 s, dense pool 2.3 s — the total IS the two
    single passes; cutting it means faster arms, not fewer runs.

    Round 7 made the dense arm's pass fast WITHOUT changing a single
    output bit: the interpreted zip_with/aggregate cosine fold became a
    sequential-fold-order numpy kernel — accumulating dimension by
    dimension (``acc += X[:, j] * q[j]``) performs the SAME IEEE-754
    operation sequence per element as the JVM left-fold (and the
    oracle's list_reduce), so doubles stay bit-identical (verified:
    top-200 (doc_id, cs) pairs bit-equal on the Zipf-100× corpus),
    while each batch is scored in 2·dim vectorized passes instead of
    per-element lambda evaluations, pre-trimmed to its local (cs DESC,
    doc_id ASC) top-pool so the TakeOrdered merge sees ≤pool rows per
    batch. Dense arm at Zipf-100×, interleaved min-of-3: 2.10 →
    1.15 s. If no query vector exists, the arm falls back to the
    (empty) declarative plan rather than scoring against garbage."""
    import numpy as np

    from duckdb_pst_spark.operators.text import _bm25_scored

    sparse = _top_ranked(_bm25_scored(spark, sf_dir), "score", "r_sparse")
    e = table(spark, sf_dir, "embeddings")
    q_rows = e.filter(F.col("vec_id") == _HYB_QVEC).select("embedding").collect()
    if q_rows:  # bounded: exactly one query row
        q = np.array(q_rows[0].embedding, dtype=np.float64)
        qn_acc = 0.0
        for j in range(len(q)):  # same sequential fold as duck_norm
            qn_acc = qn_acc + q[j] * q[j]
        bq = spark.sparkContext.broadcast((q, float(np.sqrt(qn_acc))))

        def cos_kernel(batches):
            import pandas as pd

            from duckdb_pst_spark.functions.batches import rebatch

            qv, qnv = bq.value
            for pdf in rebatch(batches, 8192):
                ids = pdf["vec_id"].to_numpy()
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                acc = np.zeros(len(ids))
                nacc = np.zeros(len(ids))
                for j in range(X.shape[1]):
                    c = X[:, j]
                    acc += c * qv[j]
                    nacc += c * c
                if not nacc.all():
                    # zero-norm embedding: cosine is 0/0. The declarative
                    # fallback raises here too (ANSI DIVIDE_BY_ZERO), so
                    # the kernel must not silently emit NaN — lexsort
                    # would trim it while Spark/DuckDB desc rank NaN
                    # first, diverging the paths on garbage input.
                    bad = ids[nacc == 0.0][:3].tolist()
                    raise ValueError(
                        f"zero-norm embedding(s) in cosine kernel: vec_id {bad}"
                    )
                cs = acc / (np.sqrt(nacc) * qnv)
                # local (cs DESC, doc_id ASC) top-pool — the tie at the
                # pool edge must break exactly like the global order
                order = np.lexsort((ids, -cs))[: min(_HYB_POOL, len(ids))]
                yield pd.DataFrame({"doc_id": ids[order], "cs": cs[order]})

        from duckdb_pst_spark.functions.partitioning import spread

        dense0 = (
            spread(e.filter(F.col("vec_id") != _HYB_QVEC))
            .select("vec_id", "embedding")
            .mapInPandas(cos_kernel, "doc_id long, cs double")
        )
    else:
        qv = F.broadcast(
            e.filter(F.col("vec_id") == _HYB_QVEC).select(
                F.col("embedding").alias("q_emb")
            )
        )
        dense0 = (
            e.filter(F.col("vec_id") != _HYB_QVEC)
            .crossJoin(qv)
            .select(
                F.col("vec_id").alias("doc_id"),
                cosine(F.col("embedding"), F.col("q_emb")).alias("cs"),
            )
        )
    dense = _top_ranked(dense0, "cs", "r_dense")
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("r_sparse"), F.lit(0)).alias("r_sparse"),
        F.coalesce(F.col("r_dense"), F.lit(0)).alias("r_dense"),
        (
            F.coalesce(F.expr(f"1000000 div ({RRF_K} + r_sparse)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({RRF_K} + r_dense)"), F.lit(0))
        ).alias("rrf_u"),
    )
    return fused.orderBy(F.desc("rrf_u"), F.asc("doc_id")).limit(_HYB_TOP)



# ------------------------------------------------- embedding drift QA
@query(
    "q_embedding_drift",
    oracle=f"""
    WITH comp AS (
      SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS side,
             i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vu
      FROM embeddings, unnest(range(1, {DIM + 1})) AS t(i)
    ),
    cent AS (
      SELECT dim,
             CASE WHEN sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(sum(CASE WHEN side = 0 THEN vu END) AS BIGINT)
                    // CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
             END AS c_a_u,
             CASE WHEN sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(sum(CASE WHEN side = 1 THEN vu END) AS BIGINT)
                    // CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
             END AS c_b_u
      FROM comp GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, c_a_u, c_b_u,
           abs(c_a_u - c_b_u) AS abs_diff_u
    FROM cent
    ORDER BY dim
    """,
    tags=("similarity", "quality", "pipeline"),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus slices as
    per-dimension centroid deltas — the vector-space analogue of
    q_histogram_drift, the monitor that catches an encoder version
    bump, a preprocessing change, or a shifted data mix before cosine
    thresholds silently break downstream (dedup, ANN, clustering all
    assume a stable embedding distribution). Components floor-scale to
    micro-unit BIGINTs BEFORE summation, so the centroid is exact
    integer arithmetic — order-independent and engine-identical (a
    float mean would differ by summation order across partitions).

    Scale design: ONE shuffle keyed on (slice, dim) with map-side
    partial sums — per-task state is 2·{64} accumulators however big
    the corpus, and the reduced table is 2·{64} rows; the centroid
    division and drift projection are driver-trivial. The same plan
    computes per-SOURCE centroids at any source count (key = (source,
    dim), still map-side-collapsed)."""
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("side"),
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    ).select(
        "side",
        "dim",
        F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("vu"),
    )
    cent = comp.groupBy("dim").agg(
        # empty-slice guard: a one-class corpus has no side-1 rows,
        # and DuckDB's // raises on zero where Spark's div returns NULL
        F.expr(
            "CASE WHEN sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) = 0"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(sum(CASE WHEN side = 0 THEN vu END) AS BIGINT)"
            " div sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) END"
        ).alias("c_a_u"),
        F.expr(
            "CASE WHEN sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) = 0"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(sum(CASE WHEN side = 1 THEN vu END) AS BIGINT)"
            " div sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) END"
        ).alias("c_b_u"),
    )
    return cent.select(
        F.col("dim").cast("long").alias("dim"),
        "c_a_u",
        "c_b_u",
        F.abs(F.col("c_a_u") - F.col("c_b_u")).alias("abs_diff_u"),
    ).orderBy("dim")


# ------------------------------------------------------------ IVF + PQ
_IVFPQ_NPROBE = 2  # coarse lists probed per query

_SUBD2_DUCK = (
    "list_reduce(list_transform(range(1, {s} + 1), "
    "i -> ({a}[m * {s} + i] - {b}[m * {s} + i])"
    " * ({a}[m * {s} + i] - {b}[m * {s} + i])), (x, y) -> x + y)"
)
_SUBD2_SPARK = (
    "aggregate(transform(sequence(1, {s}), "
    "i -> ({a}[m * {s} + i - 1] - {b}[m * {s} + i - 1])"
    " * ({a}[m * {s} + i - 1] - {b}[m * {s} + i - 1])), "
    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


def _ivfpq_oracle() -> str:
    cdist = (
        f"list_reduce(list_transform(range(1, {DIM} + 1), "
        "i -> (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i])), (x, y) -> x + y)"
    )
    sub = _SUBD2_DUCK.format(a="t.sv", b="b.cb_sv", s=PQ_SUB)
    return (
        _km_cte()
        + f""",
    probe AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {cdist}, c.cid) AS rn
        FROM af q CROSS JOIN c2 c
        WHERE q.vec_id < {N_QUERIES}
      ) t WHERE rn <= {_IVFPQ_NPROBE}
    ),
    cb AS (
      SELECT CAST(mm.m AS BIGINT) AS m, t.vec_id - {N_QUERIES} AS code,
             t.sv AS cb_sv
      FROM af t CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) mm
      WHERE t.vec_id >= {N_QUERIES} AND t.vec_id < {N_QUERIES + PQ_K}
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT t.vec_id, b.m, b.code,
               ROW_NUMBER() OVER (
                 PARTITION BY t.vec_id, b.m ORDER BY {sub}, b.code) AS rn
        FROM af t JOIN cb b ON true
        WHERE t.vec_id >= {N_QUERIES}
      ) x WHERE rn = 1
    ),
    qd AS (
      SELECT t.vec_id AS qid, b.m, b.code, {sub} AS d2u
      FROM af t JOIN cb b ON true
      WHERE t.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT p.qid, ca.vec_id AS cand_id, CAST(sum(qd.d2u) AS BIGINT) AS adc_d2u
      FROM probe p
      JOIN af ca ON ca.cid = p.cid AND ca.vec_id >= {N_QUERIES}
      JOIN enc e ON e.vec_id = ca.vec_id
      JOIN qd ON qd.qid = p.qid AND qd.m = e.m AND qd.code = e.code
      GROUP BY p.qid, ca.vec_id
    )
    SELECT qid, cand_id, rn, adc_d2u FROM (
      SELECT qid, cand_id, adc_d2u,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY adc_d2u, cand_id) AS BIGINT) AS rn
      FROM adc
    ) t WHERE rn <= {TOP_K}
    """
    )


@query(
    "q_knn_ivfpq",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "iterative", "pipeline"),
)
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS's default at
    billion scale, Jégou et al. TPAMI'11 §V): a TRAINED coarse
    quantizer (q_kmeans_iter's fixed-point Lloyd) partitions the corpus
    into inverted lists; queries probe their nprobe=2 nearest lists;
    and within the probed lists candidates are ranked by PQ Asymmetric
    Distance — 8 × 4-bit codes per vector, a per-query 8×16 lookup
    table, the raw candidate vector never touched at query time. The
    two index families the repo proves separately (q_knn_ivf_trained,
    q_knn_pq) composed the way production serves them. Everything —
    centroid training, probe ranking, codebook encode, ADC — runs on
    the SAME scaled-integer lattice, so unlike the float-ADC q_knn_pq
    the whole chain is exact integer arithmetic and the oracle
    hash-matches every distance bit.

    Scale shape: training + list assignment amortize over every query
    batch (one corpus scan per Lloyd iteration, `_lloyd_gemm`'s
    exact-integer BLAS assignment — the interpreted `_lloyd` twin lost
    39.3 vs 8.6 s interleaved min-of-3 at 1M vectors, identical
    output); encoding is scan-local exact-integer BLAS against the
    broadcast 128-row codebook (one matmul per Arrow batch per
    subspace — the interpreted crossJoin + fold it replaced lost 73.3
    vs 37.3 s on the same protocol); the probe set is
    |Q|·nprobe rows joined on cid — ON A
    PARTITIONED LAYOUT THE LISTS ARE PARTITION VALUES, so probing is
    partition PRUNING and the scan touches nprobe/K of the corpus; the
    ADC lookup table is |Q|·8·16 rows broadcast, and the only wide
    exchange aggregates (qid, cand) partial sums within probed lists.
    Memory per vector at serving time is 8 nibbles + one int64 id —
    the 100 TB embedding corpus fits hot exactly because of this."""
    # Train with the bit-exact BLAS twin of _lloyd (same lattice,
    # test-gated equal): at 1M vectors the interpreted fold spent most
    # of the chain's wall-clock in training (A/B in SCALE.md).
    final, cents = _lloyd_gemm(spark, sf_dir, KM_K, with_vectors=True)
    final = final.localCheckpoint(eager=True)  # read 4×: probe/cb/enc/qd
    d2c = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("d2c"), F.asc("cid"))
    probe = (
        final.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "sv")  # drop the nprobe=1 home list: cid below is the centroid's
        .crossJoin(F.broadcast(cents))
        .select(F.col("vec_id").alias("qid"), "cid", d2c.alias("d2c"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("qid", "cid")
    )
    mm = spark.range(PQ_M).select(F.col("id").cast("long").alias("m"))
    cb = F.broadcast(
        final.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select((F.col("vec_id") - N_QUERIES).alias("code"), F.col("sv").alias("cb_sv"))
        .crossJoin(mm)
        .select("m", "code", "cb_sv")
    )
    # Encode via exact-integer BLAS (the _lloyd_gemm pattern): the
    # interpreted crossJoin(cb) + aggregate() fold paid ~128 lambda
    # evaluations per vector and dominated the chain at 1M vectors
    # (A/B below). Components |sv| ≤ KM_SCALE·|v| ≪ _GEMM_EXACT_BOUND,
    # so each 8-dim x·c partial sum stays < 2^53 and the float64 matmul
    # is the exact integer dot product; d² finishes in int64 and
    # np.argmin's first-min tiebreak over ascending codes equals the
    # oracle's ORDER BY d2, code.
    import numpy as np

    cb_rows = sorted(
        final.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select("vec_id", "sv")
        .collect(),  # bounded: ≤ PQ_K = 16 seed rows
        key=lambda r: r.vec_id,
    )
    cb_codes = np.array([r.vec_id - N_QUERIES for r in cb_rows], dtype=np.int64)
    cb_mat = (
        np.array([r.sv for r in cb_rows], dtype=np.int64)
        .reshape(len(cb_rows), PQ_M, PQ_SUB)
        .transpose(1, 0, 2)  # (m, code, sub)
    )
    bc = spark.sparkContext.broadcast((cb_codes, cb_mat))

    def encode_gemm(batches):
        import numpy as np
        import pandas as pd

        codes_arr, C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            X = (
                np.stack(pdf["sv"].to_numpy())
                .astype(np.int64)
                .reshape(len(ids), PQ_M, PQ_SUB)
            )
            out = np.empty((len(ids), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                Xm, Cm = X[:, m, :], C[m]
                # same runtime guard as assign_ids: BLAS float64 is the
                # exact integer dot only while |components| stay under
                # _GEMM_EXACT_BOUND; past it (larger KM_SCALE or
                # embedding range) fall back to exact integer matmul
                # rather than silently emitting inexact PQ codes
                exact_blas = (
                    np.abs(Xm).max(initial=0) < _GEMM_EXACT_BOUND
                    and np.abs(Cm).max(initial=0) < _GEMM_EXACT_BOUND
                )
                if exact_blas:
                    dot = np.rint(
                        Xm.astype(np.float64) @ Cm.astype(np.float64).T
                    ).astype(np.int64)
                else:
                    dot = Xm @ Cm.T
                d2 = (
                    (Xm * Xm).sum(axis=1)[:, None]
                    + (Cm * Cm).sum(axis=1)[None, :]
                    - 2 * dot
                )
                out[:, m] = codes_arr[np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {
                    "cand_id": np.repeat(ids, PQ_M),
                    "m": np.tile(np.arange(PQ_M, dtype=np.int64), len(ids)),
                    "code": out.ravel(),
                }
            )

    enc = (
        final.filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "sv")
        .mapInPandas(encode_gemm, "cand_id long, m long, code long")
    )
    sub = F.expr(_SUBD2_SPARK.format(a="sv", b="cb_sv", s=PQ_SUB))
    qd = F.broadcast(
        final.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(cb)
        .select(F.col("vec_id").alias("qid"), "m", "code", sub.alias("d2u"))
    )
    cands = probe.join(
        final.filter(F.col("vec_id") >= N_QUERIES).select(
            F.col("vec_id").alias("cand_id"), "cid"
        ),
        "cid",
    ).select("qid", "cand_id")
    adc = (
        cands.join(enc, "cand_id")
        .join(qd, ["qid", "m", "code"])
        .groupBy("qid", "cand_id")
        .agg(F.sum("d2u").cast("long").alias("adc_d2u"))
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("adc_d2u"), F.asc("cand_id"))
    return (
        adc.withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id", "rn", "adc_d2u")
    )


# ------------------------------------------------- IVF nprobe sweep
_NPROBE_MAX = 4  # sweep recall@k for nprobe = 1..4 (of KM_K lists)


def _nprobe_oracle() -> str:
    cdist = (
        f"list_reduce(list_transform(range(1, {DIM} + 1), "
        "i -> (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i])), (x, y) -> x + y)"
    )
    vdist = (
        f"list_reduce(list_transform(range(1, {DIM} + 1), "
        "i -> (q.sv[i] - c.sv[i]) * (q.sv[i] - c.sv[i])), (x, y) -> x + y)"
    )
    return (
        _km_cte()
        + f""",
    cdist AS (
      SELECT qid, cid, cr FROM (
        SELECT q.vec_id AS qid, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {cdist}, c.cid) AS cr
        FROM af q CROSS JOIN c2 c
        WHERE q.vec_id < {N_QUERIES}
      ) t
    ),
    truth AS (
      SELECT qid, cand_id FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {vdist}, c.vec_id) AS rn
        FROM af q JOIN af c ON c.vec_id >= {N_QUERIES}
        WHERE q.vec_id < {N_QUERIES}
      ) t WHERE rn <= {TOP_K}
    ),
    pr AS (SELECT CAST(unnest(range(1, {_NPROBE_MAX + 1})) AS BIGINT) AS p),
    cand AS (
      SELECT cd.qid, pr.p, c.vec_id AS cand_id, {vdist} AS d2
      FROM cdist cd
      JOIN pr ON cd.cr <= pr.p
      JOIN af c ON c.cid = cd.cid AND c.vec_id >= {N_QUERIES}
      JOIN af q ON q.vec_id = cd.qid
    ),
    topk AS (
      SELECT qid, p, cand_id FROM (
        SELECT qid, p, cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qid, p ORDER BY d2, cand_id) AS rn
        FROM cand
      ) t WHERE rn <= {TOP_K}
    ),
    hits AS (
      SELECT k.p, CAST(count(*) AS BIGINT) AS n_hits
      FROM topk k JOIN truth t ON t.qid = k.qid AND t.cand_id = k.cand_id
      GROUP BY k.p
    )
    SELECT pr.p AS nprobe,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           1000000 * CAST(COALESCE(hits.n_hits, 0) AS BIGINT)
             // (SELECT count(*) FROM truth) AS recall_ppm
    FROM pr LEFT JOIN hits ON hits.p = pr.p
    """
    )


@query(
    "q_ivf_nprobe_sweep",
    oracle=_nprobe_oracle(),
    tags=("similarity", "quality", "iterative", "pipeline"),
)
def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the trained IVF index as a function of nprobe
    (1..{pmax} of {kk} lists) — THE serving-configuration tuning table:
    nprobe is the single knob that trades latency for recall on an IVF
    deployment, and this curve (against exact ground truth on the query
    sample) is how the knob is set before anything ships. One training
    pass feeds every probe level; a candidate list probed at rank r
    contributes to all nprobe ≥ r, so the sweep costs one coarse
    ranking, one candidate expansion, and one exact re-rank per level —
    never {pmax} retrainings. Ground truth, coarse ranking, and
    candidate ranking all run on the same integer lattice as
    q_kmeans_iter / q_knn_ivf_trained, so every distance bit
    hash-matches.

    Scale shape: training is the shared `_lloyd_gemm` BLAS loop; the
    exact-truth pass is |Q|·corpus distances over the BOUNDED query
    sample (the q_lsh_recall QA pattern — choose |Q| by QA budget);
    candidate expansion joins the |Q|·K coarse table against list
    assignments on cid and re-ranks per (query, level) with one window
    — all map-side against broadcast query vectors. Output is
    {pmax} audit rows.""".format(
        k=TOP_K, pmax=_NPROBE_MAX, kk=KM_K
    )
    final, cents = _lloyd_gemm(spark, sf_dir, KM_K, with_vectors=True)
    final = final.localCheckpoint(eager=True)
    q = final.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("sv").alias("q_sv")
    )
    d2c = F.aggregate(
        F.zip_with(F.col("q_sv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d2v = F.aggregate(
        F.zip_with(F.col("q_sv"), F.col("c_sv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("qid").orderBy(F.asc("d2c"), F.asc("cid"))
    cdist = (
        q.crossJoin(F.broadcast(cents))
        .select("qid", "cid", d2c.alias("d2c"))
        .withColumn("cr", F.row_number().over(wq).cast("long"))
        .select("qid", "cid", "cr")
    )
    cands = final.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), "cid", F.col("sv").alias("c_sv")
    )
    wt = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cand_id"))
    truth = (
        cands.crossJoin(F.broadcast(q))
        .select("qid", "cand_id", d2v.alias("d2"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "cand_id")
    )
    pr = spark.range(1, _NPROBE_MAX + 1).select(F.col("id").cast("long").alias("p"))
    probe = cdist.join(F.broadcast(pr), cdist["cr"] <= pr["p"])
    wr = Window.partitionBy("qid", "p").orderBy(F.asc("d2"), F.asc("cand_id"))
    topk = (
        probe.join(cands, "cid")
        .join(F.broadcast(q), "qid")
        .select("qid", "p", "cand_id", d2v.alias("d2"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "p", "cand_id")
    )
    hits = (
        topk.join(F.broadcast(truth), ["qid", "cand_id"])
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    return (
        pr.join(hits, "p", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            F.col("p").alias("nprobe"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "1000000 * coalesce(n_hits, CAST(0 AS BIGINT)) div nt"
            ).alias("recall_ppm"),
        )
    )
