"""Approximate / sketch aggregates — north-star additions (SURVEY.md §2.B).

The reference has no sketch surface (its only aggregate optimization is
the stats-backed ``count(*)``, /root/reference/src/table_function.cpp:325-351);
these are the mergeable-sketch aggregates a 100 TB pipeline needs when
exact distinct/quantile would force a full shuffle of every key.

Oracle strategy: sketches are engine-specific, so cross-engine parity is
proven two ways —

- ``q_kmv_distinct`` uses a **K-minimum-values sketch built from the
  portable hash** (functions/portable.py): both engines compute the
  identical hash, keep the identical k smallest values, and therefore
  produce the *bit-identical* estimate. Fully hash-checked.
- ``q_hll_distinct`` / ``q_approx_quantile`` run each engine's native
  sketch (HyperLogLog / t-digest-family) and hash-check only the exact
  value and a deterministic within-tolerance verdict, since the raw
  estimates legitimately differ across implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import (
    P_HASH,
    duck_poly_hash_long,
    poly_hash_long,
)
from duckdb_pst_spark.registry import query
from duckdb_pst_spark.tables import table

KMV_K = 256


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT {duck_poly_hash_long('o_custkey')} AS hv FROM orders
    ),
    k AS (SELECT hv FROM h ORDER BY hv LIMIT {KMV_K}),
    s AS (SELECT count(*) AS kc, max(hv) AS hk FROM k),
    x AS (SELECT count(DISTINCT o_custkey) AS exact_distinct FROM orders)
    SELECT s.kc AS k_used,
           CASE WHEN s.kc < {KMV_K} THEN s.kc
                ELSE CAST(FLOOR((s.kc - 1) * CAST({P_HASH} AS DOUBLE) / s.hk)
                          AS BIGINT) END AS kmv_estimate,
           x.exact_distinct
    FROM s, x
    """,
    tags=("sketch", "agg"),
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch, engine-portable.

    Hash every key with the portable multiplicative hash (uniform on
    [0, P)), keep the k smallest *distinct* hash values; the k-th
    smallest estimates D ≈ (k-1)·P / h_k. Because the hash is identical
    in both engines the estimate is bit-identical — a sketch the oracle
    can hash-check exactly (unlike HLL, see q_hll_distinct).

    Scale shape: the distinct-hash set is a partial-aggregated hash
    shuffle, and orderBy().limit(k) is TakeOrdered — each task keeps
    only its k smallest, the driver merges #partitions·k values. Total
    sketch state is O(k) per task regardless of data size; at 100 TB
    the same two-phase (local top-k, merge) shape holds, which is the
    defining property of a mergeable sketch."""
    o = table(spark, sf_dir, "orders")
    topk = (
        o.select(poly_hash_long(F.col("o_custkey")).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(KMV_K)
    )
    s = topk.agg(F.count("*").alias("kc"), F.max("hv").alias("hk"))
    x = o.agg(F.count_distinct("o_custkey").alias("exact_distinct"))
    return s.crossJoin(x).select(
        F.col("kc").alias("k_used"),
        F.when(F.col("kc") < KMV_K, F.col("kc"))
        .otherwise(
            F.floor(
                (F.col("kc") - 1).cast("double")
                * F.lit(float(P_HASH))
                / F.col("hk").cast("double")
            ).cast("long")
        )
        .alias("kmv_estimate"),
        "exact_distinct",
    )


@query(
    "q_hll_distinct",
    oracle="""
    WITH s AS (
      SELECT approx_count_distinct(o_custkey) AS hll,
             count(DISTINCT o_custkey) AS exact_distinct
      FROM orders
    )
    SELECT exact_distinct,
           abs(CAST(hll AS DOUBLE) - exact_distinct)
             <= 0.10 * exact_distinct AS hll_within_10pct
    FROM s
    """,
    tags=("sketch", "agg"),
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct count, checked as a within-tolerance verdict.

    Spark's approx_count_distinct (HLL++, rsd 5%) and DuckDB's
    approx_count_distinct are different sketch implementations, so the
    raw estimates legitimately differ; the oracle hash-checks the exact
    count plus the deterministic |est − exact| ≤ 10% verdict, which
    both engines' ~2% standard error satisfies with wide margin.

    Scale shape: HLL is the canonical mergeable sketch — a fixed
    ~kilobytes register array per partial aggregate, map-side combined,
    one tiny final merge. The exact count shown beside it is the thing
    that does NOT scale (full shuffle of every distinct key)."""
    o = table(spark, sf_dir, "orders")
    s = o.agg(
        F.approx_count_distinct("o_custkey").alias("hll"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    )
    return s.select(
        "exact_distinct",
        (
            F.abs(F.col("hll").cast("double") - F.col("exact_distinct"))
            <= 0.10 * F.col("exact_distinct")
        ).alias("hll_within_10pct"),
    )


@query(
    "q_approx_quantile",
    oracle="""
    WITH s AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS ex,
             approx_quantile(o_totalprice, 0.5) AS aq
      FROM orders
    )
    SELECT CAST(FLOOR(ex * 100) AS BIGINT) AS exact_median_c,
           abs(aq - ex) <= 0.02 * ex AS approx_within_2pct
    FROM s
    """,
    tags=("sketch", "agg"),
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median vs exact, checked as a tolerance verdict.

    Spark's percentile_approx (Greenwald-Khanna summary, accuracy
    10000) and DuckDB's approx_quantile (t-digest) are different
    sketches; the oracle pins the floor-scaled exact median (identical
    in both engines — see q_percentile) and the |approx − exact| ≤ 2%
    verdict.

    Scale shape: quantile summaries are mergeable partial aggregates
    with bounded state, so the approx path is one map-side-combined
    pass; exact percentile needs a full sort per group and is the thing
    to avoid at 100 TB."""
    o = table(spark, sf_dir, "orders")
    s = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("ex"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("aq"),
    )
    return s.select(
        F.floor(F.col("ex") * 100).cast("long").alias("exact_median_c"),
        (F.abs(F.col("aq") - F.col("ex")) <= 0.02 * F.col("ex")).alias(
            "approx_within_2pct"
        ),
    )


MG_CAPACITY = 64
HH_PHI = 1.0 / 32  # exact binary fraction — bit-identical threshold math


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT t, count(*) AS cnt
    FROM tok, tot
    GROUP BY t, n
    HAVING count(*) >= {HH_PHI} * n
    """,
    tags=("sketch", "text"),
    bench=True,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy hitters (tokens with frequency ≥ 1/32 of the stream) via
    the two-pass sketch-then-verify pattern.

    Pass 1 runs a Misra-Gries summary (capacity 64 ≥ 1/φ) *per
    partition* inside one Arrow-batched mapInPandas — MG state carries
    across the partition's record batches, and its guarantee makes the
    surviving keys a superset of every φ-heavy key no matter how rows
    are partitioned. Pass 2 exact-counts only those candidates
    (left-semi against the broadcast candidate set) and applies the
    exact threshold — so the output is the exact heavy-hitter set,
    deterministic and oracle-checkable even though pass 1 is a sketch.

    Scale shape: pass 1 shuffles nothing, holds O(1/φ) state per
    partition, and ALSO emits each partition's token count — so the
    stream total is a free by-product of the sketch pass instead of a
    third corpus scan. The sketch runs over JVM-side ``xxhash64(t)``
    int64 keys, not token strings: the Arrow transfer into the Python
    kernel is then zero-copy numpy instead of materializing every
    corpus token as a Python str (the r3 string-keyed kernel spent most
    of its 8.5 s at 100× on that conversion).
    A hash collision only ADDS a candidate — the superset guarantee
    survives, and the verify pass is exact on the real tokens. The tiny
    summary (≤ partitions·(64+1) rows) is checkpoint-materialized so
    candidates and total both read it without re-running the sketch.
    Pass 2 semi-joins on the hash (one codegen'd probe per token) and
    shuffles partial counts for ≤ #partitions·64 candidate keys instead
    of the full vocabulary. This is the heavy-hitter plan for
    vocabularies too large for a plain groupBy (URLs, n-grams,
    user-ids), where exact counting of every key is the thing that
    OOMs."""
    from duckdb_pst_spark.functions.partitioning import spread

    # explode(split) + WHERE stays inside whole-stage codegen end to end;
    # the equivalent higher-order filter() before the explode is an
    # interpreted expression and measured ~17% slower at 100x volume.
    toks = (
        spread(table(spark, sf_dir, "documents"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    hashed = toks.select(F.xxhash64("t").alias("h"))

    def misra_gries(batches):
        # Vectorized MG over raw Arrow batches (mapInArrow beats
        # mapInPandas 2.5 vs 4.5 s at 100× here — no pandas Series is
        # ever built): ~1M-row coalesced spans are histogrammed with
        # pyarrow value_counts (C speed), then each span histogram is
        # merged into the running summary with the mergeable-summaries
        # MG merge (Agarwal et al., PODS'12): add counts, and if more
        # than `capacity` keys survive, subtract the (capacity+1)-th
        # largest count from every key and drop the non-positives.
        # Total decrement mass stays ≤ n_partition/(capacity+1), so
        # every key with partition frequency above that bound survives —
        # the same superset guarantee as the per-token update, at
        # ~vocab-per-span Python iterations instead of one per token.
        # The trailing (h=NULL, n=partition_rows) row carries the
        # stream total out of the same pass.
        import pyarrow as pa

        counters: dict[int, int] = {}
        n_rows = 0
        buf: list[pa.Array] = []
        buf_rows = 0

        def flush() -> None:
            nonlocal counters, buf, buf_rows
            vc = pa.concat_arrays(buf).value_counts()
            ks = vc.field("values").to_numpy(zero_copy_only=False)
            cs = vc.field("counts").to_numpy(zero_copy_only=False)
            for t, c in zip(ks.tolist(), cs.tolist()):
                counters[t] = counters.get(t, 0) + c
            if len(counters) > MG_CAPACITY:
                m = sorted(counters.values(), reverse=True)[MG_CAPACITY]
                counters = {k: v - m for k, v in counters.items() if v > m}
            buf, buf_rows = [], 0

        for rb in batches:
            n_rows += rb.num_rows
            buf.append(rb.column(0))
            buf_rows += rb.num_rows
            if buf_rows >= 1_048_576:  # 8 MB int64 buffered per task
                flush()
        if buf:
            flush()
        yield pa.RecordBatch.from_pydict(
            {
                "h": pa.array(list(counters.keys()) + [None], type=pa.int64()),
                "n": pa.array([0] * len(counters) + [n_rows], type=pa.int64()),
            }
        )

    summary = hashed.mapInArrow(misra_gries, "h long, n long").localCheckpoint(
        eager=True
    )
    candidates = summary.filter(F.col("h").isNotNull()).select("h").distinct()
    total = summary.agg(F.sum("n").cast("long").alias("n"))
    # the verify pass counts ONLY candidate tokens: the broadcast
    # left-semi on the 8-byte hash prunes ~99% of tokens before any
    # aggregation state is touched (a fold-the-total-into-the-count
    # variant with a NULL catch-all group measured ~25% SLOWER at 100x
    # than semi-then-count).
    return (
        toks.withColumn("h", F.xxhash64("t"))
        .join(F.broadcast(candidates), "h", "left_semi")
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(HH_PHI) * F.col("n"))
        .select("t", "cnt")
    )


# ----------------------------------------------- KMV set-ops (Jaccard)
KMV_J_K = 256
_DUCK_SHINGLE_POLY = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "[CAST(ascii(c) AS BIGINT) for c in string_split(g, '')]), "
    f"(acc, x) -> (acc * 31 + x) % {P_HASH})"
)


@query(
    "q_kmv_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id % 2 AS side,
             {_DUCK_SHINGLE_POLY} AS hv
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
        FROM (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
          FROM documents
        ) t WHERE len(toks) >= 3
      ) s
    ),
    ka AS (SELECT DISTINCT hv FROM sh WHERE side = 0 ORDER BY hv LIMIT {KMV_J_K}),
    kb AS (SELECT DISTINCT hv FROM sh WHERE side = 1 ORDER BY hv LIMIT {KMV_J_K}),
    u AS (
      SELECT hv FROM (SELECT hv FROM ka UNION SELECT hv FROM kb) z
      ORDER BY hv LIMIT {KMV_J_K}
    ),
    est AS (
      SELECT count(*) AS k_used,
             count(*) FILTER (hv IN (SELECT hv FROM ka)
                              AND hv IN (SELECT hv FROM kb)) AS both_n
      FROM u
    ),
    ex AS (
      SELECT count(DISTINCT CASE WHEN a > 0 AND b > 0 THEN hv END) AS i_n,
             count(DISTINCT hv) AS u_n
      FROM (
        SELECT hv, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS b
        FROM sh GROUP BY hv
      ) g
    )
    SELECT est.k_used,
           CASE WHEN est.k_used = 0 THEN CAST(0 AS BIGINT)
                ELSE (est.both_n * 1000000) // est.k_used END AS est_jaccard_ppm,
           CASE WHEN ex.u_n = 0 THEN CAST(0 AS BIGINT)
                ELSE (ex.i_n * 1000000) // ex.u_n END AS exact_jaccard_ppm
    FROM est, ex
    """,
    tags=("sketch", "dedup"),
)
def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based set similarity: the Jaccard of two corpus halves'
    word-3-gram shingle SETS estimated from their KMV sketches alone —
    J ≈ |U_k ∩ A_k ∩ B_k| / |U_k| where A_k/B_k are each side's k
    smallest distinct portable-hash values and U_k is the k smallest of
    their union (Beyer et al., SIGMOD'07). Both engines compute the
    identical hash, so the estimate is bit-identical and hash-checked;
    the exact Jaccard rides along as the QA column.

    Scale: ONE corpus pass — the shingle explode + interpreted hash
    fold collapse immediately into a per-hash (side-A count, side-B
    count) aggregate, checkpointed; both sketches AND the exact QA
    numbers then derive from that distinct-hash table (each side's k
    smallest via TakeOrdered — O(k) state per task), so the expensive
    fold is never recomputed, and the scan rides :func:`spread` so the
    fold fills every core on a few-giant-row-group layout. The earlier
    form re-derived the corpus chain for each sketch and the exact pass
    AND folded on the scan's 2 partitions (same-session at 100×:
    45.2 s → 8.3 s for the two changes; one unspread fold pass alone
    measured 89 s vs 9.5 s spread). The set
    algebra runs on 3·k ≤ 768 rows. This is how you estimate
    cross-corpus overlap (crawl snapshot vs snapshot, corpus vs eval
    suite) without ever joining the corpora."""
    from duckdb_pst_spark.functions.partitioning import spread
    from duckdb_pst_spark.functions.portable import poly_hash

    sh = (
        spread(table(spark, sf_dir, "documents"))
        .select(
            (F.col("doc_id") % 2).alias("side"),
            F.expr(
                "filter(split(text, ' '), x -> x != '')"
            ).alias("toks"),
        )
        .filter(F.size("toks") >= 3)
        .select(
            "side",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(toks) - 2),"
                        " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                    )
                )
            ).alias("g"),
        )
        .select("side", poly_hash(F.col("g")).alias("hv"))
    )
    g = (
        sh.groupBy("hv")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("b"),
        )
        .localCheckpoint(eager=True)  # one corpus fold; sketches + QA reuse it
    )
    ka = g.filter(F.col("a") > 0).select("hv").orderBy("hv").limit(KMV_J_K)
    kb = g.filter(F.col("b") > 0).select("hv").orderBy("hv").limit(KMV_J_K)
    u = ka.union(kb).distinct().orderBy("hv").limit(KMV_J_K)
    marked = (
        u.join(ka.withColumn("in_a", F.lit(1)), "hv", "left")
        .join(kb.withColumn("in_b", F.lit(1)), "hv", "left")
    )
    est = marked.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(0)
        ).alias("both_n"),
    )
    ex = g.agg(
        F.count(F.when((F.col("a") > 0) & (F.col("b") > 0), F.lit(1))).alias("i_n"),
        F.count(F.lit(1)).alias("u_n"),
    )
    return est.crossJoin(ex).select(
        "k_used",
        # empty-corpus guard: a side (or the union) can be empty on tiny
        # or shingle-free inputs; 0/0 must not divide (ANSI) — define J=0
        F.expr(
            "CASE WHEN k_used = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (both_n * 1000000) div k_used END"
        ).alias("est_jaccard_ppm"),
        F.expr(
            "CASE WHEN u_n = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (i_n * 1000000) div u_n END"
        ).alias("exact_jaccard_ppm"),
    )


# --------------------------------------------------- count-min sketch
CM_DEPTH = 4
CM_WIDTH = 16  # deliberately narrow so collisions (and overestimates) occur


@query(
    "q_countmin",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    salted AS (
      SELECT t, d,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(c) AS BIGINT) for c in string_split(chr(CAST(65 + d AS INT)) || t, '')]),
               (acc, x) -> (acc * 31 + x) % {P_HASH}) % {CM_WIDTH} AS cell
      FROM tok CROSS JOIN range(0, {CM_DEPTH}) r(d)
    ),
    counters AS (SELECT d, cell, count(*) AS c FROM salted GROUP BY d, cell),
    probe AS (SELECT DISTINCT t, d, cell FROM salted),
    est AS (
      SELECT p.t, min(c.c) AS cm_estimate
      FROM probe p JOIN counters c ON c.d = p.d AND c.cell = p.cell
      GROUP BY p.t
    ),
    exact AS (SELECT t, count(*) AS exact_cnt FROM tok GROUP BY t)
    SELECT e.t, e.cm_estimate, x.exact_cnt
    FROM est e JOIN exact x ON x.t = e.t
    """,
    tags=("sketch", "agg"),
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries, engine-portable: a {4}×{16}
    counter grid over the token stream (row d uses the portable poly
    hash salted with one prefix char), probed for every distinct token —
    estimate = min over rows of the hit counter, always ≥ the true
    count. The width is deliberately narrow so collisions happen and
    the one-sided overestimate is visible next to the exact count; both
    engines hash identically, so every estimate is bit-identical and
    hash-checked.

    Scale: the sketch build is ONE pass — the corpus collapses to the
    DISTINCT vocabulary (map-side-combined count), and only vocabulary
    rows pay the interpreted salted-hash fold: each distinct token
    contributes count-weighted updates to its {4} cells, which is
    cell-wise identical to per-instance updates (the sketch is a sum,
    so Σ_instances = Σ_vocab count·1). The earlier per-instance form
    folded the hash over every token OCCURRENCE twice (counters +
    probe) — measured 26.2 s at 10× vs vocabulary-hashing's time in
    SCALE.md; on a replica corpus (counts multiply, vocab fixed) the
    collapse is the difference between corpus-bound and vocab-bound
    CPU. Sketches from disjoint data still merge by cell-wise addition
    — exactly the (d, cell) groupBy. Point queries touch {4} counter
    rows per probe. This is the frequency sketch for streams whose key
    space is too wide to count exactly (the q_heavy_hitters docstring's
    case) but where per-key point estimates, not just the top keys,
    are needed."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=True)  # feeds the salted cells AND the output join
    )
    salted = vocab.select(
        "t",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("d"),
    ).select(
        "t",
        "exact_cnt",
        "d",
        (
            F.aggregate(
                F.transform(
                    F.filter(
                        F.split(F.concat(F.char(F.col("d") + 65), F.col("t")), ""),
                        lambda c: c != F.lit(""),
                    ),
                    lambda c: F.ascii(c).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(31) + x) % F.lit(P_HASH),
            )
            % CM_WIDTH
        ).alias("cell"),
    )
    counters = salted.groupBy("d", "cell").agg(F.sum("exact_cnt").alias("c"))
    est = (
        salted.select("t", "d", "cell")
        .join(F.broadcast(counters), ["d", "cell"])
        .groupBy("t")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.join(vocab, "t").select("t", "cm_estimate", "exact_cnt")


# -------------------------------------------- source-overlap KMV matrix
_OVL_K = 64  # sketch size per source
_OVL_SALT = 8  # first-level pre-trim buckets (skew-safe k-min)


@query(
    "q_source_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, {_DUCK_SHINGLE_POLY} AS hv
      FROM (
        SELECT source,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
        FROM (
          SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS toks
          FROM documents
        ) t WHERE len(toks) >= 3
      ) s
    ),
    sk AS (
      SELECT source, hv FROM (
        SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM sh
      ) WHERE rn <= {_OVL_K}
    ),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb FROM
        (SELECT DISTINCT source FROM sk) a JOIN (SELECT DISTINCT source FROM sk) b
        ON a.source < b.source
    ),
    u AS (
      SELECT p.sa, p.sb, s.hv,
             max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
      GROUP BY p.sa, p.sb, s.hv
    ),
    ranked AS (
      SELECT sa, sb, in_a, in_b,
             row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
      FROM u
    ),
    est AS (
      SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_used,
             CAST(sum(in_a * in_b) AS BIGINT) AS both_n
      FROM ranked WHERE rn <= {_OVL_K}
      GROUP BY sa, sb
    )
    SELECT sa, sb, k_used, (both_n * 1000000) // k_used AS jaccard_ppm
    FROM est
    """,
    tags=("sketch", "quality", "pipeline"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set Jaccard between ALL corpus sources from
    per-source KMV sketches (Beyer et al., SIGMOD'07) — the corpus
    audit that finds mirror sites, cross-source scrape duplication,
    and eval contamination paths as a source×source overlap matrix,
    without ever joining corpora: every pairwise estimate is computed
    from two {64}-row sketches.

    Scale design: the corpus is touched ONCE (distinct (source, hv)
    shingle hashes — one shuffle with map-side distinct partials). The
    per-source k-min runs as a TWO-LEVEL window: k smallest per
    (source, hv mod {8}) salt bucket first, then k smallest of the
    ≤{8}·{64} survivors per source — no single reducer ever sees a
    whole source's shingle set (the skew-safe top-k shape; identical
    result, since the global k-min is contained in the union of
    salt-bucket k-mins). Everything after the sketch — pair expansion,
    union ranks, estimates — runs on |sources|²·{64} rows however big
    the corpus. Estimator identical to q_kmv_jaccard's, hash-checked
    bit-exactly via the portable polynomial hash.

    r12 per-task optimization (guide §1.2 step 2; stage-profiled first:
    trigram string building + per-gram char folds were ~10.7 of the
    13 s x100 wall): the polynomial hash is LINEAR — for any prefix
    state acc and string s, fold(acc, s) = (acc·31^|s| + fold(0, s))
    mod P — so each token's char fold runs ONCE, producing
    (p = fold(0, t), m = 31^|t| mod P), and every trigram hash is then
    five O(1) modular ops combining three (p, m) pairs with the two
    space chars: bit-identical to poly_hash(concat_ws(' ', t1, t2, t3))
    by algebra, with no gram string ever built and the explode emitting
    longs instead of ~30-byte strings. 31^|t| comes from a 1024-entry
    constant power table (tokens ≥1024 chars fall back to an exact
    fold, keeping totality). The `size(toks) >= 3` row filter became a
    scan-local CASE (empty gram array) so tokenization is not
    re-inlined into a pushed filter — the r12 plan-audit trap class.
    Measured (OPTIMIZATION_r12.md §5, interleaved min-of-3,
    results pinned equal): 0.88x sf0.1, 0.97x x10, 0.80x x100
    (13.4 → 9.9 s). The numpy-kernel alternative (same shingle hashes
    via functions/polyhash_np) measured 0.89x — the JVM linearized form
    wins because no text crosses the Python boundary."""
    from pyspark.sql import Window

    from duckdb_pst_spark.functions.partitioning import spread
    from duckdb_pst_spark.functions.portable import P_HASH

    pow31 = [1]
    for _ in range(1023):
        pow31.append(pow31[-1] * 31 % P_HASH)
    pow_lit = "array(" + ",".join(f"{v}L" for v in pow31) + ")"
    # per-token (p, m): the chars array binds ONCE per token (lambda
    # vars are bound values — no CSE is needed, unlike inline exprs)
    pm_expr = F.expr(
        f"""
        transform(transform(toks,
                    t -> transform(filter(split(t, ''), c -> c != ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                  cs -> named_struct(
            'p', aggregate(cs, CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {P_HASH}),
            'm', CASE WHEN size(cs) < 1024 THEN element_at({pow_lit}, size(cs) + 1)
                      ELSE aggregate(cs, CAST(1 AS BIGINT),
                                     (acc, c) -> (acc * 31) % {P_HASH}) END))
        """
    )
    # poly_hash('t1 t2 t3') = ((((p1·31+32)·m2+p2)·31+32)·m3+p3) mod P
    grams = F.expr(
        f"""
        CASE WHEN size(pm) >= 3 THEN array_distinct(transform(sequence(1, size(pm) - 2),
          i -> ((((pm[i-1].p * 31 + 32) % {P_HASH} * pm[i].m + pm[i].p) % {P_HASH}
                 * 31 + 32) % {P_HASH} * pm[i+1].m + pm[i+1].p) % {P_HASH}))
        ELSE array() END
        """
    )
    sh = (
        spread(table(spark, sf_dir, "documents"))
        .select(
            "source",
            F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
        )
        .select("source", pm_expr.alias("pm"))
        .select("source", F.explode(grams).alias("hv"))
        .distinct()
    )
    w1 = Window.partitionBy("source", (F.col("hv") % _OVL_SALT)).orderBy("hv")
    w2 = Window.partitionBy("source").orderBy("hv")
    sk = (
        sh.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _OVL_K)
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= _OVL_K)
        .select("source", "hv")
    )
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    ska = sk.select(F.col("source").alias("sa"), "hv", F.lit(1).alias("in_a"))
    skb = sk.select(F.col("source").alias("sb"), "hv", F.lit(1).alias("in_b"))
    left = pairs.join(ska, "sa").select("sa", "sb", "hv", "in_a")
    right = pairs.join(skb, "sb").select("sa", "sb", "hv", "in_b")
    u = (
        left.join(right, ["sa", "sb", "hv"], "full_outer")
        .select(
            "sa",
            "sb",
            "hv",
            F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b"),
        )
    )
    wr = Window.partitionBy("sa", "sb").orderBy("hv")
    est = (
        u.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _OVL_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("both_n"),
        )
    )
    return est.select(
        "sa", "sb", "k_used",
        F.expr("(both_n * 1000000) div k_used").alias("jaccard_ppm"),
    )


# ------------------------------------------------ exact 2-pass median
_MED_BUCKET_BITS = 16  # histogram bucket width: 2^16 cents = $655.36


@query(
    "q_exact_median_2pass",
    oracle="""
    WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    k AS (SELECT (count(*) - 1) // 2 AS kk, CAST(count(*) AS BIGINT) AS n FROM c)
    SELECT (SELECT n FROM k) AS n,
           (SELECT cents FROM c ORDER BY cents LIMIT 1 OFFSET (SELECT kk FROM k))
             AS median_cents
    """,
    tags=("sketch", "agg"),
)
def q_exact_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (lower median, k = (n−1) div 2) without ever
    sorting the dataset: the classic two-pass selection. Pass 1 builds
    a bucket histogram (cents div 2^16 — one map-side-combined groupBy
    whose output is ~price-range/2^16 rows) and the driver walks the
    cumulative counts to find the single bucket containing the k-th
    value plus the within-bucket offset — the same bounded-driver-state
    pattern as the k-means/IVF training loops. Pass 2 touches ONLY that
    bucket's rows (a pushed-down range filter) and takes the offset-th
    smallest via two TakeOrdered heaps, never a global sort. DuckDB's
    oracle states the same selection as ORDER BY ... OFFSET k.

    Scale math: a global sort of 100 TB is a full-corpus range exchange;
    this plan's cost is one histogram aggregate + one scan of a single
    bucket (n/buckets rows ≈ 1/65536th of the value domain). That is
    why exact order statistics at scale are ALWAYS histogram-refinement
    (approx_percentile's t-digest is the one-pass cousin; this is the
    exact variant for when the answer must be a real data value).
    Exact-integer throughout: floor-scaled cents on both engines."""
    c = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    hist = (
        c.groupBy(F.expr(f"cents div {1 << _MED_BUCKET_BITS}").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("b")
        .collect()  # bounded: one row per occupied 2^16-cent bucket
    )
    n = sum(r.cnt for r in hist)
    k = (n - 1) // 2
    cum = 0
    target_b, off = None, 0
    for r in hist:
        if cum + r.cnt > k:
            target_b, off = r.b, k - cum
            break
        cum += r.cnt
    bucket = c.filter(F.expr(f"cents div {1 << _MED_BUCKET_BITS}") == target_b)
    kth = (
        bucket.orderBy(F.asc("cents"))
        .limit(off + 1)
        .orderBy(F.desc("cents"))
        .limit(1)
        .select(F.col("cents").alias("median_cents"))
    )
    return kth.select(F.lit(n).cast("long").alias("n"), "median_cents")


@query(
    "q_kmv_grouped",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {duck_poly_hash_long('user_id')} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS kc, max(hv) AS hk
      FROM r WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    x AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.kc AS k_used,
           CASE WHEN s.kc < {KMV_K} THEN s.kc
                ELSE CAST(FLOOR((s.kc - 1) * CAST({P_HASH} AS DOUBLE) / s.hk)
                          AS BIGINT) END AS kmv_estimate,
           x.exact_distinct
    FROM s JOIN x ON x.event_type = s.event_type
    """,
    tags=("sketch", "agg"),
)
def q_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct sketch — q_kmv_distinct rolled up by key
    (distinct users per event_type), the dashboard/cube shape where
    sketches actually live in production: one mergeable O(k) summary
    per group, re-mergeable upward to coarser groupings without
    touching raw data. Same portable multiplicative hash, so each
    group's estimate is bit-identical across engines and the oracle
    hash-checks the SKETCH, not just the true count (carried alongside
    as exact_distinct for the error audit).

    Scale shape: one distinct-collapse of (group, hash) with map-side
    combine, then a group-partitioned rank keeps the k smallest per
    group — the sort rides the exchange's own sort machinery and
    spills; group count bounds output at |groups|·k rows. At 100 TB
    with millions of groups you'd swap the window rank for the
    two-phase local-top-k merge (the q_kmv_distinct TakeOrdered shape,
    per group) or a native datasketches agg; the sketch SEMANTICS and
    the merge algebra are what this query pins."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    h = e.select(
        "event_type", poly_hash_long(F.col("user_id")).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    s = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("kc"), F.max("hv").alias("hk"))
    )
    x = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return s.join(x, "event_type").select(
        "event_type",
        F.col("kc").alias("k_used"),
        F.when(F.col("kc") < KMV_K, F.col("kc"))
        .otherwise(
            F.floor(
                (F.col("kc") - 1).cast("double")
                * F.lit(float(P_HASH))
                / F.col("hk").cast("double")
            ).cast("long")
        )
        .alias("kmv_estimate"),
        "exact_distinct",
    )
