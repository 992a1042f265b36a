"""Deduplication operators over the documents corpus — exact, MinHash-LSH,
SimHash, and n-gram Jaccard. Core training-data pipeline components
(north-star additions, SURVEY.md §2.B end).

Scale design:
- Exact dedup = hash groupBy on the dedup key → one shuffle, map-side
  partial aggregation.
- MinHash+LSH: signatures and band keys are computed per-row with array
  algebra (no shuffle); the only shuffle is the band-bucket self-join,
  which is the point of LSH — candidate pairs ∝ true near-dups, not n².
- SimHash: entirely per-row (nested array folds), zero shuffle; grouping
  by simhash value afterwards is one exact-dedup-style shuffle.

Parity design: oracle-checked variants use the portable polynomial hash
(functions/portable.py) so DuckDB computes identical signatures — this
includes the Arrow/numpy kernels (``q_dedup_minhash_vec`` and every
``signatures_for`` consumer), which compute the SAME polynomial hash
with the one numpy engine in functions/polyhash_np.py and are
therefore hash-verified end to end. Only ``q_dedup_minhash_fast``
(constant-pinned oracle) swaps in ``xxhash64`` — the JVM-native hot path;
plan shape is identical to the verified twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import (
    P_HASH,
    duck_poly_hash,
    duck_poly_hash_long,
    duck_tokens,
    poly_hash,
    poly_hash_long,
    tokens,
)
from duckdb_pst_spark.goldens_pinned import PINNED as _PINNED
from duckdb_pst_spark.registry import query
from duckdb_pst_spark.tables import table

# MinHash parameters: K signature functions in B bands of R rows.
MINHASH_K = 8
MINHASH_BANDS = 4
MINHASH_R = 2
_A = [2 * k + 3 for k in range(MINHASH_K)]
_B = [(7919 * (k + 1)) % P_HASH for k in range(MINHASH_K)]

JACCARD_THRESHOLD_U = 300_000  # 0.30 in micro-units


# ----------------------------------------------------------- exact dedup
@query(
    "q_dedup_exact",
    oracle="""
    SELECT text AS key_text, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY text
    ORDER BY keep_id
    """,
    tags=("dedup", "pipeline"),
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: group on the content key, keep the smallest
    doc_id as the canonical representative. The oracle requires key_text
    in the output, so the group key cannot be hashed HERE; the 100 TB
    production twin that groups on a 128-bit content hash instead is
    registered as q_dedup_exact_hash (r12). No output sort: dedup
    results are a set (the oracle's ORDER BY is cosmetic; the driver
    compare is order-insensitive), and a global sort is a full extra
    exchange."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.col("text").alias("key_text"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


@query(
    "q_dedup_exact_hash",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_cnt
    FROM documents
    GROUP BY text
    """,
    tags=("dedup", "pipeline"),
    bench=True,
)
def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_exact's PRODUCTION twin (r12, VERDICT r11 item 6): the
    group key is a 128-bit content hash — a two-seed xxhash64 pair, the
    q_pipeline_pretrain/_tkey discipline — and key_text is NOT in the
    output, so the exchange carries 16 B per distinct document instead
    of the ~1 KB text (~60x fewer aggregate-exchange bytes; at 100 TB
    the text column never crosses a wire at all). Same plan shape as
    the plain twin: one map-side-combined groupBy, no output sort.

    Exactness: a spurious merge needs one text pair colliding under
    BOTH seeds at once — n²/2¹²⁹, ~1e-17 at the 100 TB target's ~1e11
    docs (vs hundreds expected from a single 64-bit key, which is why
    the pair is the floor for drop/merge decisions repo-wide). The
    oracle groups by the raw text; the driver compare proves the hash
    grouping reproduces it exactly on every checked corpus. A/B vs the
    text-keyed plain (interleaved min-of-3): OPTIMIZATION_r12.md §2 —
    the win grows with scale
    because the deleted text bytes are the exchange's growth term.

    The exact-dedup family now has the same plain/production pairing as
    minhash (q_dedup_minhash vs q_dedup_minhash_fast)."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(
            F.xxhash64("text").alias("_h1"),
            F.xxhash64(F.lit(1), "text").alias("_h2"),
        )
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
    )


# ------------------------------------------------------- shingles (shared)
def _shingle_hashes(toks: Column, hash_fn) -> Column:
    """Distinct hashes of word-3-gram shingles (array<bigint>).

    ``toks`` must be a *materialized* column attribute, not an inline
    tokenization expression: Spark does no common-subexpression
    elimination inside higher-order-function lambdas, so an inline
    ``split(...)`` here would re-tokenize the document for every
    element_at — a ~200× blowup measured at sf0.1."""
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: hash_fn(
            F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            )
        ),
    )
    return F.array_distinct(shingles)


def _duck_shingle_hashes() -> str:
    """DuckDB fragment: same distinct shingle hashes, from column `text`."""
    sh = duck_poly_hash("(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")
    return f"list_distinct(list_transform(range(1, len(toks) - 1), i -> {sh}))"


def _duck_sig_cols() -> str:
    """DuckDB select list sig_0..sig_{K-1} over the `sh` hash list."""
    return ",\n           ".join(
        f"list_min(list_transform(sh, h -> ({_A[k]} * h + {_B[k]}) % {P_HASH})) AS sig_{k}"
        for k in range(MINHASH_K)
    )


def _duck_bands() -> str:
    """DuckDB body of the `bands` CTE: one (doc_id, band_idx, band_val)
    row per band of every `sig` row, band_val = (sig_2j·31 + sig_2j+1)
    mod p — the oracle twin of ``_band_cols``."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, (sig_{2 * j} * 31 + sig_{2 * j + 1}) % {P_HASH} AS band_val FROM sig"
        for j in range(MINHASH_BANDS)
    )


def _duck_minhash_cte(where: str = "") -> str:
    """Shared CTE prefix: documents → toks → distinct shingle hashes → sigs.

    ``where`` optionally restricts the document set (e.g. the bounded
    QA sample in q_lsh_recall)."""
    sigs = _duck_sig_cols()
    return f"""
    WITH tk AS (
      SELECT doc_id, {duck_tokens('text')} AS toks FROM documents {where}
    ),
    sh AS (
      SELECT doc_id, {_duck_shingle_hashes()} AS sh
      FROM tk WHERE len(toks) >= 3
    ),
    sig AS (
      SELECT doc_id, sh,
           {sigs}
      FROM sh
    )"""


def _minhash_sigs(h, nsp):
    """The MinHash signature step: span hashes ``h``, grouped in
    segments of ``nsp`` (≥ 1) per document, → a (K, docs) int64 array of
    sig_k = min over the segment of (a_k·h + b_k) mod p. Each product
    is < p² ≈ 1e18, exact in int64; one segment minimum per k keeps
    the working set at one span-length array."""
    import numpy as np

    starts = np.cumsum(nsp) - nsp
    return np.stack(
        [np.minimum.reduceat((a * h + b) % P_HASH, starts) for a, b in zip(_A, _B)]
    )


def signatures_for(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, text) → (doc_id, sh: array<bigint>, sig_0..sig_{K-1}).

    Takes an arbitrary document set so callers can collapse duplicates
    or subset (e.g. representatives only) BEFORE paying the shingle
    pipeline — identical text yields identical signatures, so computing
    them once per distinct text is exact. ``carry`` names extra narrow
    columns to thread through unchanged (e.g. a side tag), so callers
    can partition the signature set with a map-side filter instead of a
    join back to the tagging table.

    The shingle/signature math is a scan-local numpy kernel over the
    shared poly-hash engine (functions/polyhash_np.py) and
    ``_minhash_sigs``: the JVM path — an interpreted per-character fold
    per shingle behind two localCheckpoint barriers — was the dominant
    cost of every consumer (q_dedup_keep_best measured 36.4 → 7.3 s at
    Zipf-100×). The kernel emits the IDENTICAL values: per-doc DISTINCT
    shingle poly-hashes (sh) and min((a_k·h + b_k) mod p) signatures,
    hash-pinned by every consumer's oracle-parity test."""
    import pandas as pd

    field_by_name = {f.name: f for f in docs.schema.fields}
    schema = (
        "doc_id long"
        + "".join(
            f", {c} {field_by_name[c].dataType.simpleString()}" for c in carry
        )
        + ", sh array<bigint>, "
        + ", ".join(f"sig_{k} long" for k in range(MINHASH_K))
    )

    def sig_kernel(batches):
        import numpy as np

        from duckdb_pst_spark.functions.batches import rebatch
        from duckdb_pst_spark.functions.polyhash_np import SpanHasher

        hasher = SpanHasher()
        for pdf in rebatch(batches, 4096):
            # keys = row positions so carry columns align without
            # assuming doc_id uniqueness
            rows, _nsh, didx, _pos, h = hasher.spans(
                pdf["text"].values, np.arange(len(pdf), dtype=np.int64)
            )
            cols: dict = {}
            if len(rows):
                # per-doc DISTINCT shingle hashes, emitted in SORTED
                # order — the JVM array_distinct path preserved
                # first-occurrence order instead, so element ORDER
                # differs between the two paths; only the set semantics
                # are identical, which every consumer (order-insensitive
                # set ops; no query outputs sh) relies on
                order = np.lexsort((h, didx))
                dd, hh = didx[order], h[order]
                first = np.r_[True, (dd[1:] != dd[:-1]) | (hh[1:] != hh[:-1])]
                dd, hh = dd[first], hh[first]
                counts = np.bincount(dd, minlength=len(rows))
                cols["doc_id"] = pd.Series(
                    pdf["doc_id"].values[rows].tolist(), dtype="int64"
                )
                for c in carry:
                    cols[c] = pd.Series(pdf[c].values[rows])
                cols["sh"] = pd.Series(
                    [a.tolist() for a in np.split(hh, np.cumsum(counts)[:-1])],
                    dtype="object",
                )
                for k, sig in enumerate(_minhash_sigs(hh, counts)):
                    cols[f"sig_{k}"] = pd.Series(sig, dtype="int64")
            else:
                # empty slices keep each column's dtype for Arrow
                cols["doc_id"] = pdf["doc_id"].iloc[0:0]
                for c in carry:
                    cols[c] = pdf[c].iloc[0:0]
                cols["sh"] = pd.Series(dtype="object")
                for k in range(MINHASH_K):
                    cols[f"sig_{k}"] = pd.Series(dtype="int64")
            yield pd.DataFrame(cols)

    # materialize once: every consumer reads the signature set from
    # several plan subtrees (band join sides, Jaccard sh lookups) and
    # would otherwise re-run the kernel per subtree — measured 52 → 66 s
    # at Zipf-100× on q_dedup_minhash without this barrier
    return (
        docs.select("doc_id", "text", *carry)
        .mapInPandas(sig_kernel, schema)
        .localCheckpoint(eager=True)
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, sh: array<bigint>, sig_0..sig_{K-1})."""
    return signatures_for(table(spark, sf_dir, "documents").select("doc_id", "text"))


@query(
    "q_minhash_sig",
    oracle=_duck_minhash_cte()
    + f"""
    SELECT doc_id, {', '.join(f'sig_{k}' for k in range(MINHASH_K))}
    FROM sig
    """,
    tags=("dedup", "pipeline"),
)
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (K=8 permutations over word-3-gram shingles).
    Pure per-row array algebra — no shuffle; linear scan of the corpus."""
    return minhash_signatures(spark, sf_dir).select(
        "doc_id", *[f"sig_{k}" for k in range(MINHASH_K)]
    )


def _band_cols() -> list[Column]:
    """Band keys band_j = (sig_2j·31 + sig_2j+1) mod p, one column each."""
    return [
        ((F.col(f"sig_{2 * j}") * 31 + F.col(f"sig_{2 * j + 1}")) % F.lit(P_HASH)).alias(
            f"band_{j}"
        )
        for j in range(MINHASH_BANDS)
    ]


def _band_rows(sigs: DataFrame, *keep: str) -> DataFrame:
    """(…, sig_*) → (*keep, band_idx int, band_val long), one row per
    band. The bands leave each row as one exploded array, so the
    signature plan runs once (a per-band UNION would re-run it)."""
    return sigs.select(
        *keep, F.posexplode(F.array(*_band_cols())).alias("band_idx", "band_val")
    )


@query(
    "q_dedup_minhash",
    oracle=_duck_minhash_cte()
    + f"""
    , bands AS (
      {_duck_bands()}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
             // len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_u
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
             // len(list_distinct(list_concat(sa.sh, sb.sh))) >= {JACCARD_THRESHOLD_U}
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs: shingle → minhash → band →
    bucket self-join → exact Jaccard verification on the candidates.
    The band join is the only shuffle; Jaccard is verified only for
    candidate pairs (the LSH contract). Threshold 0.30."""
    return verified_pairs_from_sigs(minhash_signatures(spark, sf_dir))


def verified_pairs_from_sigs(
    sigs: DataFrame, min_jaccard_u: int = JACCARD_THRESHOLD_U
) -> DataFrame:
    """(doc_id, sh, sig_*) → Jaccard-verified LSH pairs
    (doc_a, doc_b, jaccard_u) — the q_dedup_minhash chain parameterized
    by its signature set, so callers can collapse duplicate texts to
    representatives BEFORE the quadratic-in-bucket-size pair stage
    (identical text ⇒ identical signatures ⇒ identical buckets, so the
    rep-level pair graph expands exactly to the doc-level one)."""
    bands = _band_rows(sigs, "doc_id")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sigs.select("doc_id", "sh")
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    jacc = F.expr(
        "(CAST(size(array_intersect(sa_sh, sb_sh)) AS BIGINT) * 1000000)"
        " div size(array_union(sa_sh, sb_sh))"
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.sh").alias("sa_sh"),
            F.col("sb.sh").alias("sb_sh"),
        )
        .select("doc_a", "doc_b", jacc.alias("jaccard_u"))
        .filter(F.col("jaccard_u") >= min_jaccard_u)
    )


# ---------------------------------------------------------------- simhash
_POW2 = [2**i for i in range(17)]  # 1-based literal table shared with oracle


# Shared simhash16 select expression — one definition for q_dedup_simhash
# and the hamming-block dedup so the bit math cannot drift.
_DUCK_SIMHASH16 = f"""
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16), i ->
             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(th, h ->
                    CASE WHEN (h % ({_POW2!r}[i + 2])) >= ({_POW2!r}[i + 1])
                         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                    (acc, x) -> acc + x) > 0
                  THEN CAST({_POW2!r}[i + 1] AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
             (acc, x) -> acc + x)"""


def simhash16_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, simhash16) — per-row array folds, zero shuffle."""
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.transform(tokens(F.col("text")), lambda t: poly_hash(t)).alias("th")
        )
        # barrier: the 16 per-bit vote folds below each reference `th`;
        # without materialization CollapseProject re-inlines the token
        # hashing into all 16 (Catalyst does no common-subexpression
        # elimination across higher-order lambdas — measured ~10×)
        .localCheckpoint(eager=True)
    )
    simhash = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: F.when(bit_vote_dynamic(i) > 0, F.element_at(pow2, i + 1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select("doc_id", simhash.alias("simhash16"))


@query(
    "q_dedup_simhash",
    oracle=f"""
    SELECT doc_id,
           {_DUCK_SIMHASH16} AS simhash16
    FROM (
      SELECT doc_id,
             list_transform({duck_tokens('text')}, t -> {duck_poly_hash('t')}) AS th
      FROM documents
    ) t
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: token hashes vote ±1 per bit position
    (with multiplicity), bit set where the vote is positive. Computed
    entirely with nested array folds — per-row, zero shuffle. Near-dup
    docs then cluster by equal (or low-Hamming) simhash."""
    return simhash16_df(spark, sf_dir)


def bit_vote_dynamic(i: Column) -> Column:
    """±1 bit vote sum for bit index column ``i`` over token hashes ``th``."""
    pow2 = F.array(*[F.lit(p) for p in _POW2])
    return F.aggregate(
        F.col("th"),
        F.lit(0).cast("long"),
        lambda acc, h: acc
        + F.when(
            (h % F.element_at(pow2, i + 2)) >= F.element_at(pow2, i + 1),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long")),
    )


# ------------------------------------------------------- n-gram Jaccard
@query(
    "q_ngram_jaccard",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000000)
             // len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard_u
    FROM (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS grams
      FROM documents
    ) a
    JOIN (
      SELECT doc_id,
             list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS grams
      FROM documents
    ) b ON b.doc_id = a.doc_id + 1
    """,
    tags=("dedup", "pipeline"),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard similarity between consecutive documents —
    the exact-verification kernel of n-gram near-dedup (array_intersect /
    array_union set algebra on distinct grams). Pairing is id-adjacent
    here to keep the demo linear; in the full pipeline the pair source is
    the LSH candidate set (q_dedup_minhash)."""
    grams = F.array_distinct(
        F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", grams.alias("grams"))
    a = d.alias("a")
    b = d.alias("b")
    jacc = F.expr(
        "(CAST(size(array_intersect(a_grams, b_grams)) AS BIGINT) * 1000000)"
        " div size(array_union(a_grams, b_grams))"
    )
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.grams").alias("a_grams"),
            F.col("b.grams").alias("b_grams"),
        )
        .select("doc_a", "doc_b", jacc.alias("jaccard_u"))
    )


# ------------------------------------------------- dedup cluster assembly
def _duck_verified_pairs_cte(*, recursive: bool = False) -> str:
    """Oracle CTE chain: minhash sigs → band buckets → candidate pairs →
    Jaccard-verified pairs (same fragments as q_dedup_minhash's oracle).

    ``recursive=True`` rewrites the leading ``WITH tk AS`` to
    ``WITH RECURSIVE tk AS`` for callers that append a recursive closure
    CTE, asserting the prefix is present so any drift in
    ``_duck_minhash_cte`` fails loudly at import instead of producing
    invalid SQL at verify time."""
    sql = (
        _duck_minhash_cte()
        + f"""
    , bands AS ({_duck_bands()}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
              // len(list_distinct(list_concat(sa.sh, sb.sh))) >= {JACCARD_THRESHOLD_U}
    )"""
    )
    if recursive:
        prefix = "WITH tk AS"
        if prefix not in sql:
            raise AssertionError(
                "_duck_minhash_cte no longer opens with 'WITH tk AS'; "
                "update the recursive rewrite in _duck_verified_pairs_cte"
            )
        sql = sql.replace(prefix, "WITH RECURSIVE tk AS", 1)
    return sql


@query(
    "q_dedup_cluster",
    # the closure CTE is recursive, so the whole chain is WITH RECURSIVE
    oracle=_duck_verified_pairs_cte(recursive=True)
    + """
    , edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified
    ),
    reach AS (
      SELECT DISTINCT u AS node, u AS label FROM edges
      UNION
      SELECT e.v AS node, r.label AS label
      FROM reach r JOIN edges e ON e.u = r.node
      WHERE r.label < e.v
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id,
           CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS is_canonical
    FROM reach GROUP BY node
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard-verified near-dup pairs —
    the step that turns pairwise matches into dedup CLUSTERS, from which
    one canonical document (the min doc_id) is kept and the rest dropped.
    Without it, transitive near-dups (A~B, B~C, A≁C) survive pairwise
    dedup.

    Implementation: distinct-text collapse, then iterative min-label
    propagation to fixpoint on the REPRESENTATIVE graph. Identical
    texts have identical signatures, land in every band bucket
    together, and verify at Jaccard 1.0 — so the doc-level verified
    graph is exactly the rep-level graph with each text group expanded
    to a clique, and components/min-labels transfer by expansion
    (rep = min doc_id of its group, so the propagated min label IS the
    component's min doc_id). The collapse is the decisive scale lever
    on duplicate-heavy corpora: web-crawl exact-dup mass lands whole
    buckets of copies in the pair join, and pair work is quadratic in
    bucket size (measured on the 100×-replica corpus: 312 s → 6.6 s,
    and the 1×→100× curve flattens to 5.7→6.6 s because pair work now
    scales with DISTINCT texts; the q_dedup_incremental trick,
    `_duck_incr_oracle`).
    Degenerate groups whose rep yields no shingles (<3 tokens) never
    enter the pair chain, exactly like the uncollapsed plan. Text
    identity keys on xxhash64 (8-byte exchange keys; collision odds
    ~n²/2⁶⁵ — the q_token_gini/q_substring_spans identity rule).

    Per round the fixpoint is one join + one groupBy-min, lineage cut
    per round, so rounds = component diameter over text CLASSES (tiny
    cliques, diameter ~1-2); convergence is detected from the monotone
    label-sum in the same pass that materializes the round. At 100 TB
    with adversarial chain-shaped components you'd upgrade to
    large-star/small-star (q_dedup_cluster_star); the per-round plan is
    the same shape. The oracle is the equivalent recursive-CTE closure
    over DOC-level pairs with the label < node pruning — parity proves
    the collapse exact."""
    return _collapsed_cluster(spark, sf_dir, _min_label_components)


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) verified pairs → (node, label = component min) via
    iterative min-label propagation (see q_dedup_cluster)."""
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)  # scan the pair graph once, reuse per round
    )
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(32):
        msgs = edges.join(labels, edges["u"] == labels["node"]).select(
            edges["v"].alias("node"), "label"
        )
        labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:  # labels only decrease → equal sum = fixpoint
            break
        prev_sum = cur_sum
    return labels


def _collapsed_cluster(spark, sf_dir, components_fn) -> DataFrame:
    """Distinct-text collapse around any component engine:
    ``components_fn`` maps rep-level verified pairs (doc_a, doc_b) to
    (node, label = component-min rep). Shared by q_dedup_cluster
    (min-label propagation) and q_dedup_cluster_star (large-star/
    small-star) so both ride the same exact collapse."""
    dkeys = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.xxhash64("text").alias("th"))
        # 16-byte rows; without the barrier the final expansion join
        # would re-scan documents and re-hash every text a third time
        .localCheckpoint(eager=True)
    )
    grp = (
        dkeys.groupBy("th")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).cast("long").alias("grp_sz"),
        )
        .localCheckpoint(eager=True)  # one row per distinct text
    )
    reps = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(grp.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi")
    )
    sigs = signatures_for(reps)
    pairs = verified_pairs_from_sigs(sigs).select("doc_a", "doc_b")
    labels = components_fn(pairs)
    # Expand rep labels back to documents: a doc is clustered iff its
    # rep joined the pair graph (cross-text near-dups) OR its text group
    # has ≥2 members whose rep actually shingles (same-text clique).
    rep_lab = labels.select(F.col("node").alias("rep_id"), "label")
    elig = sigs.select(F.col("doc_id").alias("rep_id"), F.lit(True).alias("has_sh"))
    return (
        dkeys.join(grp, "th")
        .select("doc_id", "rep_id", "grp_sz")
        .join(rep_lab, "rep_id", "left")
        .join(elig, "rep_id", "left")
        .where(
            F.col("label").isNotNull()
            | ((F.col("grp_sz") >= 2) & F.col("has_sh").isNotNull())
        )
        .select(
            "doc_id",
            F.coalesce("label", "rep_id").alias("cluster_id"),
        )
        .withColumn(
            "is_canonical",
            F.when(F.col("cluster_id") == F.col("doc_id"), 1).otherwise(0),
        )
    )


@query(
    "q_dedup_cluster_star",
    # identical semantics to q_dedup_cluster → identical oracle closure
    oracle=_duck_verified_pairs_cte(recursive=True)
    + """
    , edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified
    ),
    reach AS (
      SELECT DISTINCT u AS node, u AS label FROM edges
      UNION
      SELECT e.v AS node, r.label AS label
      FROM reach r JOIN edges e ON e.u = r.node
      WHERE r.label < e.v
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id,
           CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS is_canonical
    FROM reach GROUP BY node
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph by ALTERNATING
    LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the adversarial-graph upgrade that
    q_dedup_cluster's docstring prescribes for 100 TB.

    Why it scales where plain min-label propagation doesn't: label
    propagation needs DIAMETER rounds (an adversarial chain of n near-dup
    docs needs n rounds), while the star operations contract every
    component toward its minimum so the effective diameter roughly halves
    per round — O(log d) rounds on any shape. Each round is two
    groupBy-min + join passes over the edge set:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(N(u) ∪ {u}). High-degree hubs flatten in ONE pass — their
      whole neighborhood connects straight to the component min, which is
      also what keeps per-round shuffle volume from skewing: the hot
      node's edges all leave toward a single key.
    - small-star(u): every neighbor v ≤ u (and u itself) attaches to m —
      this pins the small side so alternation provably converges.

    Fixpoint = the edge set stops changing (checked EXACTLY with a
    count + except-limit probe, not a hashable summary: star rounds can
    rewire edges without changing cheap aggregates of them). At fixpoint
    every component is a star centered at its min doc_id; the final
    groupBy-min reads the answer off the star edges. Output and oracle
    are identical to q_dedup_cluster — same closure, different engine
    path, both hash-checked against the recursive-CTE oracle. Rides the
    same distinct-text collapse (`_collapsed_cluster`): the star engine
    handles adversarial component SHAPES, the collapse handles
    duplicate-heavy component SIZES — at 100 TB you need both."""
    return _collapsed_cluster(
        spark,
        sf_dir,
        lambda pairs: star_components(pairs.toDF("u", "v")).select(
            "node", F.col("cluster_id").alias("label")
        ),
    )


def star_components(pair_df: DataFrame, max_rounds: int = 24) -> DataFrame:
    """(u, v) undirected pairs → (node, cluster_id = component min) via
    alternating large-star/small-star. See q_dedup_cluster_star for the
    algorithm and scale rationale; exposed separately so synthetic
    adversarial graphs (chains, hubs) are testable directly."""
    edges = (
        pair_df.select(F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        edges.select(F.col("lo").alias("node"))
        .union(edges.select(F.col("hi").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        joined = sym.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select("v", "m")
        else:
            out = joined.filter(F.col("v") < F.col("u")).select("v", "m").union(
                mins.select(F.col("u").alias("v"), "m")
            )
        return (
            out.filter(F.col("v") != F.col("m"))
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .distinct()
        )

    prev_count = None
    for _ in range(max_rounds):
        new_edges = star(star(edges, large=True), large=False).localCheckpoint(eager=True)
        cnt = new_edges.count()
        if prev_count == cnt and new_edges.exceptAll(edges).limit(1).count() == 0:
            edges = new_edges
            break
        prev_count = cnt
        edges = new_edges
    # fixpoint: stars centered at the component min → parent = min neighbor
    parents = (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("p"))
        .union(edges.select(F.col("lo").alias("node"), F.col("lo").alias("p")))
        .groupBy("node")
        .agg(F.min("p").alias("cluster_id"))
    )
    return all_nodes.join(parents, "node", "left").select(
        "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
    )


# ------------------------------------------------------------ fast paths
def _fused_band_keys(text_col: Column) -> Column:
    """text → array of MINHASH_BANDS (band_idx, band_val) structs in ONE
    expression chain: tokenize → shifted-zip shingle hashing (multi-arg
    ``xxhash64``, no concat allocation) → single-pass K-way min fold
    (struct accumulator) → band keys in the fold's ``finish`` lambda.

    One chain means each upstream value is referenced exactly once, so
    Catalyst's CollapseProject cannot duplicate work (the no-CSE-across-
    lambdas hazard the simhash barrier above documents) — and there is
    NO materialization
    barrier: at 100 TB this streams through the scan with zero
    executor-memory state, where a localCheckpoint of the tokenized
    corpus would not survive."""
    t = tokens(text_col)
    n = F.size(t)
    sh1 = F.slice(t, 2, F.greatest(n - 1, F.lit(0)))
    sh2 = F.slice(t, 3, F.greatest(n - 2, F.lit(0)))
    z1 = F.zip_with(t, sh1, lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    z2 = F.zip_with(
        z1, sh2, lambda s, c: F.pmod(F.xxhash64(s["w1"], s["w2"], c), F.lit(P_HASH))
    )
    sh = F.array_distinct(F.slice(z2, 1, F.greatest(n - 2, F.lit(0))))
    init = F.struct(*[F.lit(P_HASH).cast("long").alias(f"m{k}") for k in range(MINHASH_K)])

    def merge(acc, h):
        return F.struct(*[
            F.least(acc[f"m{k}"], (F.lit(_A[k]) * h + F.lit(_B[k])) % F.lit(P_HASH)).alias(f"m{k}")
            for k in range(MINHASH_K)
        ])

    def finish(acc):
        full = F.array(*[
            F.struct(
                F.lit(j).alias("band_idx"),
                ((acc[f"m{2 * j}"] * 31 + acc[f"m{2 * j + 1}"]) % F.lit(P_HASH)).alias("band_val"),
            )
            for j in range(MINHASH_BANDS)
        ])
        # shingle-less doc (under 3 tokens): the fold never ran, so m0 is
        # still the init sentinel — emit NO band keys rather than the
        # degenerate all-init signature (which would bucket every short
        # doc together). Lets callers explode() without pre-filtering on
        # size(tokens(...)), which would tokenize each document twice.
        return F.when(acc["m0"] == F.lit(P_HASH).cast("long"), F.slice(full, 1, 0)).otherwise(full)

    return F.aggregate(sh, init, merge, finish)


@query(
    "q_dedup_minhash_fast",
    tags=("dedup", "fast"),
    oracle=_PINNED["q_dedup_minhash_fast"],
    pinned_sf="/root/testdata/sf0.01",
)
def q_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs on the 100 TB hot path: same pair set
    as q_dedup_minhash's plan shape but signatures come from ``xxhash64``
    (JVM, codegen) instead of the portable polynomial hash, and the whole
    per-row stage is one fused expression (``_fused_band_keys``) — no
    checkpoints, no shuffle until the band groupBy. DuckDB has no
    xxhash64, so the oracle is a constant-pinned VALUES golden at sf0.01
    (tools/pin_goldens.py; xxhash64 output is spec-fixed, so the pin is
    stable) — pipeline correctness is additionally proven by the
    portable twin; this one exists to be fast and to scale."""
    from duckdb_pst_spark.functions.partitioning import spread

    bands = (
        spread(table(spark, sf_dir, "documents"))
        # no size(tokens(...)) pre-filter — that would tokenize twice;
        # shingle-less docs yield an empty band array and explode() drops them
        .select("doc_id", F.explode(_fused_band_keys(F.col("text"))).alias("b"))
        .select("doc_id", "b.band_idx", "b.band_val")
    )
    # Bucket-local pair generation: ONE shuffle (groupBy band key →
    # collect_list) replaces the window-count + bucket self-join plan,
    # which shuffled the band table three times. Pairs are emitted
    # per-bucket with array algebra — no join at all.
    #
    # Skew guard (the standard LSH-at-scale move): a band bucket with B
    # members yields B² candidate pairs, and degenerate buckets (boilerplate
    # shingles) blow up pair-count quadratically. Cap bucket size — an
    # over-full bucket carries almost no dedup signal per pair anyway.
    # AQE's skew handling doesn't apply to a collect_list group, but the
    # cap bounds every group to ≤64 ids (~0.5 KB), so no group can be hot.
    return _band_pairs(bands)


def _band_pairs(bands: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) → distinct candidate pairs, bucket-local.

    Pairs are emitted with array algebra inside each bucket — no
    self-join. Bucket size capped at 64 (see q_dedup_minhash_fast: an
    over-full boilerplate bucket carries ~no dedup signal per pair and
    would blow up quadratically).

    The cap is enforced BEFORE the collect: bucket sizes are counted
    first (map-side-combinable, tiny rows) and over-full buckets dropped
    with a join on the band key, so a degenerate bucket never
    materializes as a giant collected array. On a dup-heavy corpus
    (measured on a 100×-replicated sf0.1: every bucket ≥100 members)
    cap-after-collect still shuffles and builds every oversized group —
    the two-pass shape is what survives adversarial data. The band table
    is checkpointed so the upstream signature stage (the expensive part)
    runs once, not once per pass; at cluster scale this is a
    persist(MEMORY_AND_DISK)."""
    cap = 64
    bands = bands.localCheckpoint(eager=True)
    kept_keys = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= cap))
        .select("band_idx", "band_val")
    )
    buckets = (
        bands.join(kept_keys, ["band_idx", "band_val"])
        .groupBy("band_idx", "band_val")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pairs = F.expr(
        """
        flatten(transform(ids, (x, i) ->
          transform(slice(ids, i + 2, size(ids)), y ->
            struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))
        """
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _minhash_band_kernel(batches):
    """Arrow-batched MinHash band keys: (doc_id, text) → one (doc_id,
    band_idx, band_val) row per band of every document with a word-3-gram
    shingle. Batch-wide numpy, no per-document loop past tokenization:
    shingle hashes from the shared engine (functions/polyhash_np
    ``SpanHasher``), signatures as segment minima (``_minhash_sigs``),
    band_val = (sig_2j·31 + sig_2j+1) mod p. The values are the
    portable ones the JVM and DuckDB twins compute, so the path is
    hash-verified against its oracle, not rows-only."""
    import numpy as np
    import pandas as pd

    from duckdb_pst_spark.functions.batches import rebatch
    from duckdb_pst_spark.functions.polyhash_np import SpanHasher

    hasher = SpanHasher()
    # The session Arrow cap is payload-safe-small (256); coalesce chunks
    # so per-batch fixed costs amortize over ~8k narrow rows (see
    # functions/batches.py for why the conf itself must not be raised).
    for pdf in rebatch(batches, 8192):
        ids, nsh, _didx, _pos, h = hasher.spans(pdf["text"].values, pdf["doc_id"].values)
        sig = _minhash_sigs(h, nsh)
        bands = (sig[0::2] * 31 + sig[1::2]) % P_HASH  # (bands, docs)
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(ids, MINHASH_BANDS),
                "band_idx": np.tile(np.arange(MINHASH_BANDS, dtype=np.int32), len(ids)),
                "band_val": bands.T.ravel(),
            }
        )


_VEC_ORACLE = (
    _duck_minhash_cte()
    + f"""
    , bands AS (
      {_duck_bands()}
    ),
    kept AS (
      SELECT band_idx, band_val FROM bands
      GROUP BY band_idx, band_val HAVING count(*) BETWEEN 2 AND 64
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN kept k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
    JOIN bands b ON b.band_idx = a.band_idx AND b.band_val = a.band_val
     AND a.doc_id < b.doc_id
    """
)


@query("q_dedup_minhash_vec", oracle=_VEC_ORACLE, tags=("dedup", "fast"), bench=True)
def q_dedup_minhash_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with the signature stage as an
    Arrow-batched ``mapInPandas`` kernel — the second of the two 100 TB
    hot paths, racing q_dedup_minhash_fast's fused-JVM-expression form.

    Why a Python kernel can win here: Spark's higher-order array
    functions (transform/aggregate/zip_with) are interpreted expressions
    — they sit outside whole-stage codegen and allocate per element — so
    a compute-bound shingle+minhash stage pays ~200µs/doc in the JVM
    form. The Arrow kernel amortizes the Python boundary over whole
    columnar batches and vectorizes the signature math in numpy
    (``_minhash_band_kernel`` over the shared poly-hash engine). Both
    scale the same way — per-row map stage, one groupBy shuffle — the
    kernel just trades JVM expression interpretation for Arrow transfer
    + numpy. Downstream pair generation is shared (``_band_pairs``).
    The kernel computes the SAME portable polynomial hashes as
    q_dedup_minhash, so this path is fully oracle-checked (signature →
    band → capped-bucket candidate pairs) — the cap shows up in the
    oracle as the HAVING count BETWEEN 2 AND 64 bucket filter."""
    from duckdb_pst_spark.functions.partitioning import spread

    bands = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(_minhash_band_kernel, "doc_id long, band_idx int, band_val long")
    )
    return _band_pairs(bands)


# --------------------------------------------- keep-best representative
@query(
    "q_dedup_keep_best",
    oracle=_duck_minhash_cte()
    + f"""
    , keyed AS (
      SELECT s.doc_id,
             concat_ws('-', {', '.join(f'sig_{k}' for k in range(MINHASH_K))}) AS sig_key,
             d.n_chars
      FROM sig s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT sig_key, doc_id AS keep_id, n_chars AS keep_n_chars, grp_cnt
    FROM (
      SELECT sig_key, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY sig_key
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY sig_key) AS grp_cnt
      FROM keyed
    ) t
    WHERE rn = 1 AND grp_cnt >= 2
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group representative selection: bucket documents by their
    FULL MinHash signature (signature equality ⇒ high-Jaccard near-dups),
    then within each multi-member bucket keep the LONGEST document
    (tie → smallest doc_id). This is the "which copy do we train on"
    policy step after dedup detection — production pipelines keep the
    highest-quality member, not an arbitrary one (q_dedup_exact's MIN
    keeps the first; this keeps the best).

    Scale design: signatures come from a scan-local numpy kernel (the
    poly-hash engine in functions/polyhash_np.py, which q_winnowing
    also uses, and ``_minhash_sigs``; the interpreted JVM
    per-character fold was this plan's dominant cost, and n_chars
    rides the same source row so the old doc_id join-back is gone
    too); the group-and-pick is ONE shuffle on
    the 8-int signature key with a window rank — no pairwise
    comparisons at all, so cost is O(corpus), not O(candidates²). The
    window partition is a near-dup bucket (tiny by construction), so no
    skewed-partition risk; at 100 TB the sig_key shuffles as a 64-byte
    string (or xxhash64 of it, 8 bytes). Zipf-100× A/B is recorded in
    SCALE.md §round 6.
    """
    import pandas as pd
    from pyspark.sql import Window

    def sig_kernel(batches):
        import numpy as np

        from duckdb_pst_spark.functions.batches import rebatch
        from duckdb_pst_spark.functions.polyhash_np import SpanHasher

        hasher = SpanHasher()
        for pdf in rebatch(batches, 4096):
            # keys = row positions, so n_chars rides along by index
            rows, nsh, _didx, _pos, h = hasher.spans(
                pdf["text"].values, np.arange(len(pdf), dtype=np.int64)
            )
            cols = {
                "doc_id": pd.Series(pdf["doc_id"].values[rows], dtype="int64"),
                "n_chars": pd.Series(pdf["n_chars"].values[rows], dtype="int64"),
            }
            for k, sig in enumerate(_minhash_sigs(h, nsh)):
                cols[f"sig_{k}"] = pd.Series(sig, dtype="int64")
            yield pd.DataFrame(cols)

    from duckdb_pst_spark.functions.partitioning import spread

    sig_schema = ", ".join(
        ["doc_id long", "n_chars long"]
        + [f"sig_{k} long" for k in range(MINHASH_K)]
    )
    sig_key = F.concat_ws(
        "-", *[F.col(f"sig_{k}").cast("string") for k in range(MINHASH_K)]
    ).alias("sig_key")
    keyed = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "text", "n_chars")
        .mapInPandas(sig_kernel, sig_schema)
        .select("doc_id", "n_chars", sig_key)
    )
    w_rank = Window.partitionBy("sig_key").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w_grp = Window.partitionBy("sig_key")
    return (
        keyed.select(
            "sig_key",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_n_chars"),
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_grp).alias("grp_cnt"),
        )
        .where((F.col("rn") == 1) & (F.col("grp_cnt") >= 2))
        .drop("rn")
    )


# ------------------------------------------------- incremental dedup
# role split: hash(doc_id) % 10 < 7 -> "existing corpus", else "new batch"
_INCR_MOD, _INCR_CORPUS = 10, 7


def _duck_incr_oracle() -> str:
    """Custom CTE chain: role split -> distinct-text representatives ->
    shingles/sigs for REPRESENTATIVES ONLY -> batch-vs-corpus bands."""
    from duckdb_pst_spark.functions.portable import duck_tokens as _dt

    sigs = _duck_sig_cols()
    return f"""
    WITH role AS (
      SELECT doc_id, text,
             CASE WHEN {duck_poly_hash_long('doc_id')} % {_INCR_MOD} < {_INCR_CORPUS}
                  THEN 1 ELSE 0 END AS in_corpus
      FROM documents
    ),
    crep AS (
      SELECT text, MIN(doc_id) AS doc_id FROM role WHERE in_corpus = 1 GROUP BY text
    ),
    brep AS (
      SELECT text, MIN(doc_id) AS doc_id FROM role WHERE in_corpus = 0 GROUP BY text
    ),
    reps AS (
      SELECT doc_id, text FROM crep UNION ALL SELECT doc_id, text FROM brep
    ),
    tk AS (
      SELECT doc_id, {_dt('text')} AS toks FROM reps
    ),
    sh AS (
      SELECT doc_id, {_duck_shingle_hashes()} AS sh
      FROM tk WHERE len(toks) >= 3
    ),
    sig AS (
      SELECT doc_id, sh,
           {sigs}
      FROM sh
    ),
    bands AS (
      {_duck_bands()}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
      FROM bands b
      JOIN brep ON brep.doc_id = b.doc_id
      JOIN bands c ON c.band_idx = b.band_idx AND c.band_val = b.band_val
      JOIN crep ON crep.doc_id = c.doc_id
    ),
    near_rep AS (
      SELECT DISTINCT cand.bid
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.bid
      JOIN sh sb ON sb.doc_id = cand.cid
      WHERE (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
              // len(list_distinct(list_concat(sa.sh, sb.sh))) >= {JACCARD_THRESHOLD_U}
    ),
    exact AS (
      SELECT DISTINCT b.text
      FROM role b JOIN crep c ON c.text = b.text
      WHERE b.in_corpus = 0
    )
    SELECT b.doc_id,
           CASE WHEN e.text IS NOT NULL THEN 'exact_corpus'
                WHEN n.bid IS NOT NULL THEN 'near_corpus'
                WHEN b.doc_id != m.doc_id THEN 'batch_dup'
                ELSE 'kept' END AS status
    FROM role b
    JOIN brep m ON m.text = b.text
    LEFT JOIN exact e ON e.text = b.text
    LEFT JOIN near_rep n ON n.bid = m.doc_id
    WHERE b.in_corpus = 0
    """


@query(
    "q_dedup_incremental",
    oracle=_duck_incr_oracle(),
    tags=("dedup", "pipeline"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) deduplication — the daily-crawl
    shape: a new batch (30% of docs by a deterministic hash role split)
    is deduplicated AGAINST the existing corpus (the other 70%) without
    re-deduplicating the corpus. Three gates, priority ordered: exact
    text match against the corpus, MinHash-LSH near-dup against the
    corpus (band-bucket join, exact-Jaccard verified), and within-batch
    exact dup (keep the smallest doc_id). Every batch doc gets a status.

    Scale design — O(DISTINCT docs), not O(copies): both sides collapse
    to one REPRESENTATIVE per distinct text BEFORE tokenization, so the
    shingle/signature pipeline (the dominant cost) and the band join
    run on distinct texts only; every batch doc then inherits its
    representative's verdict through a text join. The collapse is exact,
    not an approximation — identical text ⇒ identical shingles ⇒
    identical bands and Jaccard (the oracle applies the identical
    collapse). Measured on the 100x-replicated corpus (every doc x100):
    un-collapsed 133 s, collapsed ~4 s. In production the corpus side
    IS the persisted signature index — distinct (band, sig, sh) rows
    appended as increments commit; corpus raw text is never re-scanned,
    and the candidate join touches batch x corpus band pairs only,
    never corpus x corpus.
    """
    docs = table(spark, sf_dir, "documents")
    in_corpus = poly_hash_long(F.col("doc_id")) % _INCR_MOD < _INCR_CORPUS
    role = docs.select("doc_id", "text", in_corpus.alias("in_corpus"))

    # ONE text-keyed aggregate replaces the r4 crep/brep pair: each
    # distinct text carries its min corpus doc (c_doc) and min batch doc
    # (b_doc) side by side, so the exact gate is a null test instead of a
    # text join, and statusing reuses this same exchange. Checkpointed:
    # consumed twice (signature input + final statusing).
    per_text = (
        role.groupBy("text")
        .agg(
            F.min(F.when(F.col("in_corpus"), F.col("doc_id"))).alias("c_doc"),
            F.min(F.when(~F.col("in_corpus"), F.col("doc_id"))).alias("b_doc"),
        )
        .localCheckpoint(eager=True)
    )

    # Signature input: every corpus rep, plus only the batch reps the
    # near gate can still matter for (c_doc IS NULL — an exact corpus hit
    # wins the CASE before the near flag is ever read, so exact-matched
    # batch reps skip the shingle pipeline entirely). The side tag rides
    # THROUGH the signature kernel (`carry`), replacing r4's two
    # doc_id-keyed join-backs with map-side filters.
    sig_in = (
        per_text.where(F.col("c_doc").isNotNull())
        .select(F.col("c_doc").alias("doc_id"), "text", F.lit(True).alias("is_c"))
        .unionByName(
            per_text.where(F.col("c_doc").isNull() & F.col("b_doc").isNotNull()).select(
                F.col("b_doc").alias("doc_id"), "text", F.lit(False).alias("is_c")
            )
        )
    )
    sigs = signatures_for(sig_in, carry=("is_c",))
    bands = _band_rows(sigs, "doc_id", "is_c")
    b_bands = bands.where(~F.col("is_c")).select(
        F.col("doc_id").alias("bid"), "band_idx", "band_val"
    )
    c_bands = bands.where(F.col("is_c")).select(
        F.col("doc_id").alias("cid"), "band_idx", "band_val"
    )
    cand = b_bands.join(c_bands, ["band_idx", "band_val"]).select("bid", "cid").distinct()
    sh = sigs.select("doc_id", "sh")
    jacc = F.expr(
        "(CAST(size(array_intersect(sa_sh, sb_sh)) AS BIGINT) * 1000000)"
        " div size(array_union(sa_sh, sb_sh))"
    )
    near_rep = (
        cand.join(sh.select(F.col("doc_id").alias("bid"), F.col("sh").alias("sa_sh")), "bid")
        .join(sh.select(F.col("doc_id").alias("cid"), F.col("sh").alias("sb_sh")), "cid")
        .where(jacc >= JACCARD_THRESHOLD_U)
        .select("bid")
        .distinct()
        .select(F.col("bid"), F.lit(1).alias("is_near"))
    )

    # Statusing: every batch doc inherits its representative's verdict.
    # r12 (guide §2.3, the repo-wide 128-bit content-key discipline):
    # the inheritance join is keyed on a two-seed xxhash64 pair of the
    # text instead of the text itself — the batch side's only wide
    # exchange now carries 16 B per doc instead of the ~1 KB text, and
    # the per_text side re-keys on the same 16 B (it is
    # distinct-texts-sized, so its extra exchange is the small one).
    # A spurious inheritance needs a collision under both seeds at once
    # (n²/2¹²⁹ — the q_pipeline_pretrain/_tkey class; the verdict is
    # final with no downstream re-check, which is exactly why the key
    # is 128-bit, not 64). Measured interleaved min-of-3, results
    # pinned equal (OPTIMIZATION_r12.md §6): 0.96x sf0.1, 0.91x x10,
    # 0.86x x100 — the text bytes are the exchange's growth term. The
    # near flag then rides a SKINNY b_doc-keyed join on
    # (doc_id, b_doc, c_doc) rows. (A lazy per_text checkpoint was
    # A/B'd alongside: 0.96/0.81/1.05x — not uniform, no-ship.)
    pt_h = per_text.select(
        F.xxhash64("text").alias("_t1"),
        F.xxhash64(F.lit(1), "text").alias("_t2"),
        "c_doc",
        "b_doc",
    )
    return (
        role.where(~F.col("in_corpus"))
        .select(
            "doc_id",
            F.xxhash64("text").alias("_t1"),
            F.xxhash64(F.lit(1), "text").alias("_t2"),
        )
        .join(pt_h, ["_t1", "_t2"])
        .select("doc_id", "c_doc", F.col("b_doc").alias("bid"))
        .join(near_rep, "bid", "left")
        .select(
            "doc_id",
            F.when(F.col("c_doc").isNotNull(), "exact_corpus")
            .when(F.col("is_near").isNotNull(), "near_corpus")
            .when(F.col("doc_id") != F.col("bid"), "batch_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


# ------------------------------------------------------ LSH recall QA
_RECALL_SAMPLE = 500  # doc_id bound for the exact-pair ground truth


def _duck_band_cand_cte() -> str:
    """bands + distinct candidate pairs — the oracle twin of the
    production band join, shared shape with q_dedup_minhash."""
    return f"""
    , bands AS (
      {_duck_bands()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )"""


@query(
    "q_lsh_recall",
    oracle=_duck_minhash_cte(f"WHERE doc_id < {_RECALL_SAMPLE}")
    + _duck_band_cand_cte()
    + f"""
    , allp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
               // len(list_distinct(list_concat(a.sh, b.sh))) AS j
      FROM sh a JOIN sh b ON b.doc_id > a.doc_id
    ),
    truth AS (SELECT doc_a, doc_b FROM allp WHERE j >= {JACCARD_THRESHOLD_U}),
    hit AS (
      SELECT t.doc_a FROM truth t JOIN cand c
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
                ELSE 1000000 * (SELECT count(*) FROM hit)
                       // (SELECT count(*) FROM truth) END AS recall_ppm
    """,
    tags=("dedup", "quality", "pipeline"),
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate generator against the exact
    Jaccard≥0.30 pair set — the dedup counterpart of q_knn_recall /
    q_knn_recall_ivf / q_knn_recall_pq: every approximate index in the
    repo ships its acceptance metric, and LSH's failure mode (a true
    near-dup pair landing in no shared band) is invisible without one.
    Ground truth is computed EXACTLY on a bounded doc_id sample — the
    production QA pattern, since the exact pair set is quadratic and
    can only ever be afforded on a sample; the candidate side reuses
    the production band-join shape on the same sample.

    Scale design: the sample bound makes the all-pairs truth join a
    broadcast-sized quadratic (|S|²/2 pairs for |S| docs — choose |S|
    by QA budget, not corpus size); the band join is the production
    plan unchanged. Counts reduce to one 1×1×1 broadcast-joined row;
    nothing corpus-sized moves. Recall_ppm uses the 10⁶ convention
    with the empty-truth guard at 10⁶ (vacuous recall)."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < _RECALL_SAMPLE)
    )
    sigs = signatures_for(docs)
    # candidate pairs: the production band join on the sample signatures
    bdf = _band_rows(sigs, "doc_id")
    cand = (
        bdf.alias("a")
        .join(
            bdf.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sigs.select("doc_id", "sh")
    jacc = F.expr(
        "(CAST(size(array_intersect(sa_sh, sb_sh)) AS BIGINT) * 1000000)"
        " div size(array_union(sa_sh, sb_sh))"
    )
    truth = (
        sh.alias("sa")
        .join(sh.alias("sb"), F.col("sa.doc_id") < F.col("sb.doc_id"))
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
            F.col("sa.sh").alias("sa_sh"),
            F.col("sb.sh").alias("sb_sh"),
        )
        .select("doc_a", "doc_b", jacc.alias("j"))
        .filter(F.col("j") >= JACCARD_THRESHOLD_U)
        .select("doc_a", "doc_b")
    )
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            F.expr(
                "CASE WHEN n_true = 0 THEN 1000000"
                " ELSE 1000000 * n_hit div n_true END"
            ).alias("recall_ppm"),
        )
    )


# ------------------------------------- simhash hamming-distance dedup
_SH_BLOCKS = 4  # 4 blocks x 4 bits of the 16-bit simhash
_SH_HAMMING = 3  # near-dup threshold: <= 3 differing bits
_SH_BUCKET_CAP = 64  # drop degenerate blocks (adversarial-data guard)


@query(
    "q_dedup_simhash_hamming",
    oracle=f"""
    WITH sim AS (
      SELECT doc_id,
             {_DUCK_SIMHASH16} AS s
      FROM (
        SELECT doc_id,
               list_transform({duck_tokens('text')}, t -> {duck_poly_hash('t')}) AS th
        FROM documents
      ) t0
    ),
    blocks AS (
      SELECT doc_id, s, j, (s // ([1, 16, 256, 4096][j + 1])) % 16 AS bv
      FROM sim, unnest([0, 1, 2, 3]) AS u(j)
    ),
    ok AS (
      SELECT j, bv FROM blocks GROUP BY j, bv HAVING count(*) <= {_SH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.s AS sa, b.s AS sb
      FROM blocks a
      JOIN ok ON ok.j = a.j AND ok.bv = a.bv
      JOIN blocks b ON b.j = a.j AND b.bv = a.bv AND b.doc_id > a.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SH_HAMMING}
    """,
    tags=("dedup", "pipeline"),
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤ {3} via the
    pigeonhole block index [Manku et al., WWW'07 — the production web
    dedup at Google scale]: split each 16-bit simhash into 4 exact
    4-bit blocks; any pair within distance 3 must agree on ≥1 whole
    block, so candidates exist only inside a block-value equi-join —
    never the all-pairs n². Verification is one popcount per candidate
    (bit_count(xor)), engine-exact. Blocks with more than {64} members
    are dropped before the self-join — the same deterministic
    degenerate-bucket guard as the MinHash band join (both engines
    apply the identical HAVING, so the output stays hash-checkable).

    Scale design: the block join IS the LSH shape — one shuffle keyed
    on (block_idx, block_val), candidates ∝ near-dups. At 100 TB you
    widen to the paper's 64-bit simhash with 16-bit blocks (65k bucket
    values per block index), which keeps buckets sparse at web scale;
    the 16-bit width here matches the repo's portable simhash so the
    whole chain stays oracle-checkable."""
    sim = simhash16_df(spark, sf_dir).withColumnRenamed("simhash16", "s")
    blocks = sim.select(
        "doc_id",
        "s",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(s div {16 ** j}) % 16").alias(f"b{j}")
                    for j in range(_SH_BLOCKS)
                ]
            )
        ).alias("j", "bv"),
    )
    ok = (
        blocks.groupBy("j", "bv")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") <= _SH_BUCKET_CAP)
        .select("j", "bv")
    )
    gated = blocks.join(ok, ["j", "bv"])
    cand = (
        gated.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)")
        )
        .filter(F.col("hamming") <= _SH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------ prefix-filter set-sim join
_SSJ_TAU_U = 500_000  # Jaccard >= 0.5, micro-units


@query(
    "q_setsim_prefix",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS s
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(s) AS t FROM sets),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t),
    ordered AS (
      SELECT tok.doc_id, list(tok.t ORDER BY df.dfc, tok.t) AS toks_o
      FROM tok JOIN df ON df.t = tok.t
      GROUP BY tok.doc_id
    ),
    pfx AS (
      SELECT doc_id, CAST(len(toks_o) AS BIGINT) AS n,
             CAST(i AS BIGINT) AS p, toks_o[i] AS t
      FROM ordered, unnest(range(1, len(toks_o) // 2 + 2)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pfx a JOIN pfx b ON b.t = a.t AND b.doc_id > a.doc_id
      WHERE b.n <= 2 * a.n AND a.n <= 2 * b.n
        AND 3 * (1 + least(a.n - a.p, b.n - b.p)) >= a.n + b.n
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             (CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000)
               // len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard_u
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.doc_a
      JOIN sets sb ON sb.doc_id = c.doc_b
      WHERE (CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000)
               // len(list_distinct(list_concat(sa.s, sb.s))) >= {_SSJ_TAU_U}
    ),
    sides AS (
      SELECT doc_a AS doc_id, jaccard_u FROM verified
      UNION ALL
      SELECT doc_b AS doc_id, jaccard_u FROM verified
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
           max(jaccard_u) AS max_jaccard_u
    FROM sides GROUP BY doc_id
    """,
    tags=("dedup", "join", "pipeline"),
)
def q_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard ≥ 0.5 via prefix
    filtering [Bayardo et al., WWW'07; Vernica et al., SIGMOD'10] — the
    deterministic alternative to MinHash-LSH: no false negatives ever.
    Tokens order globally by ascending document frequency (rarest
    first, string tiebreak); a set of n tokens exposes only its first
    n div 2 + 1 as join keys — any pair with Jaccard ≥ ½ must share a
    token inside both prefixes, and because prefixes lead with RARE
    tokens, candidate fan-out stays near the true-pair count instead
    of colliding on stopwords; the PPJoin length filter (sizes within
    2×) and positional filter (3·(1+min remaining) ≥ n_a+n_b, sound
    for the first common prefix token of every true pair) prune
    candidates BEFORE the distinct shuffle. Exact Jaccard verifies
    each survivor. Output is per-document neighbor statistics
    (n_neighbors, max jaccard) rather than the raw pair list — on a
    duplicate-heavy corpus the TRUE pair set is itself quadratic
    (measured: 8.9M pairs at sf0.1, an output-size property no join
    algorithm can reduce), while per-doc stats stay O(docs) and are
    what the downstream keep/drop policy consumes anyway.

    Scale design: document frequencies are one map-side-combined
    vocabulary aggregate, broadcast back; the per-doc frequency sort is
    a sort_array over each row's own tokens (scan-local); the ONLY
    corpus-keyed shuffle is the prefix-token equi-join, whose fan-out
    the rare-first ordering bounds — the same reason the production
    systems (PPJoin lineage) beat LSH on exact-threshold workloads. At
    100 TB the df table prunes to tokens actually appearing in some
    prefix, and hot stopword keys cannot occur by construction."""
    sets = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("s"))
        .localCheckpoint(eager=True)  # barrier: sets feed df, ordering, and verify
    )
    tok = sets.select("doc_id", F.explode("s").alias("t"))
    df_tbl = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("dfc"))
    ordered = (
        tok.join(F.broadcast(df_tbl), "t")
        .groupBy("doc_id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(dfc, t))), x -> x.t)").alias(
                "toks_o"
            )
        )
    )
    pfx = ordered.select(
        "doc_id",
        F.size("toks_o").cast("long").alias("n"),
        F.posexplode(F.expr("slice(toks_o, 1, size(toks_o) div 2 + 1)")).alias("p0", "t"),
    ).select("doc_id", "n", (F.col("p0") + 1).cast("long").alias("p"), "t")
    cand = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin filters — prune BEFORE the distinct shuffle, still
            # exact: sizes within 2x (Jaccard >= 1/2 forces it) and the
            # positional bound 1 + min(remaining_a, remaining_b) >= alpha
            # (holds for the first common token of every true pair)
            & (F.col("b.n") <= 2 * F.col("a.n"))
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (
                3
                * (
                    1
                    + F.least(
                        F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p")
                    )
                )
                >= F.col("a.n") + F.col("b.n")
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    jacc = F.expr(
        "(CAST(size(array_intersect(sa_s, sb_s)) AS BIGINT) * 1000000)"
        " div size(array_union(sa_s, sb_s))"
    )
    verified = (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b",
            F.col("sa.s").alias("sa_s"), F.col("sb.s").alias("sb_s"),
        )
        .select("doc_a", "doc_b", jacc.alias("jaccard_u"))
        .filter(F.col("jaccard_u") >= _SSJ_TAU_U)
    )
    sides = verified.select(F.col("doc_a").alias("doc_id"), "jaccard_u").unionByName(
        verified.select(F.col("doc_b").alias("doc_id"), "jaccard_u")
    )
    return sides.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.max("jaccard_u").alias("max_jaccard_u"),
    )


# ----------------------------------- production-width SimHash (60-bit)
_SHPROD_BITS = 60  # 2 x 30-bit portable hashes -> 4 blocks x 15 bits
_SHPROD_BLOCK_BITS = 15
_SHPROD_BLOCKS = 4
_SHPROD_HAMMING = 3
_SHPROD_CAP = 64


def _simhash_prod_kernel(batches):
    """Arrow-batched 60-bit SimHash kernel: (doc_id, text) → (doc_id, s),
    from the SAME portable token hashes as the JVM form — h1 =
    poly(token), the shared engine's one-token spans
    (functions/polyhash_np ``SpanHasher``, ``n=1``), h2 = Knuth remix
    of h1 — so the output stays fully oracle-checked. NULL or token-free
    text yields no row, like the JVM explode. Bit i of s is set when
    more of the document's tokens have bit i set than clear (bits 0–29
    from h1, 30–59 from h2): one ``np.add.reduceat`` per bit over the
    batch's tokens. One reduceat over a (tokens × 60) bit matrix
    measured slower (vote step on 50,000 documents, 8,192-row batches:
    0.30 per bit vs 2.0 CPU-s for the matrix)."""
    import numpy as np
    import pandas as pd

    from duckdb_pst_spark.functions.batches import rebatch
    from duckdb_pst_spark.functions.polyhash_np import SpanHasher

    mult = 2654435761 % P_HASH
    hasher = SpanHasher()
    for pdf in rebatch(batches, 8192):
        ids, ntok, _didx, _pos, h1 = hasher.spans(
            pdf["text"].values, pdf["doc_id"].values, n=1
        )
        starts = np.cumsum(ntok) - ntok
        h2 = h1 * mult % P_HASH
        s = np.zeros(len(ids), dtype=np.int64)
        for bit in range(_SHPROD_BITS):
            ones = np.add.reduceat((h1 if bit < 30 else h2) >> (bit % 30) & 1, starts)
            s |= (2 * ones > ntok).astype(np.int64) << bit
        yield pd.DataFrame({"doc_id": ids, "s": s})


def _simhash_prod_oracle() -> str:
    votes = ",\n             ".join(
        (
            f"sum(CASE WHEN (h1 // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
            if i < 30
            else f"sum(CASE WHEN (h2 // {1 << (i - 30)}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
        )
        for i in range(_SHPROD_BITS)
    )
    s_expr = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SHPROD_BITS)
    )
    offs = ", ".join(str(1 << (_SHPROD_BLOCK_BITS * j)) for j in range(_SHPROD_BLOCKS))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({duck_tokens('text')}) AS t FROM documents
    ),
    th AS (
      SELECT doc_id, {duck_poly_hash('t')} AS h1 FROM tok
    ),
    th2 AS (
      SELECT doc_id, h1, {duck_poly_hash_long('h1')} AS h2 FROM th
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM th2 GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {s_expr} AS s FROM votes),
    blocks AS (
      SELECT doc_id, s, j, (s // ([{offs}][j + 1])) % {1 << _SHPROD_BLOCK_BITS} AS bv
      FROM sim, unnest([0, 1, 2, 3]) AS u(j)
    ),
    ok AS (
      SELECT j, bv FROM blocks GROUP BY j, bv HAVING count(*) <= {_SHPROD_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.s AS sa, b.s AS sb
      FROM blocks a
      JOIN ok ON ok.j = a.j AND ok.bv = a.bv
      JOIN blocks b ON b.j = a.j AND b.bv = a.bv AND b.doc_id > a.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SHPROD_HAMMING}
    """


@query(
    "q_dedup_simhash_prod",
    oracle=_simhash_prod_oracle(),
    tags=("dedup", "pipeline"),
)
def q_dedup_simhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width SimHash near-dup pairs: 60-bit fingerprints in
    4 x 15-bit pigeonhole blocks (Hamming <= 3 => >= 1 whole block
    agrees), the width regime Manku et al. [WWW'07] actually ran at
    web scale. The 16-bit `q_dedup_simhash_hamming` demo degenerates
    once the corpus exceeds ~2^16 near-clusters (every block bucket
    overflows the cap); 15-bit blocks give 32k bucket values PER BLOCK
    INDEX, so buckets stay sparse until genuine near-dup mass fills
    them — this query is the scale path, the 16-bit twin stays as the
    compact teaching/oracle demo.

    Portable bit source: two chained 30-bit polynomial hashes per token
    (h1 = poly(token), h2 = Knuth-remix(h1)) supply 60 engine-identical
    vote bits (bit 29 of each carries slight bias since P < 2^30 —
    irrelevant for near-dup banding, noted for honesty). The signature
    stage is the `_simhash_prod_kernel` Arrow kernel — the portable
    hashes computed in numpy by the poly-hash engine the minhash
    kernels use, one segment sum per bit over the batch instead of
    60 interpreted conditional folds per token (same-session at 100×:
    45.3 s JVM-fold form → 9.2 s cold / 6.1 s warm-min). Fingerprints
    are scan-local (one row out per doc) and checkpointed so the two
    block-join sides share one materialization. The block join then
    shuffles (j, bv)-keyed fingerprint rows with the same deterministic
    degenerate-bucket cap as the 16-bit twin, and verification is one
    popcount per candidate.

    Parity note: DuckDB power-of-two offsets ride a BIGINT literal
    table (`//` on DOUBLE is plain division — the q_dedup_simhash_hamming
    gotcha), and vote sums never reach the output so HUGEINT widening
    stays internal."""
    from duckdb_pst_spark.functions.partitioning import spread

    sim = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(_simhash_prod_kernel, "doc_id long, s long")
        .localCheckpoint(eager=True)  # both join sides reuse the sigs
    )
    blocks = sim.select(
        "doc_id",
        "s",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"(s div {1 << (_SHPROD_BLOCK_BITS * j)})"
                        f" % {1 << _SHPROD_BLOCK_BITS}"
                    )
                    for j in range(_SHPROD_BLOCKS)
                ]
            )
        ).alias("j", "bv"),
    )
    ok = (
        blocks.groupBy("j", "bv")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") <= _SHPROD_CAP)
        .select("j", "bv")
    )
    gated = blocks.join(ok, ["j", "bv"])
    cand = (
        gated.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(F.col("hamming") <= _SHPROD_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# -------------------------------------- dedup cluster-size histogram
@query(
    "q_cluster_size_histogram",
    oracle=_duck_verified_pairs_cte(recursive=True)
    + """
    , edges AS (
      SELECT doc_a AS u, doc_b AS v FROM verified
      UNION
      SELECT doc_b AS u, doc_a AS v FROM verified
    ),
    reach AS (
      SELECT DISTINCT u AS node, u AS label FROM edges
      UNION
      SELECT e.v AS node, r.label AS label
      FROM reach r JOIN edges e ON e.u = r.node
      WHERE r.label < e.v
    ),
    clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      FROM clusters GROUP BY cluster_id
    ),
    hist AS (
      SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM sizes GROUP BY sz
    ),
    single AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             (SELECT CAST(count(*) AS BIGINT) FROM documents)
               - (SELECT CAST(count(*) AS BIGINT) FROM clusters) AS n_clusters
    )
    SELECT cluster_size, n_clusters, cluster_size * n_clusters AS n_docs
    FROM (
      SELECT * FROM hist
      UNION ALL
      SELECT * FROM single WHERE n_clusters > 0
    ) h
    """,
    tags=("dedup", "pipeline", "quality"),
)
def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster-size distribution — the dedup QA dashboard
    number: how much of the corpus sits in duplicate clusters, and how
    big they get. A healthy crawl shows a long-tailed histogram with
    most docs singleton; a template-stamped or mirror-heavy crawl shows
    mass in large clusters, and THIS table is how you see it before
    deciding keep-one-per-cluster costs you 2% or 40% of the corpus.
    Composes the verified MinHash-LSH pair chain → connected components
    (min-label propagation, the q_dedup_cluster fixpoint) → per-cluster
    size → count-of-sizes, and re-adds the docs that never appeared in
    any candidate pair as size-1 clusters so the histogram partitions
    the WHOLE corpus (Σ n_docs = |documents|).

    Scale shape: everything after the pair chain is key-collapsing —
    |docs-in-components| → |clusters| → |distinct sizes| (a handful of
    rows); the singleton count is two scalar aggregates. The expensive
    part is the component fixpoint, which is the audited
    q_dedup_cluster plan unchanged (banded candidates, capped buckets,
    O(diameter) rounds)."""
    labels = q_dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    hist = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    docs_n = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("total")
    )
    in_comp = labels.agg(F.count(F.lit(1)).cast("long").alias("clustered"))
    single = (
        docs_n.crossJoin(in_comp)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("total") - F.col("clustered")).cast("long").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return hist.unionByName(single).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )


# ----------------------------------- asymmetric containment dedup
_CONT_TAU_U = 800_000  # keep pairs where >= 80% of A's tokens appear in B


@query(
    "q_containment_prefix",
    oracle=f"""
    WITH sets AS (
      SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS s
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(s) AS t FROM sets),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t),
    ordered AS (
      SELECT tok.doc_id, list(tok.t ORDER BY df.dfc, tok.t) AS toks_o
      FROM tok JOIN df ON df.t = tok.t
      GROUP BY tok.doc_id
    ),
    apfx AS (
      SELECT doc_id, CAST(len(toks_o) AS BIGINT) AS n,
             CAST((8 * len(toks_o) + 9) // 10 AS BIGINT) AS m,
             CAST(i AS BIGINT) AS p, toks_o[i] AS t
      FROM ordered,
           unnest(range(1, len(toks_o) - (8 * len(toks_o) + 9) // 10 + 2)) AS u(i)
    ),
    ball AS (
      SELECT doc_id, CAST(len(toks_o) AS BIGINT) AS n,
             CAST(i AS BIGINT) AS q, toks_o[i] AS t
      FROM ordered, unnest(range(1, len(toks_o) + 1)) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, a.m AS m
      FROM apfx a JOIN ball b ON b.t = a.t
      WHERE (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
        AND 1 + least(a.n - a.p, b.n - b.q) >= a.m
    ),
    verified AS (
      SELECT c.doc_a,
             (CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000) // c.n_a
               AS cont_u
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.doc_a
      JOIN sets sb ON sb.doc_id = c.doc_b
      WHERE (CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) * 1000000) // c.n_a
              >= {_CONT_TAU_U}
    )
    SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT) AS n_containers,
           max(cont_u) AS max_containment_u
    FROM verified GROUP BY doc_a
    """,
    tags=("dedup", "join", "pipeline"),
)
def q_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric containment self-join at C(A→B) = |A∩B|/|A| ≥
    0.8 — the subset-duplication detector Jaccard-based dedup
    structurally misses: a short document quoted whole inside a long
    one has Jaccard |A|/|B| ≈ 0 but containment 1.0 (press-release
    reuse, boilerplate-wrapped articles, quoted posts — the classic
    contaminators that survive MinHash).

    Same prefix-filter machinery as q_setsim_prefix [Bayardo et al.,
    WWW'07], adapted to the asymmetric threshold: tokens order globally
    by ascending document frequency; the CONTAINED side exposes only
    its first n − ⌈0.8n⌉ + 1 rarest tokens as join keys (missing all of
    them caps the intersection at ⌈0.8n⌉ − 1, below threshold), while
    the CONTAINER side is the full inverted index — containment puts no
    lower bound on how deep the shared token sits in B. The PPJoin
    positional filter transfers because the global order is total and
    shared: for the first common token at (p, q), every other common
    token sits after BOTH positions, so 1 + min(n_a−p, n_b−q) bounds
    the intersection. Ordering (n_a, doc_id) orients pairs smaller→
    larger; exact set intersection verifies survivors. Output is
    per-contained-doc stats (n_containers, max containment), O(docs) —
    the raw pair list is output-quadratic on duplicate-heavy corpora,
    the q_setsim_prefix rule, and per-doc stats are what the keep/drop
    policy consumes.

    Scale shape: df table = one map-side-combined vocabulary aggregate,
    broadcast back; per-doc ordering is scan-local sort_array; the one
    corpus-keyed shuffle is the prefix-vs-index equi-join, where hot
    (stopword) keys pair only with the rare-leading prefixes that
    almost never contain them. Like q_setsim_prefix, not benched on the
    100× replica: replicated corpora make the TRUE pair set quadratic
    (an output property, not a plan property). Measured round 6: the
    Zipf-growth replica is just as pathological — siblings still share
    the whole 31-token head vocabulary, so every replica of a doc
    mutually contains its ~500 siblings (≈ 6×10⁷ true pairs) and BOTH
    engines DNF at 100× (DuckDB OutOfMemory in the oracle; Spark
    exhausted the box's 77 GB of spill). Real corpora do not ship 500
    near-identical copies of every document into a containment join —
    and when they do, the q_dedup_incremental collapse (one
    representative per distinct text FIRST) is the mandatory
    pre-step."""
    sets = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("s"))
        .localCheckpoint(eager=True)  # feeds df, ordering, and verification
    )
    tok = sets.select("doc_id", F.explode("s").alias("t"))
    df_tbl = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("dfc"))
    ordered = (
        tok.join(F.broadcast(df_tbl), "t")
        .groupBy("doc_id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(dfc, t))), x -> x.t)").alias(
                "toks_o"
            )
        )
        .select(
            "doc_id",
            "toks_o",
            F.size("toks_o").cast("long").alias("n"),
            F.expr("CAST((8 * size(toks_o) + 9) div 10 AS BIGINT)").alias("m"),
        )
        .localCheckpoint(eager=True)  # feeds both join sides
    )
    apfx = ordered.select(
        "doc_id",
        "n",
        "m",
        F.posexplode(F.expr("slice(toks_o, 1, size(toks_o) - (8 * size(toks_o) + 9) div 10 + 1)")).alias(
            "p0", "t"
        ),
    ).select("doc_id", "n", "m", (F.col("p0") + 1).cast("long").alias("p"), "t")
    ball = ordered.select(
        "doc_id", "n", F.posexplode("toks_o").alias("q0", "t")
    ).select("doc_id", "n", (F.col("q0") + 1).cast("long").alias("q"), "t")
    cand = (
        apfx.alias("a")
        .join(
            ball.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | ((F.col("a.n") == F.col("b.n")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            )
            & (
                1 + F.least(F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.q"))
                >= F.col("a.m")
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
        )
        .distinct()
    )
    cont = F.expr(
        "(CAST(size(array_intersect(sa_s, sb_s)) AS BIGINT) * 1000000) div n_a"
    )
    verified = (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "n_a",
            F.col("sa.s").alias("sa_s"), F.col("sb.s").alias("sb_s"),
        )
        .select("doc_a", cont.alias("cont_u"))
        .filter(F.col("cont_u") >= _CONT_TAU_U)
    )
    return verified.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_containers"),
        F.max("cont_u").alias("max_containment_u"),
    )


# -------------------------------------------- dedup threshold sweep
_SWEEP_TAUS = tuple(range(200_000, 800_001, 100_000))  # 0.2 .. 0.8


@query(
    "q_dedup_threshold_sweep",
    oracle=_duck_minhash_cte()
    + f"""
    , bands AS (
      {_duck_bands()}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    vp AS (
      SELECT p.doc_a, p.doc_b,
             (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
               // len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_u
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    ),
    pb AS (
      SELECT jaccard_u // 100000 AS b, CAST(count(*) AS BIGINT) AS n
      FROM vp GROUP BY 1
    ),
    db AS (
      SELECT mj // 100000 AS b, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT d, MAX(j) AS mj FROM (
          SELECT doc_a AS d, jaccard_u AS j FROM vp
          UNION ALL
          SELECT doc_b AS d, jaccard_u AS j FROM vp
        ) u GROUP BY d
      ) m GROUP BY 1
    ),
    taus AS (SELECT CAST(unnest({list(_SWEEP_TAUS)}) AS BIGINT) AS tau_u)
    SELECT tau_u,
           CAST(COALESCE((SELECT SUM(n) FROM pb WHERE b * 100000 >= tau_u), 0)
                AS BIGINT) AS n_pairs,
           CAST(COALESCE((SELECT SUM(n) FROM db WHERE b * 100000 >= tau_u), 0)
                AS BIGINT) AS n_dup_docs
    FROM taus
    """,
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair and affected-document counts as a function of the
    Jaccard threshold (0.2..0.8) — the dedup twin of q_ivf_nprobe_sweep:
    the threshold is near-dedup's one knob (too low deletes paraphrases
    and licenses, too high keeps boilerplate clones), and this table —
    how many pairs fire and how many documents would be touched at each
    tau — is how the knob is set before a multi-day corpus dedup runs.

    ONE signature pass and ONE band-join candidate set feed every
    threshold: each verified pair lands in its Jaccard bucket
    (jaccard_u div 10⁵) and each document in the bucket of its MAX pair
    Jaccard, so per-tau counts are suffix sums over two ≤11-row
    histograms — the sweep adds two skinny aggregates to the
    q_dedup_minhash verify cost, never a per-threshold rerun. Taus are
    bucket edges, so suffix-summing buckets is exact, not approximate.
    Candidate completeness below the LSH design point decays with the
    band curve (pairs under ~0.3 appear only when a band collides), so
    low-tau rows read as "pairs the CANDIDATE GENERATOR surfaces" —
    the production planning quantity — while q_lsh_recall quantifies
    the generator itself against exact truth."""
    vp = verified_pairs_from_sigs(
        minhash_signatures(spark, sf_dir), min_jaccard_u=0
    ).localCheckpoint(eager=True)  # read twice: pair + doc histograms
    pb = (
        vp.select(F.expr("jaccard_u div 100000").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    db = (
        vp.select(F.col("doc_a").alias("d"), "jaccard_u")
        .unionByName(vp.select(F.col("doc_b").alias("d"), "jaccard_u"))
        .groupBy("d")
        .agg(F.max("jaccard_u").alias("mj"))
        .select(F.expr("mj div 100000").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    taus = spark.createDataFrame(
        [(t,) for t in _SWEEP_TAUS], "tau_u long"
    )
    n_pairs = (
        taus.crossJoin(F.broadcast(pb))
        .groupBy("tau_u")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b") * 100000 >= F.col("tau_u"), F.col("n"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs")
        )
    )
    n_docs = (
        taus.crossJoin(F.broadcast(db))
        .groupBy("tau_u")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b") * 100000 >= F.col("tau_u"), F.col("n"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    # LEFT join back onto taus: on a clean corpus vp is empty, the
    # histograms are empty, and the crossJoin+groupBy above yields zero
    # rows — an inner join would drop all 7 tau rows while the DuckDB
    # oracle (COALESCE over a LEFT JOIN) keeps them with zero counts.
    return (
        taus.join(n_pairs, "tau_u", "left")
        .join(n_docs, "tau_u", "left")
        .select(
            "tau_u",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_dup_docs", F.lit(0)).cast("long").alias("n_dup_docs"),
        )
    )


# ----------------------------------------- cheap-key dedup fidelity audit
@query(
    "q_dedup_prefix_exact",
    oracle="""
    WITH g AS (
      SELECT substr(text, 1, 64) AS pfx,
             CAST(count(*) AS BIGINT) AS nd,
             CAST(count(DISTINCT text) AS BIGINT) AS nt
      FROM documents WHERE text IS NOT NULL
      GROUP BY pfx
    )
    SELECT CAST(count(*) AS BIGINT) AS n_prefix_keys,
           CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_exact_texts,
           CAST(coalesce(sum(nt - 1), 0) AS BIGINT) AS false_merge_texts
    FROM g
    """,
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_prefix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fidelity audit of the cheap prefix dedup key: production exact
    dedup at 100 TB often keys on hash(first-N-chars) instead of the
    full text (the full string never needs to cross the wire); this
    table says what that costs — false_merge_texts counts DISTINCT
    texts that the 64-char prefix key would collapse into another text
    (boilerplate-headed documents are the classic failure). Run before
    switching a dedup pipeline onto the cheap key.

    Scale shape: Catalyst's two-level COUNT(DISTINCT text) expansion —
    map-side (pfx, text) partial dedup, one pair-keyed exchange, then
    the prefix-keyed rollup whose exchange carries one row per prefix
    key; the final single-row reduce is driver-trivial. At 100 TB swap
    text for xxhash64(text) in the distinct to shrink the dedup
    exchange to 8-byte keys (q_corpus_card's documented step-up)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    g = d.groupBy(F.substring("text", 1, 64).alias("pfx")).agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.countDistinct("text").cast("long").alias("nt"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_prefix_keys"),
        F.coalesce(F.sum("nd"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_exact_texts"),
        F.coalesce(F.sum(F.col("nt") - 1), F.lit(0))
        .cast("long")
        .alias("false_merge_texts"),
    )


# --------------------------------------------- LSH band tuning table
@query(
    "q_minhash_band_stats",
    oracle=_duck_minhash_cte()
    + f"""
    , bands AS (
      {_duck_bands()}
    ),
    bk AS (
      SELECT band_idx, band_val, CAST(count(*) AS BIGINT) AS sz
      FROM bands GROUP BY band_idx, band_val
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
             AS docs_in_colliding,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs
    FROM bk GROUP BY band_idx ORDER BY band_idx
    """,
    tags=("dedup", "pipeline"),
    bench=True,
)
def q_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket statistics — the banding tuning table read
    BEFORE a corpus-scale near-dup run: n_cand_pairs per band prices the
    verify stage (the sum of C(bucket, 2) IS the candidate-join output),
    max_bucket exposes banding hot spots (a boilerplate-heavy corpus
    collapses into one giant bucket and quadratic verify cost — the
    signal to add bands or salt the band key), and docs_in_colliding is
    the fraction of the corpus that generates any candidate at all.

    Scale shape: signatures from the shared scan-local kernel — read
    ONCE: the four band keys leave each row as one posexploded array
    (``_band_rows``), so the plan holds a single
    MapInPandas stage (a 4-way UNION of per-band selects would
    re-run the signature kernel per band — caught at registration and
    plan-gated); then one (band, value)-keyed map-side-combined
    aggregate (the SAME exchange the production band join pays, so the
    table prices exactly what will run) and a ≤4-group rollup. No pair
    is ever materialized — C(sz, 2) is arithmetic on bucket sizes."""
    sig = minhash_signatures(spark, sf_dir)
    bands = _band_rows(sig).select(
        F.col("band_idx").cast("long").alias("band_idx"), "band_val"
    )
    bk = bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        bk.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("docs_in_colliding"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("long").alias("n_cand_pairs"),
        )
        .orderBy("band_idx")
    )
