"""End-to-end pre-training corpus pipeline — the flagship composition.

Every stage is an operator that exists (and is oracle-checked) on its
own elsewhere in this package; this query chains them the way a real
100 TB data pipeline does, as ONE lazy DataFrame program:

  documents
    → quality gate        (length + token-count floors; text.py metrics)
    → language gate       (stopword-density en detector; q_lang_stopword)
    → eval-set holdout    (doc_id % 100 = 0 held out; q_contamination's split)
    → decontamination     (drop train docs sharing any word-3-gram
                           shingle with the eval split)
    → exact dedup         (keep min doc_id per identical text; q_dedup_exact)
    → near dedup          (drop the larger id of every Jaccard-verified
                           MinHash-LSH pair; q_dedup_minhash)
    → corpus stats        (per source × lang doc/token counts)

Scale shape: the gates are scan-local codegen'd filters (they fuse into
one stage); decontamination broadcasts the tiny eval shingle set; exact
dedup is one hash shuffle on the content key; near-dedup reuses the LSH
pair pipeline (its only shuffle is the band bucket join); the final
rollup partial-aggregates map-side. Nothing in the chain materializes
the corpus more than the dedup stages' own checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import poly_hash, tokens
from duckdb_pst_spark.operators.dedup import (
    JACCARD_THRESHOLD_U,
    _band_pairs,
    _duck_bands,
    _duck_minhash_cte,
    _minhash_band_kernel,
    _shingle_hashes,
)
from duckdb_pst_spark.operators.text import _EN_STOPWORDS
from duckdb_pst_spark.registry import query
from duckdb_pst_spark.tables import table

MIN_CHARS = 100
MIN_TOKENS = 20
EN_RATIO_U = 100_000  # ≥10% stopword density → English


def _pipeline_oracle() -> str:
    shingles = (
        "unnest(list_distinct(list_transform(range(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g"
    )
    # capped-bucket candidate pairs + Jaccard verify, spliced into our WITH
    verified = _duck_minhash_cte().strip()
    assert verified.startswith("WITH ")
    verified = ", " + verified[len("WITH ") :] + f"""
    , bands AS ({_duck_bands()}),
    kept AS (
      SELECT band_idx, band_val FROM bands
      GROUP BY band_idx, band_val HAVING count(*) BETWEEN 2 AND 64
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN kept k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
      JOIN bands b ON b.band_idx = a.band_idx AND b.band_val = a.band_val
       AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000000)
              // len(list_distinct(list_concat(sa.sh, sb.sh))) >= {JACCARD_THRESHOLD_U}
    )"""
    return f"""
    WITH toked AS (
      SELECT doc_id, source, lang, text,
             list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    gated AS (
      SELECT * FROM toked
      WHERE length(text) >= {MIN_CHARS} AND len(toks) >= {MIN_TOKENS}
        AND (CAST(len(list_filter(toks, t -> t IN {_EN_STOPWORDS!r})) AS BIGINT)
             * 1000000) // len(toks) >= {EN_RATIO_U}
    ),
    train AS (SELECT * FROM gated WHERE doc_id % 100 <> 0),
    eval_sh AS (
      SELECT doc_id, {shingles} FROM toked
      WHERE doc_id % 100 = 0 AND len(toks) >= 3
    ),
    train_sh AS (
      SELECT doc_id, {shingles} FROM train WHERE len(toks) >= 3
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id FROM train_sh t JOIN eval_sh e ON e.g = t.g
    ),
    clean AS (
      SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    exact AS (
      SELECT * FROM clean
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
    ){verified},
    near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM verified)
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
    FROM exact
    WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
    GROUP BY source, lang
    """


@query(
    "q_pipeline_pretrain",
    oracle=_pipeline_oracle(),
    tags=("pipeline", "flagship"),
    bench=True,
)
def q_pipeline_pretrain(
    spark: SparkSession, sf_dir: str, *, observations: dict | None = None
) -> DataFrame:
    """The full pre-training corpus pipeline as one DataFrame program
    (see module docstring for the stage chain and scale shape). The
    near-dup drop rule is deterministic: for every Jaccard-verified LSH
    pair (a, b) with a < b, b is dropped — the canonical survivor is the
    smallest doc_id of each near-dup cluster reachable pairwise.

    Tokenization note (measured, sf0.1): the token array feeds four
    consumers and higher-order expressions are interpreted (outside
    codegen, no subexpression elimination), so the inlined form
    re-splits each document per consumer — but re-evaluation is NOT the
    bottleneck (a let-bound single-eval variant and a checkpointed
    tokenize-once variant both measured within noise or slower overall;
    the checkpoint's materialization cost exceeds three re-splits).
    The stage costs live in the gram explode + broadcast join and the
    LSH band kernel, both already in their scale shapes.

    The document scan goes through ``partitioning.spread`` (no-op on a
    well-laid-out lake): every downstream stage here is compute-bound
    interpreted/kernel work, so a scan that under-delivers partitions
    (few huge files / giant row groups) would otherwise idle the
    cluster through the whole chain."""
    from duckdb_pst_spark.functions.partitioning import spread

    def _obs(name: str, df: DataFrame) -> DataFrame:
        # optional per-stage row counters (Dataset.observe): metrics ride
        # the SAME action as the query — no extra jobs, no extra scans.
        # Pass observations={} and read it after an action via
        # pipeline_stage_counts() (each value is a pyspark Observation).
        if observations is None:
            return df
        from pyspark.sql import Observation

        o = Observation(name)
        observations[name] = o
        return df.observe(o, F.count(F.lit(1)).alias("rows"))

    docs = spread(table(spark, sf_dir, "documents"))
    d = docs.withColumn("toks", tokens(F.col("text")))
    en_hits = F.size(
        F.filter(F.col("toks"), lambda t: t.isin(*_EN_STOPWORDS))
    ).cast("long")
    gated = d.filter(
        (F.length("text") >= MIN_CHARS)
        & (F.size("toks") >= MIN_TOKENS)
        & ((en_hits * 1_000_000).cast("long") / F.size("toks") >= EN_RATIO_U)
    )
    gated = _obs("gated", gated)
    train = _obs("train_split", gated.filter(F.col("doc_id") % 100 != 0))
    # Main-chain slimming (shuffle keys and metadata, never payloads):
    # everything downstream of the gates needs only the
    # token COUNT and — for exact dedup — a CONTENT KEY, not the text or
    # the token array. The text (~1 KB/row) is replaced by a content key
    # before the chain's only corpus exchange (the exact-dedup window),
    # a ~60x byte cut on that wire. Measured (OPTIMIZATION_r11.md §4,
    # interleaved min-of-3, results pinned equal):
    # sf0.1 3.20→2.80 s (0.87x), x10 0.97x (dup-heavy replica profile),
    # x100 17.6→15.4 s (0.87x) — and the deleted bytes are network on a
    # real cluster, so the single-box ratio is the conservative bound.
    #
    # Key width (r12, VERDICT r11 item 1): the key decides a FINAL drop
    # with no downstream exact verification — unlike the LSH band keys,
    # whose collisions only nominate candidates that exact Jaccard then
    # re-checks — so a single 64-bit key is NOT enough at the declared
    # 100 TB target: at ~1e11 docs the birthday expectation is
    # n²/2⁶⁵ ≈ hundreds of spurious drops. The key is therefore 128 bits
    # as TWO independently-seeded xxhash64 columns (the second hashes a
    # constant discriminator first, i.e. a distinct derived seed); a
    # spurious drop now needs a simultaneous collision under both seeds,
    # collapsing the class to n²/2¹²⁹ ≈ 1e-17 at 1e11 docs. Still 16 B
    # vs ~1 KB on the wire (~60x), and the second hash is scan-local CPU
    # — measured ≤3% on the row (OPTIMIZATION_r12.md §1, sf0.1 + x100).
    # The shingle branch below keeps using `train` (with toks) — its
    # explode is scan-local.
    train_slim = train.select(
        "doc_id",
        "source",
        "lang",
        F.xxhash64("text").alias("_tkey"),
        F.xxhash64(F.lit(1), "text").alias("_tkey2"),
        F.size("toks").alias("n_toks"),
    )

    def shingle_rows(df: DataFrame) -> DataFrame:
        # Hashed trigram ids, not concat'd strings (r11): the join only
        # decides membership, so a fixed-width key replaces the ~30-byte
        # gram string — smaller broadcast, no string materialization per
        # gram (the q_ngram_novelty id scheme). The membership hit
        # is a FINAL drop decision (left_anti below, no exact re-check),
        # so the id is 128 bits — a two-seed xxhash64 struct, same
        # discipline and ~n²/2¹²⁹ class as the exact-dedup key above; a
        # spurious train-gram/eval-gram collision now needs both seeds
        # to collide at once. Measured ≤3% (OPTIMIZATION_r12.md §1).
        # Docs with < 3 tokens get an empty gram array (explode drops
        # them): a scan-local CASE, not a row filter, which the optimizer
        # would push below the projection and so tokenize twice.
        grams = F.expr(
            "CASE WHEN size(toks) >= 3 THEN array_distinct(transform("
            "sequence(1, size(toks) - 2),"
            " i -> struct(xxhash64(toks[i-1], toks[i], toks[i+1]) AS g1,"
            "             xxhash64(1, toks[i-1], toks[i], toks[i+1]) AS g2)))"
            " ELSE array() END"
        )
        return df.select("doc_id", F.explode(grams).alias("g"))

    eval_sh = shingle_rows(d.filter(F.col("doc_id") % 100 == 0))
    contaminated = (
        shingle_rows(train)
        .join(F.broadcast(eval_sh.select("g").distinct()), "g")
        .select("doc_id")
        .distinct()
    )
    clean = _obs(
        "decontaminated", train_slim.join(contaminated, "doc_id", "left_anti")
    )
    exact = (
        clean.withColumn(
            "_min_id", F.min("doc_id").over(Window.partitionBy("_tkey", "_tkey2"))
        )
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id", "_tkey", "_tkey2")
    )
    # near-dedup, production shape: fast Arrow-kernel candidates (capped
    # buckets), then exact Jaccard verification computed ONLY for docs
    # that appear in a candidate pair — the expensive portable shingle
    # arrays are built for the (tiny) pair membership, not the corpus.
    # (The kernel rebatches its Arrow chunks internally; the session
    # batch-size conf is never mutated — see functions/batches.py.)
    bands = (
        docs
        .select("doc_id", "text")
        .mapInPandas(_minhash_band_kernel, "doc_id long, band_idx int, band_val long")
    )
    pairs = _band_pairs(bands)
    member_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs
        .join(F.broadcast(member_ids), "doc_id", "left_semi")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=True)
        .select("doc_id", _shingle_hashes(F.col("toks"), poly_hash).alias("sh"))
    )
    jacc = F.expr(
        "(CAST(size(array_intersect(sa_sh, sb_sh)) AS BIGINT) * 1000000)"
        " div size(array_union(sa_sh, sb_sh))"
    )
    near_drop = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa_sh")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb_sh")), "doc_b")
        .filter(jacc >= JACCARD_THRESHOLD_U)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    exact = _obs("exact_deduped", exact)
    survivors = _obs("survivors", exact.join(near_drop, "doc_id", "left_anti"))
    return survivors.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_toks").cast("long")).alias("total_tokens"),
    )


def pipeline_stage_counts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Run the pipeline once and return {stage: rows_flowing_through} —
    the per-stage yield report (how many docs each gate kept) every
    production corpus pipeline logs. Built on ``Dataset.observe``: the
    counters ride the pipeline's own single execution, so the report
    costs zero extra jobs and zero extra scans — the 100 TB way to get
    stage stats (a ``.count()`` per stage would re-run the whole prefix
    chain per stage)."""
    observations: dict = {}
    df = q_pipeline_pretrain(spark, sf_dir, observations=observations)
    df.collect()
    return {name: int(o.get["rows"]) for name, o in observations.items()}
