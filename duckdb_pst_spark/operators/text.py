"""Text analysis over the documents table — SURVEY.md §2.B B16-B23 plus
the training-data-pipeline text operators (tokenization, language ID
heuristic, quality scoring, fingerprinting).

Everything is built-in-function column algebra (split / filter /
transform / aggregate / explode) — JVM-side, whole-stage-codegen'd, no
Python UDFs. Ratios are computed with exact integer division
(``a * 10^k div b``) so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_pst_spark.functions.portable import (
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

# tiny English stopword list for the language-ID heuristic
_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

#: r12 (found by the tests/test_plan_audit.py generator-trap detector,
#: the r11 projected-column-explode lesson made a gate): queries that
#: explode the PROJECTED ``toks`` column trip InferFiltersFromGenerate —
#: the rule infers ``size(toks) > 0 AND isnotnull(toks)`` on the cheap
#: attribute, filter-pushdown sinks it below the tokenization Project,
#: and collapse re-inlines the split/filter HOF so every document is
#: tokenized 2-3x (scan DataFilters + Filter + Project). The inferred
#: filter buys nothing here (explode of an empty array already emits no
#: rows), so these specs exclude the rule per-query via QuerySpec.confs
#: (the Q11/Q16 per-query-conf precedent). Measured interleaved
#: min-of-3, results pinned equal (OPTIMIZATION_r12.md §4):
#: q_explode_agg 0.98x sf0.1 / 0.54x x100, q_oov_rate 0.93x / 0.67x,
#: q_bpe_pairs 0.98x / 0.72x, q_phrase_pmi 0.91x / 0.89x. q_explode
#: (the trap in the scan's DataFilters and a compound Filter) 0.88x at
#: sf0.1, interleaved min-of-7 on a 4-vCPU VM, 2,765 rows equal.
_NO_INFER_GEN = (
    (
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    ),
)


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every consumer is compute-bound token work (interpreted array
    # kernels, explodes); a scan that under-delivers partitions (one
    # giant file / huge row groups) would idle the cluster through the
    # whole chain — measured at 100x replica volume: q_bm25 17.1 → 2.6 s
    # once the scan is spread. No-op on a well-laid-out lake.
    from duckdb_pst_spark.functions.partitioning import spread

    return spread(table(spark, sf_dir, "documents")).withColumn(
        "toks", tokens(F.col("text"))
    )


# ------------------------------------------------------------ B16 explode
@query(
    "q_explode",
    oracle="""
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("nested", "explode"),
    confs=_NO_INFER_GEN,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16: unnest(list) → rows (reference test/sql/read_unittest_pst.test:66
    `unnest(one_off_members)`). Generator runs inside codegen."""
    d = _docs_with_tokens(spark, sf_dir).filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.explode("toks").alias("tok"))


@query(
    "q_explode_agg",
    oracle="""
    SELECT tok, COUNT(*) AS cnt FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents
    ) t
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 25
    """,
    tags=("nested", "agg"),
    bench=True,
    confs=_NO_INFER_GEN,
)
def q_explode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23: aggregation after explode — corpus term frequencies. The
    explode→groupBy pipeline partial-aggregates map-side before the
    shuffle, so the shuffled data is one row per distinct token per task,
    not one per token occurrence — the property that makes this viable
    at 100 TB."""
    d = _docs_with_tokens(spark, sf_dir)
    return (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(25)
    )


# --------------------------------------------------------- B18/B19 scalars
@query(
    "q_list_first",
    oracle="""
    SELECT doc_id, (list_filter(string_split(text, ' '), x -> x != ''))[1] AS first_tok
    FROM documents
    """,
    tags=("nested",),
)
def q_list_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18: list_first (reference test/sql/table_function_parameters.test:33).
    try_element_at ↔ DuckDB 1-based [] (both NULL on empty)."""
    d = _docs_with_tokens(spark, sf_dir)
    return d.select("doc_id", F.try_element_at("toks", F.lit(1)).alias("first_tok"))


@query(
    "q_length",
    oracle="SELECT doc_id, length(text) AS text_len, n_chars FROM documents",
    tags=("expr",),
)
def q_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19: length(str) (reference test/sql/table_function_parameters.test:21),
    cross-checked against the precomputed n_chars column."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("text_len"), "n_chars"
    )


# --------------------------------------------------- pipeline: token stats
@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) // len(toks) AS chars_per_tok
    FROM (
      SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ) t
    """,
    tags=("text", "pipeline"),
    bench=True,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document (whitespace tokenizer) — n_tokens,
    distinct tokens, integer chars-per-token. All array algebra, no
    shuffle at all: embarrassingly parallel over the corpus."""
    d = _docs_with_tokens(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
        F.expr("CAST(length(text) AS BIGINT) div size(toks)").alias("chars_per_tok"),
    )


@query(
    "q_lang_stopword",
    oracle=f"""
    SELECT doc_id, lang,
           (CAST(len(list_filter(toks, t -> t IN {_EN_STOPWORDS!r})) AS BIGINT) * 1000000)
             // len(toks) AS en_ratio_u,
           CASE WHEN (CAST(len(list_filter(toks, t -> t IN {_EN_STOPWORDS!r})) AS BIGINT)
                      * 1000000) // len(toks) >= 100000
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ) t
    """,
    tags=("text", "pipeline"),
)
def q_lang_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stopword ratio (scaled integer) and
    a thresholded guess — the classic cheap lang-ID signal for corpus
    filtering. Exact integer arithmetic keeps it engine-portable."""
    d = _docs_with_tokens(spark, sf_dir)
    # `div` (exact integer division) has no Column-API form, so the ratio
    # is an expr; array literal mirrors the oracle's IN list.
    stop_sql = "array(" + ", ".join(f"'{s}'" for s in _EN_STOPWORDS) + ")"
    en_ratio = F.expr(
        f"(CAST(size(filter(toks, t -> array_contains({stop_sql}, t))) AS BIGINT)"
        " * 1000000) div size(toks)"
    )
    return d.select(
        "doc_id",
        "lang",
        en_ratio.alias("en_ratio_u"),
        F.when(en_ratio >= 100000, "en").otherwise("other").alias("lang_guess"),
    )


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_txt,
           len(toks) AS n_tokens,
           (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000) // len(toks) AS uniq_ratio_u,
           CASE WHEN len(toks) >= 20
                 AND (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000) // len(toks) >= 200000
                THEN 1 ELSE 0 END AS quality_pass
    FROM (
      SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ) t
    """,
    tags=("text", "pipeline"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, token count, type-token
    (uniqueness) ratio, and a pass/fail gate — the shape of a pretraining
    corpus quality filter. Scaled-integer ratios for portability."""
    d = _docs_with_tokens(spark, sf_dir)
    uniq_ratio = F.expr(
        "(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000) div size(toks)"
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_txt"),
        F.size("toks").cast("long").alias("n_tokens"),
        uniq_ratio.alias("uniq_ratio_u"),
        F.when((F.size("toks") >= 20) & (uniq_ratio >= 200000), 1).otherwise(0).alias("quality_pass"),
    )


_PACK_BUDGET = 512  # tokens per training context window
_PACK_SHARDS = 8  # independent packing streams


@query(
    "q_pack_sequences",
    oracle=f"""
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
           shard * 1000000 + CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // {_PACK_BUDGET} AS pack_id,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) % {_PACK_BUDGET} AS pack_off
    FROM (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents
    ) t
    """,
    tags=("text", "pipeline"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents are concatenated in
    doc_id order and chunked into {budget}-token context windows
    (concat-then-chunk packing). Each doc gets the window it starts in
    (pack_id) and its offset within it — the index a dataloader needs.

    Scale design: packing is computed per SHARD (doc_id mod S), so the
    running-sum window is partitioned — S independent streams instead of
    one global single-partition window, which would serialize the whole
    corpus through one task. At 100 TB, S scales with the cluster and a
    shard maps to one dataloader worker's stream."""
    d = _docs_with_tokens(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size("toks").cast("long").alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return d.select(
        "doc_id", "shard", "n_tokens", start.alias("start_off")
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_off",
        (
            F.col("shard") * 1000000 + F.expr(f"start_off div {_PACK_BUDGET}")
        ).alias("pack_id"),
        (F.col("start_off") % _PACK_BUDGET).alias("pack_off"),
    )


def _tf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-local (doc_id, tok, tf) rows via an Arrow Counter kernel —
    a document lives in one source row, so term frequencies need no
    exchange at all; the exploded groupBy(doc, term) twin shuffles the
    whole token stream on a high-cardinality string pair. Shared by
    q_tfidf and q_vocab_df."""
    import pandas as pd

    def tf_kernel(batches):
        from collections import Counter

        for pdf in batches:
            od, ot, oc = [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    continue
                for tok, c in Counter(t for t in text.split(" ") if t).items():
                    od.append(doc_id)
                    ot.append(tok)
                    oc.append(c)
            yield pd.DataFrame({"doc_id": od, "tok": ot, "tf": oc})

    return (
        _docs_with_tokens(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(tf_kernel, "doc_id long, tok string, tf long")
    )


@query(
    "q_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             (tf.tf * 1000000 * n.n_docs) // df.df AS score_u
      FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN n
    )
    SELECT doc_id, tok AS top_tok, tf, df, score_u
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, tok ASC) AS rn
      FROM scored
    ) s
    WHERE rn = 1
    """,
    tags=("text", "pipeline"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-distinctive term per document by TF-IDF, with exact integer
    scoring (tf · 10^6 · N div df — same ordering as tf·log(N/df) is NOT
    guaranteed, but it is a deterministic engine-portable IDF weighting;
    float log() would differ in the last bit across engines).

    Plan: NO corpus-sized exchange anywhere. A document lives in one
    source row, so term frequencies are scan-local — an Arrow kernel
    Counter per doc emits (doc, term, tf) in place (the explode →
    groupBy(doc, term) twin shuffles the whole token stream on a
    high-cardinality string pair; same-session at 100×: 14.3 s → 5.8 s
    kernel). Document frequency is a count over those rows whose
    map-side combine collapses each partition to its vocabulary before
    a vocab-sized exchange; df then BROADCASTS back into the scan-local
    scoring join (on a vocabulary too wide to broadcast, drop the hint
    and the join falls back to a vocab-keyed shuffle — still never
    corpus-sized); and the per-doc winner is a min(struct) aggregate
    whose map-side combine emits one row per doc (doc locality holds by
    construction), so the final exchange carries |docs| rows."""
    tf = _tf_rows(spark, sf_dir).localCheckpoint(
        eager=True  # df aggregate AND scoring reuse it
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.expr("(tf * 1000000 * n_docs) div df").alias("score_u"),
        )
    )
    # top-1 per doc WITHOUT a per-doc sort window: min(struct) with the
    # negated score makes the lexicographic struct order (score DESC,
    # tok ASC) — one map-side-combined aggregate instead of a
    # partitioned row_number sort (same-session at 100×: 33.4 → 14.0 s)
    best = scored.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("score_u")).alias("neg"), "tok", "tf", "df")).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.tok").alias("top_tok"),
        F.col("b.tf").alias("tf"),
        F.col("b.df").alias("df"),
        (-F.col("b.neg")).alias("score_u"),
    )


# word-3-gram shingle list (string form — engine-portable, no hashing)
_DUCK_SHINGLES = """
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents
      ) t
      WHERE len(toks) >= 3
"""

_SPARK_SHINGLES = (
    "array_distinct(transform(sequence(1, size(toks) - 2),"
    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"
)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g) — one row per distinct word-3-gram per document."""
    return (
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("g"))
    )


@query(
    "q_contamination",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES})
    SELECT e.doc_id AS eval_doc_id,
           COUNT(DISTINCT t.doc_id) AS n_train_docs,
           COUNT(DISTINCT e.g) AS n_shared_shingles
    FROM sh e JOIN sh t ON t.g = e.g
    WHERE e.doc_id % 100 = 0 AND t.doc_id % 100 <> 0
    GROUP BY e.doc_id
    """,
    tags=("text", "pipeline"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which eval-set documents (held-out
    split, doc_id % 100 = 0 here) share word-3-gram shingles with the
    training split — the membership test run before training to keep
    eval data out of the corpus. Reports, per eval doc, how many train
    docs overlap and how many of its shingles are shared.

    Plan: both sides are the same exploded shingle relation (scanned
    once, split by predicate), joined on the shingle string. At 100 TB
    the join key skews on boilerplate shingles — the production guard is
    dropping shingles whose document frequency exceeds a cap (they carry
    no membership signal), which also bounds the join's fan-out; AQE
    skew-join covers the residue. The eval side is tiny (benchmarks are
    MBs, corpora TBs), so it broadcasts."""
    sh = _doc_shingles(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    tr = sh.filter(F.col("doc_id") % 100 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    return (
        F.broadcast(ev)
        .join(tr, "g")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("train_doc_id").alias("n_train_docs"),
            F.countDistinct("g").alias("n_shared_shingles"),
        )
    )


@query(
    "q_repetition",
    oracle="""
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct_grams,
           (CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) * 1000000)
             // len(grams) AS rep_ratio_u
    FROM (
      SELECT doc_id,
             list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents
      ) t
      WHERE len(toks) >= 3
    ) g
    """,
    tags=("text", "pipeline"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of word-3-grams that are
    repeats (1 − distinct/total, scaled integer) — the Gopher-style
    repetition quality signal used to drop looping/boilerplate docs.
    Pure per-row array algebra: no shuffle, embarrassingly parallel."""
    grams = F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
    )
    d = (
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 3)
        .select("doc_id", grams.alias("grams"))
    )
    return d.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct_grams"),
        F.expr(
            "(CAST(size(grams) - size(array_distinct(grams)) AS BIGINT) * 1000000)"
            " div size(grams)"
        ).alias("rep_ratio_u"),
    )


@query(
    "q_pii_scrub",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
           len(regexp_extract_all(text, '[A-Za-z0-9.]+@[A-Za-z0-9.]+')) AS n_emails,
           regexp_replace(text, '[0-9]', '#', 'g') AS redacted
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count digit runs and email-shaped tokens, and
    emit the digit-redacted text — the shape of a pre-training PII
    filter (detect → redact in one projection). Regex stays in the JVM
    (codegen'd) — per-row, no shuffle; at 100 TB this is a map-only
    stage whose cost is regex throughput, which is why counts use
    simple character-class patterns, not catastrophic-backtracking
    lookarounds."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").alias("n_digit_runs"),
        F.size(
            F.expr("regexp_extract_all(text, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', 0)")
        ).cast("long").alias("n_emails"),
        F.regexp_replace("text", "[0-9]", "#").alias("redacted"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: rolling polynomial hash of the full text
    (portable across engines — see functions/portable.py). On the 100 TB
    hot path you'd swap in xxhash64(text) (single JVM hash call); the
    pipeline shape (fingerprint → group → dedup) is identical."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", poly_hash(F.col("text")).alias("fp")
    )


_CHUNK_LEN = 128
_CHUNK_OVERLAP = 32
_CHUNK_STRIDE = _CHUNK_LEN - _CHUNK_OVERLAP


@query(
    "q_doc_chunk",
    oracle=f"""
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_pos,
           substr(text, CAST(s AS BIGINT), {_CHUNK_LEN}) AS chunk,
           CAST(length(substr(text, CAST(s AS BIGINT), {_CHUNK_LEN})) AS BIGINT)
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1,
               greatest(1, length(text) - {_CHUNK_OVERLAP}), {_CHUNK_STRIDE})) AS s
      FROM documents
    ) t
    """,
    tags=("text", "pipeline"),
    bench=True,
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: each doc becomes overlapping
    {128}-char windows with a {96}-char stride — the chunker in front of
    every embedding/RAG/training-token pipeline. (Distinct from
    q_pack_sequences, which concatenates docs INTO fixed windows; this
    splits docs into overlapping ones.)

    Scale design: a pure generator projection — sequence() + explode run
    inside whole-stage codegen, so chunking is a map-only pass with zero
    shuffle and output partitioning inherited from the scan. Fan-out is
    bounded (len/stride chunks per doc), so task output stays
    proportional to input bytes — the plan at 100 TB is identical, just
    wider."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.length("text") - _CHUNK_OVERLAP),
        F.lit(_CHUNK_STRIDE),
    )
    return (
        d.select("doc_id", "text", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.expr(f"(s - 1) div {_CHUNK_STRIDE}").cast("long").alias("chunk_id"),
            F.col("s").cast("long").alias("start_pos"),
            F.expr(f"substring(text, s, {_CHUNK_LEN})").alias("chunk"),
            F.expr(f"length(substring(text, s, {_CHUNK_LEN}))")
            .cast("long")
            .alias("chunk_len"),
        )
    )


@query(
    "q_vocab_df",
    oracle="""
    SELECT tok, COUNT(*) AS df FROM (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
        FROM documents
      ) raw
    ) per_doc
    GROUP BY tok
    ORDER BY df DESC, tok
    LIMIT 50
    """,
    tags=("text", "pipeline"),
)
def q_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary by DOCUMENT frequency (docs containing the
    token, not occurrences — the denominator of IDF and the standard
    stopword/vocab-pruning statistic; q_explode_agg is the term-
    frequency counterpart).

    Scale design: fully JVM-side — split + array_distinct stay inside
    whole-stage codegen (within-doc dedup never leaves the scan stage,
    the same property DuckDB's list_distinct enjoys), the exploded
    per-doc-distinct tokens feed a map-side-combined hash aggregate, so
    ONE vocab-keyed shuffle carries (per-partition-vocab) string rows
    (gated by test_vocab_df_shape). Top-50 is a TakeOrdered heap, no
    global sort.

    Round-7 interleaved min-of-3 on the Zipf 100× corpus (quiet box;
    DuckDB measured first at 0.88 s): JVM explode(array_distinct)
    1.17 s (1.33×) vs the round-6 Python df kernel 1.62 s, kernel +
    rebatch(8192) 1.55 s, and a two-pass xxhash64-keyed exchange with
    top-50 string join-back 2.15 s (the second corpus scan costs more
    than the string exchange it saves). This REVERSES the round-6
    kernel-vs-JVM call (3.2 vs 3.7 s) — that A/B ran while the driver
    loaded the box, which taxes codegen stages less than Python
    workers; on a quiet box the JVM plan wins outright and needs no
    Arrow transfer at all. Earlier no-ships kept for the record: the
    explode → distinct twin (5.9 vs 3.6 on the plain replica) and a
    count_distinct fusion (4.7 → 5.2)."""
    from duckdb_pst_spark.functions.partitioning import spread

    d = spread(table(spark, sf_dir, "documents")).select("text")
    toks = d.select(
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda x: x != ""))
        ).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(50)
    )


# ------------------------------------------- BPE-ish regex tokenization
# GPT-2-style pretokenizer, restricted to ASCII classes so the pattern
# means the same thing in Java regex (Spark) and RE2 (DuckDB):
# contractions | optional-space+letters | optional-space+digits |
# optional-space+other-punct run.
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


_BPE_SQL = _BPE_PAT.replace("'", "''")


@query(
    "q_text_tokens_bpe",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(text, '{_BPE_SQL}'))) AS n_distinct_bpe,
           len(list_filter(string_split(text, ' '), x -> x != '')) AS n_ws_tokens
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex (the GPT-2
    pattern shape) next to the whitespace count — the dataloader-budget
    estimate a training pipeline actually wants (whitespace undercounts
    punctuation-heavy text). Map-only regex in the JVM; the ASCII-only
    character classes keep Java-regex and RE2 semantics identical for
    the oracle."""
    toks = F.expr(f"regexp_extract_all(text, \"{_BPE_PAT}\", 0)")
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


# --------------------------------------------- n-gram language heuristic
# marker character-n-grams per language; occurrence counts are computed
# portably as (len(text) - len(replace(text, m, ''))) / len(m)
_LANG_MARKERS = {
    "en": [" th", "the", "ing", " an"],
    "de": ["der", "ein", "sch", " un"],
    "fr": [" le", " de", "ent", "que"],
    "es": [" la", "ión", "os ", " el"],
}


def _occ(col_sql: str, m: str) -> str:
    esc = m.replace("'", "''")
    return f"(length({col_sql}) - length(replace({col_sql}, '{esc}', ''))) / {len(m)}"


# the scored argmax SELECT — shared verbatim by q_lang_ngram (per-doc
# output) and q_lang_confusion (the classifier's eval against gold)
_DUCK_LANG_GUESS = f"""
    SELECT doc_id, lang,
           CASE
             WHEN octet_length(encode(text)) - length(text) > length(text) / 2 THEN 'zh'
             WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
             WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es'
           END AS lang_guess
    FROM (
      SELECT doc_id, lang, text,
             {" + ".join(_occ("text", m) for m in _LANG_MARKERS["en"])} AS s_en,
             {" + ".join(_occ("text", m) for m in _LANG_MARKERS["de"])} AS s_de,
             {" + ".join(_occ("text", m) for m in _LANG_MARKERS["fr"])} AS s_fr,
             {" + ".join(_occ("text", m) for m in _LANG_MARKERS["es"])} AS s_es
      FROM documents
    ) t
    """


def _lang_guess_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, lang_guess) — the Spark twin of _DUCK_LANG_GUESS."""
    d = table(spark, sf_dir, "documents")
    scores = {
        lang: sum(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m)))) / len(m)
            for m in markers
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    zh = (F.octet_length("text") - F.length("text")) > (F.length("text") / 2)
    guess = (
        F.when(zh, "zh")
        .when(scores["en"] >= F.greatest(scores["de"], scores["fr"], scores["es"]), "en")
        .when(scores["de"] >= F.greatest(scores["fr"], scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    return d.select("doc_id", "lang", guess.alias("lang_guess"))


@query(
    "q_lang_ngram",
    oracle=_DUCK_LANG_GUESS,
    tags=("text", "pipeline"),
)
def q_lang_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by character-n-gram markers (the classic n-gram
    profile heuristic, cheap enough for 100 TB): per-language marker
    trigram occurrence counts via portable length/replace arithmetic, a
    byte-vs-char-length signal for CJK, deterministic argmax with a
    fixed tiebreak order. Map-only — no shuffle, no UDF; the stopword
    detector (q_lang_stopword) is the English-centric sibling."""
    return _lang_guess_df(spark, sf_dir)


# ----------------------------------------- language-ID confusion matrix
@query(
    "q_lang_confusion",
    oracle=f"""
    WITH g AS ({_DUCK_LANG_GUESS}),
    c AS (
      SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY lang, lang_guess
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_gold FROM c GROUP BY lang)
    SELECT c.lang, c.lang_guess, c.n,
           1000000 * c.n // t.n_gold AS cell_ppm
    FROM c JOIN tot t ON t.lang = c.lang
    """,
    tags=("text", "quality", "pipeline"),
    bench=True,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language classifier against the
    gold ``lang`` column — the eval every lang-ID gate needs before it
    filters a corpus: diagonal cell_ppm is per-language recall, and an
    off-diagonal hot cell says which language pair the markers confuse
    (the gate's false-drop budget comes straight from this table).
    Classifier and scoring share one definition (_DUCK_LANG_GUESS /
    _lang_guess_df), so the eval can never drift from the deployed
    predictor.

    Scale shape: one corpus scan into a map-side-combined aggregate
    over ≤ |langs|² keys; gold totals come from re-aggregating those
    cells (never a second corpus pass) and join back as a broadcast.
    Everything after the scan is driver-trivial — the eval costs one
    pass at any corpus size.

    Measured NO-SHIP (OPTIMIZATION_r11.md "Measured no-ships"): the static
    plan shows TWO scan+classifier subtrees (one per consumer of the
    cell table), but AQE's runtime stage reuse already deduplicates the
    shared aggregate exchange — an eager localCheckpoint of the cell
    table measured only 0.90x at sf0.1 and 0.97x (noise) at x100,
    interleaved min-of-3. The declarative one-pass claim holds AT
    RUNTIME; don't trust pre-AQE plan duplication without an A/B."""
    g = _lang_guess_df(spark, sf_dir)
    c = g.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = c.groupBy("lang").agg(F.sum("n").cast("long").alias("n_gold"))
    return (
        c.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_guess",
            "n",
            F.expr("1000000 * n div n_gold").alias("cell_ppm"),
        )
    )


# ------------------------------------------- corpus-quantile quality gate
@query(
    "q_quality_gate_quantile",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000) // len(toks) AS score_u
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents
      ) t
    ),
    thr AS (
      SELECT CAST(ceil(quantile_cont(score_u, 0.75)) AS BIGINT) AS thr_u FROM s
    )
    SELECT s.doc_id, s.score_u, thr.thr_u
    FROM s, thr
    WHERE s.score_u >= thr.thr_u
    """,
    tags=("text", "pipeline"),
)
def q_quality_gate_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering at a CORPUS-RELATIVE threshold: keep documents
    whose type-token ratio is at or above the corpus p75 — the "keep the
    best quartile" gate real pretraining pipelines run when the budget is
    a fraction of the crawl, where the cut point must come from the data,
    not a constant. (q_quality_score is the absolute-threshold sibling.)

    Scale design: pass 1 computes ONE scalar — an exact percentile
    (Spark's `percentile` aggregates per-partition histograms map-side;
    at 100 TB you'd swap in percentile_approx for a bounded-memory
    t-digest, same plan shape). Pass 2 re-scans with the scalar
    broadcast into a codegen'd filter — no shuffle of the corpus itself,
    so cost is two scans + one 1-row exchange. The threshold is
    integerized (ceil → BIGINT) so the gate compares integers, never
    floats — bit-identical across engines and retries.
    """
    scored = _docs_with_tokens(spark, sf_dir).select(
        "doc_id",
        F.expr("(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000) div size(toks)").alias(
            "score_u"
        ),
    )
    thr = scored.agg(
        F.expr("CAST(ceil(percentile(score_u, 0.75)) AS BIGINT)").alias("thr_u")
    )
    return (
        scored.join(F.broadcast(thr))
        .where(F.col("score_u") >= F.col("thr_u"))
        .select("doc_id", "score_u", "thr_u")
    )


# ---------------------------------------------- repeated-passage removal
_PASSAGE_W = 16  # words per disjoint passage


@query(
    "q_passage_dedup",
    bench=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tk
      FROM documents
    ),
    numbered AS (
      SELECT doc_id, tk,
             unnest(range(CAST(ceil(len(tk) / {_PASSAGE_W}.0) AS BIGINT))) AS i
      FROM toks
    ),
    pass AS (
      SELECT doc_id,
             array_to_string(tk[CAST(i * {_PASSAGE_W} + 1 AS BIGINT)
                               :CAST(i * {_PASSAGE_W} + {_PASSAGE_W} AS BIGINT)], ' ')
               AS passage
      FROM numbered
    ),
    dup AS (
      SELECT passage FROM pass GROUP BY passage HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN d.passage IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_passages,
           CAST(SUM(CASE WHEN d.passage IS NULL
                         THEN len(string_split(p.passage, ' ')) ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM pass p LEFT JOIN dup d ON p.passage = d.passage
    GROUP BY p.doc_id
    """,
    tags=("text", "dedup", "pipeline"),
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage removal: split each doc into
    disjoint {16}-word passages, find passages that occur in MORE THAN
    ONE distinct document, and report how much of each doc survives with
    those boilerplate passages dropped — the corpus-level "remove
    duplicated substrings" step (headers, license blocks, navboxes) that
    document-level dedup cannot catch.

    Scale design: passage explosion is a codegen'd generator (fan-out
    len/{16} per doc, proportional to input bytes). The duplicate-passage
    detection is ONE shuffle keyed on the passage — with map-side partial
    countDistinct — and the survivors join is keyed the same way, so AQE
    can reuse/co-locate the exchange.

    Passages shuffle and join as a hash of the TOKEN SLICE — the
    passage string is never materialized (tokens are space-free, so
    array_join is injective and array equality ⇔ string equality).
    Interleaved min-of-3 (OPTIMIZATION_r11.md §5, results pinned
    equal): sf0.1 1.05 → 1.10 s (1.04x — inside the sub-second noise
    class; the slice hash costs what the string join cost), x100
    5.23 → 4.49 s (0.86x) — the ratio improves with scale because the
    deleted string bytes are the exchange's growth term, and they are
    network on a real cluster.

    A hash collision here silently
    MERGES two distinct passages (undercounting kept_passages/
    kept_tokens) with no downstream exact check — not the re-verified
    candidate-generation class the band keys live in — so the key is
    128 bits: two independently-seeded xxhash64 columns (the second
    hashes a constant discriminator first). Collision class drops from
    ~n²/2⁶⁵ (hundreds expected at the 100 TB target's ~1e11 passages)
    to n²/2¹²⁹ (~1e-17). Still 16 B vs the ~100 B passage string on
    the exchange; cost measured ≤3% (OPTIMIZATION_r12.md §1).

    Empty slices are filtered out right after the explode — for a
    zero-token doc Spark's ``sequence(0, -1)`` yields ``[0, -1]`` (two
    empty slices ⇒ two phantom passages) where the oracle's
    ``range(0)`` yields none; dropping size-0 slices makes both engines
    agree that a token-less document has no passages (no
    corpus in testdata hits the edge, so benched results are
    unchanged). The guard sits ON THE EXPLODED ATTRIBUTE, not on
    ``toks`` before the generate: a pre-explode ``size(toks) > 0``
    filter pushes below the tokenization projection and re-inlines the
    split/filter HOF into a second per-doc evaluation (the r11
    projected-column-explode trap class — measured 1.18x at x100),
    while ``size(p) > 0`` on a 16-element array attribute is ~free.
    With it, every surviving slice is non-empty, so the old
    split('')-size-1 shim for empty slices is dead and n_ptok is simply
    size(p).
    """
    d = _docs_with_tokens(spark, sf_dir)
    slices = F.expr(
        f"transform(sequence(0, cast(ceil(size(toks) / {_PASSAGE_W}.0) as int) - 1),"
        f" i -> slice(toks, i * {_PASSAGE_W} + 1, {_PASSAGE_W}))"
    )
    passages = d.select("doc_id", F.explode(slices).alias("p")).where(
        F.size("p") > 0
    ).select(
        "doc_id",
        F.xxhash64("p").alias("pk"),
        F.xxhash64(F.lit(1), "p").alias("pk2"),
        F.size("p").alias("n_ptok"),
    )
    # "occurs in MORE THAN ONE distinct document" needs only
    # min(doc_id) != max(doc_id), not COUNT(DISTINCT doc_id) —
    # min/max are plain partial aggregates (no distinct-expansion
    # machinery), measured 0.85x vs the r11 countDistinct shape at
    # x100 (OPTIMIZATION_r12.md §1), which more than pays for the
    # 128-bit key. The oracle keeps HAVING COUNT(DISTINCT ...) > 1;
    # the predicates are equivalent by definition.
    dup = (
        passages.groupBy("pk", "pk2")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("pk", "pk2", F.lit(1).alias("isdup"))
    )
    return (
        passages.join(dup, ["pk", "pk2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passages"),
            F.sum(F.when(F.col("isdup").isNull(), 1).otherwise(0)).cast("long").alias(
                "kept_passages"
            ),
            F.sum(
                F.when(F.col("isdup").isNull(), F.col("n_ptok")).otherwise(0)
            ).cast("long").alias("kept_tokens"),
        )
    )


# --------------------------------------------------- corpus length stats
@query(
    "q_token_histogram",
    oracle="""
    SELECT CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket_log2,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(MIN(n_tokens) AS BIGINT) AS shortest,
           CAST(MAX(n_tokens) AS BIGINT) AS longest
    FROM (
      SELECT CAST(len(list_filter(string_split(text, ' '), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ) t
    WHERE n_tokens > 0
    GROUP BY bucket_log2
    """,
    tags=("text", "pipeline"),
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram on log2 buckets — the corpus length
    profile every packing/curriculum decision starts from (how much of
    the corpus is short-tail vs long documents). The bucket index is
    floor(log2(n_tokens)) computed EXACTLY as length(bin(n)) - 1 — pure
    integer/string ops, no float log2 whose boundary rounding (2^k vs
    2^k - ulp) could disagree across engines.

    Scale: map-side tokenize + count, one partial-aggregated shuffle of
    ~60 bucket rows. Empty documents are excluded (no bucket)."""
    d = _docs_with_tokens(spark, sf_dir)
    n = F.size("toks").cast("long")
    return (
        d.select(n.alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .groupBy((F.length(F.bin("n_tokens")) - 1).cast("long").alias("bucket_log2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.min("n_tokens").cast("long").alias("shortest"),
            F.max("n_tokens").cast("long").alias("longest"),
        )
    )


# ------------------------------------------------ Gopher-style rule gate
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@query(
    "q_quality_gopher",
    oracle=f"""
    SELECT doc_id, n_words, mean_wlen_u, alpha_ratio_u, stop_hits,
           r_nwords, r_wlen, r_alpha, r_bullet, r_ellipsis, r_stop,
           r_nwords * r_wlen * r_alpha * r_bullet * r_ellipsis * r_stop AS keep
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             (CAST(wlen AS BIGINT) * 1000000) // len(toks) AS mean_wlen_u,
             (CAST(n_alpha AS BIGINT) * 1000000) // len(toks) AS alpha_ratio_u,
             CAST(stop_hits AS BIGINT) AS stop_hits,
             CAST(CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_nwords,
             CAST(CASE WHEN 3 * len(toks) <= wlen AND wlen <= 10 * len(toks)
                  THEN 1 ELSE 0 END AS BIGINT) AS r_wlen,
             CAST(CASE WHEN 10 * n_alpha >= 8 * len(toks) THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
             CAST(CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
             CAST(CASE WHEN 10 * n_ellipsis <= 3 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
             CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
      FROM (
        SELECT doc_id, toks,
               CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS wlen,
               len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
               len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS n_bullet,
               len(list_filter(lines, l -> ends_with(l, '...'))) AS n_ellipsis,
               len(lines) AS n_lines,
               len(list_filter({list(_GOPHER_STOPWORDS)!r}, s -> list_contains(toks, s))) AS stop_hits
        FROM (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ) raw
        WHERE len(toks) >= 1
      ) m
    ) r
    """,
    tags=("text", "pipeline"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-free quality RULE BUNDLE (Rae et al. 2021
    heuristics, public): word-count bounds, mean word length in [3, 10],
    >=80% words containing a letter, <=90% bullet-point lines, <=30%
    ellipsis-terminated lines, >=2 distinct common stopwords. Every rule
    is an exact integer comparison (cross-multiplied, never a float
    ratio), so both engines produce identical verdicts; `keep` is the
    conjunction. Documents with zero tokens are excluded (no verdict).

    Scale: a single map-only projection — tokenize once, every rule is
    array algebra inside whole-stage codegen; no shuffle, no UDF. The
    keep-rate at 100 TB is this same scan with the flags feeding a
    filter instead of a projection."""
    stop_arr = "array(" + ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS) + ")"
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            tokens(F.col("text")).alias("toks"),
            F.split(F.col("text"), "\n").alias("lines"),
        )
        .where(F.size("toks") >= 1)
        .select(
            "doc_id",
            "toks",
            F.expr("CAST(aggregate(toks, 0L, (a, w) -> a + length(w)) AS BIGINT)").alias("wlen"),
            F.expr("size(filter(toks, w -> regexp_like(w, '[a-zA-Z]')))").alias("n_alpha"),
            F.expr(
                "size(filter(lines, l -> startswith(l, '- ') OR startswith(l, '* ')))"
            ).alias("n_bullet"),
            F.expr("size(filter(lines, l -> endswith(l, '...')))").alias("n_ellipsis"),
            F.size("lines").alias("n_lines"),
            F.expr(f"size(filter({stop_arr}, s -> array_contains(toks, s)))").alias("stop_hits"),
        )
    )
    n = F.size("toks")
    flag = lambda c: F.when(c, 1).otherwise(0).cast("long")  # noqa: E731
    r_nwords = flag((n >= 5) & (n <= 100000))
    r_wlen = flag((F.lit(3) * n <= F.col("wlen")) & (F.col("wlen") <= F.lit(10) * n))
    r_alpha = flag(F.lit(10) * F.col("n_alpha") >= F.lit(8) * n)
    r_bullet = flag(F.lit(10) * F.col("n_bullet") <= F.lit(9) * F.col("n_lines"))
    r_ellipsis = flag(F.lit(10) * F.col("n_ellipsis") <= F.lit(3) * F.col("n_lines"))
    r_stop = flag(F.col("stop_hits") >= 2)
    return d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.expr("(CAST(wlen AS BIGINT) * 1000000) div size(toks)").alias("mean_wlen_u"),
        F.expr("(CAST(n_alpha AS BIGINT) * 1000000) div size(toks)").alias("alpha_ratio_u"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        r_nwords.alias("r_nwords"),
        r_wlen.alias("r_wlen"),
        r_alpha.alias("r_alpha"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_stop.alias("r_stop"),
        (r_nwords * r_wlen * r_alpha * r_bullet * r_ellipsis * r_stop).alias("keep"),
    )


# ------------------------------------------------- winnowing fingerprints
_WIN_W = 4  # winnowing window: one fingerprint guaranteed per W shingles
_WIN_SHIFT = 1 << 21  # key = hash * SHIFT + pos; pos < 2^21 tokens per doc


def _winnow_key_cte() -> str:
    sh = "(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    from duckdb_pst_spark.functions.portable import duck_poly_hash, duck_tokens

    return f"""
    WITH tk AS (
      SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
    ),
    shl AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - 1), i -> {duck_poly_hash(sh)}) AS hs
      FROM tk WHERE len(toks) >= 3
    ),
    pe AS (
      SELECT doc_id, unnest(hs) AS h, unnest(range(1, len(hs) + 1)) AS pos
      FROM shl
    ),
    win AS (
      SELECT doc_id, pos,
             MIN(h * {_WIN_SHIFT} + pos) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS m,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_h
      FROM pe
    )"""


@query(
    "q_winnowing",
    oracle=_winnow_key_cte()
    + f"""
    SELECT DISTINCT doc_id,
           CAST(m // {_WIN_SHIFT} AS BIGINT) AS fp_hash,
           CAST(m % {_WIN_SHIFT} AS BIGINT) AS fp_pos
    FROM win
    WHERE pos <= greatest(1, n_h - {_WIN_W - 1})
    """,
    tags=("text", "dedup", "pipeline"),
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): from each document's sequence of
    word-3-gram hashes, select the minimum of every {w}-hash sliding
    window; the distinct selected (hash, position) pairs are the
    fingerprints. Guarantees: any shared run of {w}+2 tokens between two
    documents yields at least one identical fingerprint — the
    position-aware complement to MinHash (which sketches global overlap,
    winnowing localizes it). Ties break deterministically by the
    SMALLEST position via the packed key hash*2^21+pos, identical in
    both engines (docs are bounded < 2^21 tokens).

    Scale: ZERO exchanges — winnowing is per-document by definition (a
    document lives in one source row), so the whole selection runs as a
    scan-local Arrow kernel: shingle hashes come from a vectorized
    prefix polynomial hash (cumsum of code·31⁻ʲ mod p — one numpy pass
    per batch instead of an interpreted per-character JVM lambda per
    shingle), the sliding minimum runs batch-global over a
    PAD-separated key array, and the per-doc distinct is a lexsort
    first-occurrence mask. The r4 JVM plan (interpreted poly_hash →
    posexplode → doc-keyed window exchange → global distinct exchange)
    measured 18.2 s on the Zipf 100× corpus; the kernel's numbers are
    in SCALE.md §round 6. A 100 TB plagiarism/boilerplate sweep groups
    the emitted fp_hash — exactly the passage-dedup shuffle shape."""
    import pandas as pd

    def winnow_kernel(batches):
        import numpy as np

        from duckdb_pst_spark.functions.batches import rebatch
        from duckdb_pst_spark.functions.polyhash_np import SpanHasher

        shift = _WIN_SHIFT
        w = _WIN_W
        pad = np.iinfo(np.int64).max

        hasher = SpanHasher()
        for pdf in rebatch(batches, 4096):
            ids, nsh_arr, didx, pos, h = hasher.spans(
                pdf["text"].values, pdf["doc_id"].values
            )
            if not len(ids):
                yield pd.DataFrame(
                    {"doc_id": pd.Series(dtype="int64"),
                     "fp_hash": pd.Series(dtype="int64"),
                     "fp_pos": pd.Series(dtype="int64")}
                )
                continue
            keys = h * shift + pos
            # batch-global sliding min: (w−1) +inf separators between
            # docs make end-clipped windows equal the per-doc semantics
            padded_len = int(nsh_arr.sum() + (w - 1) * len(nsh_arr))
            padded = np.full(padded_len, pad, dtype=np.int64)
            starts = np.cumsum(np.r_[0, nsh_arr[:-1] + (w - 1)])
            slot = starts[didx] + pos - 1
            padded[slot] = keys
            wmin = np.minimum.reduce(
                [padded[i : padded_len - (w - 1) + i] for i in range(w)]
            )
            m = wmin[slot]
            keep = pos <= np.maximum(1, nsh_arr[didx] - (w - 1))
            dk, mk = didx[keep], m[keep]
            order = np.lexsort((mk, dk))
            dk, mk = dk[order], mk[order]
            first = np.r_[True, (dk[1:] != dk[:-1]) | (mk[1:] != mk[:-1])]
            dk, mk = dk[first], mk[first]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids[dk], dtype="int64"),
                    "fp_hash": pd.Series(mk // shift, dtype="int64"),
                    "fp_pos": pd.Series(mk % shift, dtype="int64"),
                }
            )

    from duckdb_pst_spark.functions.partitioning import spread

    return (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(winnow_kernel, "doc_id long, fp_hash long, fp_pos long")
    )


# -------------------------------------------------------------- BM25
BM25_TERMS = ("hash", "vector", "stream")  # the keyword query
BM25_TOP = 10
# k1 = 6/5, b = 3/4 folded into one exact integer fraction (see docstring):
#   tf·(k1+1) / (tf + k1·((1−b) + b·dl/avgdl))  with avgdl = S/N
#   = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)


def _DUCK_BM25_TS(i: int) -> str:
    """DuckDB term-score fragment i — kept beside the Spark expression in
    q_bm25 so the two integer formulas cannot drift."""
    return (
        f"CASE WHEN tf{i} = 0 THEN 0 ELSE "
        f"(((n_docs - df{i}) * 1000000) // (df{i} + 1)) * "
        f"((tf{i} * 22 * s_len * 1000000) // "
        f"(10 * tf{i} * s_len + 3 * s_len + 9 * dl * n_docs)) END AS ts{i}"
    )


# Shared BM25-scored-corpus CTE chain (used by q_bm25 and the hybrid
# RRF fusion in similarity.py — one definition so the integer formulas
# cannot drift between the standalone and fused rankings).
_DUCK_BM25_SCORED = f"""
    per_doc AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             {", ".join(
                 f"CAST(len(list_filter(toks, t -> t = '{t}')) AS BIGINT) AS tf{i}"
                 for i, t in enumerate(BM25_TERMS))}
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        FROM documents
      ) t
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_len,
             {", ".join(
                 f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                 for i in range(len(BM25_TERMS)))}
      FROM per_doc
    ),
    bm AS (
      SELECT doc_id, CAST({" + ".join(f"ts{i}" for i in range(len(BM25_TERMS)))} AS BIGINT) AS score
      FROM (
        SELECT d.doc_id,
               {", ".join(_DUCK_BM25_TS(i) for i in range(len(BM25_TERMS)))}
        FROM per_doc d CROSS JOIN stats
        WHERE {" + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))} > 0
      ) s
    )"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) BM25-scored matching documents — the shared
    zero-corpus-shuffle scoring plan; see q_bm25 for the derivation."""
    n_terms = len(BM25_TERMS)
    per_doc = _docs_with_tokens(spark, sf_dir).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.expr(f"size(filter(toks, t -> t = '{t}'))").cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    # Stats and scoring both consume per_doc; without a cut the corpus
    # scan + interpreted token kernels run twice (once under the stats
    # broadcast, once under the final TakeOrdered — measured 7.9 s vs
    # 4.3 s at 100x replica volume). per_doc is 5 BIGINTs/doc, so the
    # materialization is ~nothing next to one kernel pass; at cluster
    # scale this is persist(MEMORY_AND_DISK) on the scored projection.
    per_doc = per_doc.localCheckpoint(eager=True)
    stats = F.broadcast(
        per_doc.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("s_len"),
            *[
                F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
                .cast("long")
                .alias(f"df{i}")
                for i in range(n_terms)
            ],
        )
    )
    ts = [
        F.expr(
            f"CASE WHEN tf{i} = 0 THEN CAST(0 AS BIGINT) ELSE"
            f" (((n_docs - df{i}) * 1000000) div (df{i} + 1)) *"
            f" ((tf{i} * 22 * s_len * 1000000)"
            f" div (10 * tf{i} * s_len + 3 * s_len + 9 * dl * n_docs)) END"
        )
        for i in range(n_terms)
    ]
    match = sum(F.col(f"tf{i}") for i in range(n_terms)) > 0
    score = ts[0]
    for t_i in ts[1:]:
        score = score + t_i
    return (
        per_doc.crossJoin(stats)
        .filter(match)
        .select("doc_id", score.cast("long").alias("score"))
    )


@query(
    "q_bm25",
    oracle=f"""
    WITH {_DUCK_BM25_SCORED}
    SELECT doc_id, score FROM bm
    ORDER BY score DESC, doc_id ASC
    LIMIT {BM25_TOP}
    """,
    tags=("text", "search"),
    bench=True,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-{10} documents for a fixed term query,
    scored with an exact-integer BM25 — k1=6/5 and b=3/4 are folded into
    one rational per term, tf·(k1+1)/(tf + k1·((1−b)+b·dl/avgdl)) =
    22·tf·S / (10·tf·S + 3·S + 9·dl·N) with S=Σdl, N=#docs, evaluated as
    a single scaled BIGINT floor-division; IDF is the same monotone
    integer substitution as q_tfidf ((N−df)·10^6 div (df+1) in place of
    ln((N−df+.5)/(df+.5)) — float log differs in the last bit across
    engines). Ranking is deterministic: score desc, doc_id asc.
    (Integer domain: tf·S·2.2e7 must stay under 2^63 — holds to ~10^11
    corpus tokens with tf ≤ 10^4; beyond that, widen the scale factors.)

    Plan shape — for a FIXED small query the right plan has ZERO
    corpus-sized shuffles (the first cut exploded tokens and paid 7
    exchanges): per-document term frequencies and length are scan-local
    array kernels (no explode — one row stays one row), corpus totals
    and document frequencies come from ONE tiny aggregate that
    broadcasts back, scoring is a codegen'd projection over the scan,
    and top-10 is TakeOrderedAndProject. The only data movement is the
    1-row stats exchange and |matching docs| rows into the final
    TakeOrdered merge — the 100 TB shape for 'score everything against
    a known query set' (alerting, routing, eval retrieval)."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


# ------------------------------------------------- BPE pair statistics
BPE_TOP_PAIRS = 20


@query(
    "q_bpe_pairs",
    oracle=f"""
    WITH word AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
      FROM documents
    ),
    chars AS (SELECT w, string_split(w, '') AS cs FROM word),
    pair AS (
      SELECT unnest(list_transform(range(1, len(cs)),
                    i -> cs[i] || cs[i+1])) AS p
      FROM chars WHERE len(cs) >= 2
    )
    SELECT p AS pair, CAST(count(*) AS BIGINT) AS cnt
    FROM pair GROUP BY p
    ORDER BY cnt DESC, pair ASC
    LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "tokenizer"),
    bench=True,
    confs=_NO_INFER_GEN,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair statistics — the counting step of BPE
    tokenizer training (Sennrich et al., 2016): every word becomes its
    character sequence, every adjacent pair is counted corpus-wide, and
    the most frequent pair is the next merge rule. One round is
    registered (deterministic: count desc, pair asc); real training
    re-runs this after applying each merge — a driver-side loop over
    exactly this plan, the q_kmeans_iter pattern.

    Scale shape: the word and pair explodes are scan-local generator
    projections (codegen; no data crosses an exchange un-aggregated);
    the single shuffle is the pair-key groupBy, map-side combined into
    at most |alphabet|² partial rows per task — for byte-level BPE that
    is ≤64k counters regardless of corpus size, the textbook
    combiner-friendly aggregation. Top-k is TakeOrderedAndProject,
    never a global sort. This is the op that turns a 100 TB corpus into
    a tokenizer without ever leaving the cluster."""
    words = (
        _docs_with_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("w"))
        .filter(F.length("w") >= 2)
    )
    # Per-task work: pairs come straight off the word string as
    # substring(w, i, 2) instead of splitting every word into a
    # per-character array and concat-ing adjacent elements — one string
    # slice per pair replaces a char-array allocation + filter + two
    # array indexes + concat. Identical pairs
    # (Spark's substring and split('') both index codepoints; results
    # pinned equal, OPTIMIZATION_r11.md §2). Interleaved min-of-3:
    # sf0.1 1.51 -> 1.00 s (0.66x), x10 1.97 -> 1.63 s (0.83x).
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


# --------------------------------------------- chi-square term selection
CHI2_TOP = 15
CHI2_MIN_DF = 5


@query(
    "q_chi2_terms",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en FROM documents
    ),
    n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(en) AS BIGINT) AS n_en
      FROM lab
    ),
    counts AS (
      SELECT p.tok,
             CAST(sum(l.en) AS BIGINT) AS a,
             CAST(count(*) - sum(l.en) AS BIGINT) AS b
      FROM pres p JOIN lab l ON l.doc_id = p.doc_id
      GROUP BY p.tok
    )
    SELECT tok, chi2 FROM (
      SELECT tok,
             ((CAST(n_docs AS DOUBLE)
               * CAST(a * (n_docs - n_en - b) - b * (n_en - a) AS DOUBLE))
              * CAST(a * (n_docs - n_en - b) - b * (n_en - a) AS DOUBLE))
             / (((CAST(a + b AS DOUBLE) * CAST(n_docs - a - b AS DOUBLE))
                 * CAST(n_en AS DOUBLE)) * CAST(n_docs - n_en AS DOUBLE)) AS chi2
      FROM counts CROSS JOIN n
      WHERE a + b >= {CHI2_MIN_DF} AND a + b < n_docs
    ) t
    ORDER BY chi2 DESC, tok ASC
    LIMIT {CHI2_TOP}
    """,
    tags=("text", "stats"),
)
def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² term-class association: which tokens most strongly mark
    English documents — the classic feature-selection / domain-signal
    statistic (a 2×2 presence table per token against a binary label,
    χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d))). Used in pipelines to find
    language/domain shibboleths, leakage markers, or classifier
    features. The contingency cells are exact BIGINT counts; the single
    χ² division is evaluated with an identical IEEE operation tree in
    both engines, so even the float ranking is bit-deterministic
    (tiebreak tok asc; tokens present in every document are excluded —
    their χ² is undefined).

    Plan: ONE exchange. Within-doc presence-dedup is scan-local
    (``array_distinct`` before the explode — a document lives in one
    source row, so the old (doc, tok) DISTINCT was a corpus-sized
    exchange for nothing), and the label rides the SAME source row
    through the explode, so the old doc_id label join disappears too.
    What remains is the vocab-keyed contingency aggregate
    (map-side-combined) with the corpus totals broadcast as a 1-row
    dim. Top-k is TakeOrderedAndProject. Measured on the Zipf 100×
    corpus, interleaved min-of-3 same-session: 4.14 → 1.83 s (DuckDB
    1.61 s — from 2.6× to 1.1×)."""
    from duckdb_pst_spark.functions.partitioning import spread

    docs = table(spark, sf_dir, "documents")
    pres = spread(docs).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("en"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    n = F.broadcast(
        docs.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("n_en"),
        )
    )
    counts = pres.groupBy("tok").agg(
        F.sum("en").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("en")).cast("long").alias("b"),
    )
    diff = "CAST(a * (n_docs - n_en - b) - b * (n_en - a) AS DOUBLE)"
    chi2 = F.expr(
        f"((CAST(n_docs AS DOUBLE) * {diff}) * {diff})"
        " / (((CAST(a + b AS DOUBLE) * CAST(n_docs - a - b AS DOUBLE))"
        " * CAST(n_en AS DOUBLE)) * CAST(n_docs - n_en AS DOUBLE))"
    )
    return (
        counts.crossJoin(n)
        .filter((F.col("a") + F.col("b") >= CHI2_MIN_DF) & (F.col("a") + F.col("b") < F.col("n_docs")))
        .select("tok", chi2.alias("chi2"))
        .orderBy(F.desc("chi2"), F.asc("tok"))
        .limit(CHI2_TOP)
    )


# ------------------------------------------------------ histogram drift
@query(
    "q_histogram_drift",
    oracle="""
    WITH side AS (
      SELECT doc_id % 2 AS side,
             CAST(length(bin(len(list_filter(string_split(text, ' '),
                    x -> x != '')))) - 1 AS BIGINT) AS bucket
      FROM documents
    ),
    n AS (
      SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM side
    ),
    h AS (
      SELECT bucket,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      FROM side GROUP BY bucket
    )
    SELECT bucket,
           CASE WHEN n.n_a = 0 THEN 0 ELSE (c_a * 1000000) // n.n_a END AS share_a_ppm,
           CASE WHEN n.n_b = 0 THEN 0 ELSE (c_b * 1000000) // n.n_b END AS share_b_ppm,
           abs(CASE WHEN n.n_a = 0 THEN 0 ELSE (c_a * 1000000) // n.n_a END
             - CASE WHEN n.n_b = 0 THEN 0 ELSE (c_b * 1000000) // n.n_b END)
             AS abs_diff_ppm
    FROM h CROSS JOIN n
    """,
    tags=("text", "stats"),
)
def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two corpus slices (halves by
    doc_id parity, standing in for crawl-N vs crawl-N+1): per-log2-
    length-bucket population shares in ppm with their absolute
    difference — summing abs_diff_ppm/2 gives total-variation distance,
    the integer-exact stand-in for PSI/KL (which need ln). This is the
    pipeline-monitoring op that catches a crawler or filter change
    shifting the corpus shape before it reaches training.

    Plan: bucket assignment is scan-local codegen (length(bin(n))−1, no
    float log — q_token_histogram's trick); one tiny groupBy on
    (bucket) with conditional partial sums, totals broadcast as a 1-row
    dim. Drift over any other feature (language, source, quality score)
    is the same plan with a different bucket expression."""
    side = _docs_with_tokens(spark, sf_dir).select(
        (F.col("doc_id") % 2).alias("side"),
        (F.length(F.bin(F.size("toks"))) - 1).cast("long").alias("bucket"),
    )
    n = F.broadcast(
        side.agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    h = side.groupBy("bucket").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("c_b"),
    )
    # empty-side guard (a one-doc corpus leaves a side with n = 0):
    # ANSI integer division must never see the zero
    sa = "CASE WHEN n_a = 0 THEN CAST(0 AS BIGINT) ELSE (c_a * 1000000) div n_a END"
    sb = "CASE WHEN n_b = 0 THEN CAST(0 AS BIGINT) ELSE (c_b * 1000000) div n_b END"
    return h.crossJoin(n).select(
        "bucket",
        F.expr(sa).alias("share_a_ppm"),
        F.expr(sb).alias("share_b_ppm"),
        F.abs(F.expr(sa) - F.expr(sb)).alias("abs_diff_ppm"),
    )


# ---------------------------------------------------- bigram surprise
SURPRISE_TOP = 20
_SURPRISE_SAMPLE_PCT = 20  # LM training sample: 20% of docs by portable hash
_SURPRISE_MIN_C = 2  # frequent-tail prune: drop sample hapax bigrams


@query(
    "q_bigram_surprise",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS g
      FROM toked WHERE len(toks) >= 2
    ),
    lm AS (
      SELECT g, CAST(count(*) AS BIGINT) AS c FROM bg
      WHERE ({duck_poly_hash_long('doc_id')}) % 100 < {_SURPRISE_SAMPLE_PCT}
      GROUP BY g HAVING count(*) >= {_SURPRISE_MIN_C}
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(coalesce(1000000 // lm.c, 1000000)) AS BIGINT) AS raw_u
      FROM bg LEFT JOIN lm ON lm.g = bg.g
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, raw_u // n_bigrams AS surprise_u
    FROM scored
    ORDER BY raw_u // n_bigrams DESC, doc_id ASC
    LIMIT {SURPRISE_TOP}
    """,
    tags=("text", "quality"),
)
def q_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model surprise score — the CCNet-style fluency
    filter re-expressed in exact integers: each document's mean
    per-bigram surprise under a SAMPLE-TRAINED language model. The LM
    is trained on a deterministic {_SURPRISE_SAMPLE_PCT}% hash-sample of
    documents and pruned to bigrams seen ≥{_SURPRISE_MIN_C}× in the
    sample (the frequent tail — Zipf bounds its size far below the
    corpus bigram vocabulary); a scored bigram contributes
    10^6 div c if in the LM, else the max-surprise 10^6 (unseen ⇒
    c=1). High scorers are rare-bigram documents — gibberish,
    boilerplate-free junk, OCR noise — the quality-gate complement to
    q_quality_gopher's rule bundle and q_repetition's intra-doc signal.

    Plan (the shape VERDICT r3 asked for): train-on-sample /
    score-broadcast. The only groupBy over bigram keys runs on the
    {_SURPRISE_SAMPLE_PCT}% sample, min-count pruned; the pruned LM is
    BROADCAST into the full-corpus scoring scan, so the corpus-wide
    pass is explode → broadcast-hash left join → map-side-combined
    per-doc aggregate — the corpus is touched exactly once and NO
    corpus-sized shuffle exists (the previous corpus-wide-LM plan
    shuffled the full bigram vocabulary: 16.2 s vs DuckDB 3.3 s at
    100×). Top-20 is TakeOrderedAndProject."""
    toked = _docs_with_tokens(spark, sf_dir).filter(F.size("toks") >= 2)
    # bigram identity = xxhash64(w1, w2): no concat string is ever built
    # (1e9 of them, in both passes), the sample groupBy keys and the
    # broadcast-LM probes are 8-byte ints (measured 7.1 → 5.7 s at 100×,
    # result-identical); a collision merging two bigrams needs ~2^32
    # distinct bigrams to reach coin-flip odds
    grams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> xxhash64(toks[i-1], toks[i]))"
    )
    lm = (
        toked.filter(poly_hash_long(F.col("doc_id")) % 100 < _SURPRISE_SAMPLE_PCT)
        .select(F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= _SURPRISE_MIN_C)
    )
    bg = toked.select("doc_id", F.explode(grams).alias("g"))
    scored = (
        bg.join(F.broadcast(lm), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.coalesce(F.expr("1000000 div c"), F.lit(1000000))
            ).cast("long").alias("raw_u"),
        )
    )
    return (
        scored.select(
            "doc_id", "n_bigrams", F.expr("raw_u div n_bigrams").alias("surprise_u")
        )
        .orderBy(F.desc("surprise_u"), F.asc("doc_id"))
        .limit(SURPRISE_TOP)
    )


# ------------------------------------------------- duplicated substrings
_SPAN_W = 8
_SPAN_TOP = 50


@query(
    "q_substring_spans",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(i - 1 AS BIGINT) AS s,
             array_to_string(toks[i:i+{_SPAN_W - 1}], ' ') AS g
      FROM toked, unnest(range(1, len(toks) - {_SPAN_W} + 2)) AS t(i)
      WHERE len(toks) >= {_SPAN_W}
    ),
    dup AS (SELECT g FROM sh GROUP BY g HAVING count(DISTINCT doc_id) > 1),
    hits AS (
      SELECT sh.doc_id, sh.n_toks, sh.s, sh.s + {_SPAN_W - 1} AS e
      FROM sh JOIN dup USING (g)
    ),
    isl AS (
      SELECT doc_id, n_toks, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, n_toks, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM isl
    ),
    spans AS (
      SELECT doc_id, n_toks, gid, max(e) - min(s) + 1 AS covered
      FROM grp GROUP BY doc_id, n_toks, gid
    ),
    perdoc AS (
      SELECT doc_id, n_toks, CAST(sum(covered) AS BIGINT) AS dup_toks,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id, n_toks
    )
    SELECT doc_id, n_toks, dup_toks, n_spans,
           1000000 * dup_toks // n_toks AS dup_ppm
    FROM perdoc
    ORDER BY dup_ppm DESC, doc_id ASC
    LIMIT {_SPAN_TOP}
    """,
    tags=("text", "dedup", "pipeline"),
)
def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage [Lee et al., 2022,
    "Deduplicating Training Data Makes Language Models Better"]: slide
    an {8}-token shingle over every document, mark shingles that occur
    in MORE THAN ONE distinct document, merge each doc's overlapping
    duplicated shingles into MAXIMAL spans (islands-and-gaps over the
    running max of span ends), and report per-doc duplicated-token
    coverage. Unlike q_passage_dedup's disjoint tiles this finds
    arbitrary-offset duplicated runs — the substring-level complement
    the suffix-array pass computes in the paper, re-expressed as ONE
    shingle-keyed shuffle plus one per-doc window.

    Scale design (the r3→r4 shuffle fusion, VERDICT r3 item 8): the
    shingle explosion is scan-local codegen and runs ONCE — "appears in
    >1 distinct doc" is exactly min(doc_id) ≠ max(doc_id) over the
    shingle, so duplicate detection is a single window on g over the
    exploded stream instead of groupBy(g) + self-join (which exploded
    the corpus twice and shuffled it twice more: 24.8 s vs DuckDB
    11.1 s at 100×). The island merge then runs inside the per-doc
    window; the doc-keyed exchange carries only the Zipfian duplicated
    tail. At 100 TB: key on xxhash64(shingle) (8-byte shuffle keys);
    a pathologically frequent shingle makes one big window group —
    WindowExec spills it, and pre-hashing a stopword-shingle skip list
    is the targeted fix; the per-doc window stays safe because its
    partition is one document, never the corpus."""
    W = _SPAN_W
    d = _docs_with_tokens(spark, sf_dir).filter(F.size("toks") >= W)
    # the shingle text never survives past duplicate detection, so the
    # exchange carries xxhash64 of the token-slice ARRAY — no shingle
    # string is ever built and the sort keys are 8 bytes instead of
    # ~50-byte strings through the corpus-sized window exchange (the
    # docstring's 100 TB prescription, applied; concat-then-hash
    # measured 23.1 s vs 19.0 s same-session at 100×, result-identical);
    # a hash collision would need ~2^32 distinct shingles to reach
    # coin-flip odds
    sh = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {W} + 1),"
                f" i -> xxhash64(slice(toks, i, {W})))"
            )
        ).alias("s", "h"),
    ).withColumn("s", F.col("s").cast("long"))
    wg = Window.partitionBy("h")
    hits = (
        sh.withColumn("dmin", F.min("doc_id").over(wg))
        .withColumn("dmax", F.max("doc_id").over(wg))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "n_toks", "s", (F.col("s") + (W - 1)).alias("e"))
    )
    wprev = (
        Window.partitionBy("doc_id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcur = (
        Window.partitionBy("doc_id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = hits.withColumn(
        "brk",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("gid", F.sum("brk").over(wcur))
    spans = grp.groupBy("doc_id", "n_toks", "gid").agg(
        (F.max("e") - F.min("s") + 1).alias("covered")
    )
    perdoc = spans.groupBy("doc_id", "n_toks").agg(
        F.sum("covered").cast("long").alias("dup_toks"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    return (
        perdoc.select(
            "doc_id", "n_toks", "dup_toks", "n_spans",
            F.expr("1000000 * dup_toks div n_toks").alias("dup_ppm"),
        )
        .orderBy(F.desc("dup_ppm"), F.asc("doc_id"))
        .limit(_SPAN_TOP)
    )


# ------------------------------------------- DSIR importance resampling
_DSIR_B = 256  # hashed-feature buckets
_DSIR_TOP = 50
_DSIR_LANG = "en"  # the target distribution: English docs


def _dsir_scored_cte() -> str:
    """Shared DSIR scoring CTE chain (documents -> per-doc dsir score);
    used by q_dsir_weights and q_dsir_resample so the estimator cannot
    drift between scoring and resampling."""
    from duckdb_pst_spark.functions.portable import duck_poly_hash, duck_tokens

    bg = "(toks[i] || ' ' || toks[i+1])"
    return f"""
    WITH toked AS (
      SELECT doc_id, lang, {duck_tokens('text')} AS toks FROM documents
    ),
    feat AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(toks)),
               i -> {duck_poly_hash(bg)} % {_DSIR_B})) AS b
      FROM toked WHERE len(toks) >= 2
    ),
    buckets AS (
      SELECT b, CAST(count(*) AS BIGINT) AS cnt_all,
             CAST(sum(CASE WHEN lang = '{_DSIR_LANG}' THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_tgt
      FROM feat GROUP BY b
    ),
    w AS (
      SELECT b, (1000000 * (cnt_tgt + 1)) // (cnt_all + 1) AS wu FROM buckets
    ),
    scored AS (
      SELECT f.doc_id, f.lang,
             CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(w.wu) AS BIGINT) AS raw_u
      FROM feat f JOIN w ON w.b = f.b
      GROUP BY f.doc_id, f.lang
    )
    """


@query(
    "q_dsir_weights",
    oracle=_dsir_scored_cte()
    + f"""
    SELECT doc_id, lang, n_feats, raw_u // n_feats AS dsir_u
    FROM scored
    ORDER BY raw_u // n_feats DESC, doc_id ASC
    LIMIT {_DSIR_TOP}
    """,
    tags=("text", "quality", "pipeline"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling [Xie et al., NeurIPS'23]
    with hashed bigram features: every document scored by the mean
    target/raw frequency ratio of its bigrams' {256} hash buckets
    (ratios Laplace-smoothed and floor-scaled to integers — the
    monotone stand-in for the paper's log-likelihood ratio), target
    distribution = English docs. High scorers are the raw docs most
    shaped like the target domain — the principled replacement for
    source-level heuristics when composing a pretraining mixture.

    Scale design: ONE bigram explode feeds one groupBy(bucket) whose
    output is {256} rows however big the corpus (map-side combine
    collapses each task to ≤{256} partials) — the weight table then
    BROADCASTS into the scoring join, so the second corpus pass
    shuffles only per-doc partial sums. At 100 TB: train the bucket
    table on a target sample + corpus sample instead of the full pass
    (the paper's estimator), score with the same broadcast join."""
    return (
        _dsir_scored(spark, sf_dir)
        .select(
            "doc_id", "lang", "n_feats", F.expr("raw_u div n_feats").alias("dsir_u")
        )
        .orderBy(F.desc("dsir_u"), F.asc("doc_id"))
        .limit(_DSIR_TOP)
    )


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_feats, raw_u) — the shared DSIR scoring plan.

    ``feat`` is checkpoint-materialized because BOTH consumers (the
    bucket table and the scoring join) would otherwise re-run the
    bigram explode + portable poly-hash — an interpreted per-character
    aggregate that dominates the plan. The materialized rows are the
    SKINNY (doc_id, lang, b) triple, never the bigram string. Measured
    on the Zipf 100× corpus, interleaved min-of-3 same-session:
    27.3 → 9.1 s (DuckDB 6.5 s — from 4.2× to 1.4×)."""
    d = _docs_with_tokens(spark, sf_dir).filter(F.size("toks") >= 2)
    feat = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i-1], ' ', toks[i]))"
            )
        ).alias("bg"),
    ).select(
        "doc_id", "lang", (poly_hash(F.col("bg")) % _DSIR_B).alias("b")
    ).localCheckpoint(eager=True)
    buckets = feat.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.sum(F.when(F.col("lang") == _DSIR_LANG, 1).otherwise(0))
        .cast("long")
        .alias("cnt_tgt"),
    )
    w = F.broadcast(
        buckets.select(
            "b", F.expr("(1000000 * (cnt_tgt + 1)) div (cnt_all + 1)").alias("wu")
        )
    )
    scored = (
        feat.join(w, "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("wu").cast("long").alias("raw_u"),
        )
    )
    return scored


# ---------------------------------------------------- PMI phrase mining
_PMI_TOP = 25
_PMI_MIN_COUNT = 5


@query(
    "q_phrase_pmi",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ),
    uni AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS t FROM toked) u GROUP BY t
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
      FROM (
        SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
               unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
        FROM toked WHERE len(toks) >= 2
      ) p
      GROUP BY w1, w2
      HAVING count(*) >= {_PMI_MIN_COUNT}
    )
    SELECT bg.w1, bg.w2, bg.cxy,
           (((1000000 * bg.cxy) // u1.c) * n.n_tok) // u2.c AS pmi_u
    FROM bg
    JOIN uni u1 ON u1.t = bg.w1
    JOIN uni u2 ON u2.t = bg.w2
    CROSS JOIN n
    ORDER BY (((1000000 * bg.cxy) // u1.c) * n.n_tok) // u2.c DESC,
             bg.w1 ASC, bg.w2 ASC
    LIMIT {_PMI_TOP}
    """,
    tags=("text", "pipeline"),
    confs=_NO_INFER_GEN,
)
def q_phrase_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation / phrase mining by pointwise mutual information —
    the word2phrase step [Mikolov et al., 2013] that turns "new york"
    into a unit before tokenizer training: bigrams scored by
    10⁶·c(x,y)·N div (c(x)·c(y)) (the monotone integer stand-in for
    PMI = log of that ratio), with a min-count gate against
    one-off-pair noise, top-{25} reported. High scorers are pairs that
    co-occur far above independence — named entities, fixed phrases,
    domain terms.

    Scale shape: one token pass for unigram counts (map-side-combined,
    vocab-sized output broadcast back), one bigram pass HAVING-gated
    to pairs seen ≥{5}× BEFORE the scoring joins, and the unigram
    joins hit the broadcast table — so the only big shuffle is the
    bigram groupBy, and TakeOrderedAndProject picks the top. The same
    plan iterates for trigrams by re-running over the phrase-merged
    corpus (the word2phrase loop). A distinct-text collapse (the
    q_dedup_incremental trick) was also measured and NOT shipped:
    6.0 → 7.7 s at 100× — map-side partial aggregation ALREADY
    deduplicates repeated pairs within each partition, so for
    count-shaped ops the collapse only adds a corpus-text shuffle;
    the collapse wins only for JOIN-shaped ops, where no map-side
    combine exists.

    Key-space note — the semi-filter question is now SETTLED on the
    right corpus: because c(x,y) ≤ min(c(x), c(y)), a broadcast
    semi-filter on the ≥{5}-count unigram set before the groupBy
    EXACTLY prunes every hapax-containing pair — the bulk of the
    bigram key space on a Zipf corpus. Round 4 measured it on the
    plain replica (fixed 31-token vocabulary: 5.3 → 12.4 s at 100×
    for zero reduction) but flagged that corpus as structurally unable
    to test the prune; round 6 re-measured on the Zipf-growth 100×
    corpus (gen_sf --zipf: ~1M-token Heaps vocabulary, ~95% of
    distinct bigram keys hapax-bearing) and the prune STILL loses:
    4.46 → 6.62 s same-session, identical top-25. Reason: map-side
    combine already collapses per-partition repeats, so the exchange
    carries each distinct key once per partition — cheap even with a
    fat hapax tail — while the prune pays two broadcast-hash probes on
    ALL ~27M pair instances plus an up-front materialization of the
    unigram table that serializes the two corpus passes. The residual
    vs the embedded engine (4.0 vs 1.1 s) is the string-pair exchange
    constant, not a key-space problem. Also measured and not shipped
    (r4): a localCheckpoint of the unigram table (5.3 → 8.1 s) and
    xxhash64-keyed bigram counting (4.49 → 4.38 for the bigram pass,
    but recovering top-25 strings adds a corpus pass).
    Also measured and not shipped (r4): xxhash64-keyed bigram counting
    (4.49 → 4.38 s at 100× for the bigram pass alone — the cost is the
    per-instance struct explode, not key width, and recovering the
    top-25 strings would add a second corpus pass)."""
    d = _docs_with_tokens(spark, sf_dir)
    uni = (
        d.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = F.broadcast(uni.agg(F.sum("c").cast("long").alias("n_tok")))
    bg = (
        d.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
        .filter(F.col("cxy") >= _PMI_MIN_COUNT)
    )
    u1 = F.broadcast(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")))
    u2 = F.broadcast(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(n)
        .select(
            "w1", "w2", "cxy",
            # two-step floor-div: c1 >= cxy always, so the first step is
            # <= 10^6 and the product with n_tok cannot overflow BIGINT at
            # any corpus size (the one-step 10^6*cxy*n_tok form overflows
            # past ~10^7 tokens)
            F.expr("(((1000000 * cxy) div c1) * n_tok) div c2").alias("pmi_u"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_u"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOP)


@query(
    "q_dsir_resample",
    oracle=None,  # assembled below at decoration time via the shared CTE
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of DSIR — the RESAMPLING: keep each document
    with probability proportional to its importance weight, decided by
    a pure hash of its id (portable poly-hash mod 10⁶ < dsir score),
    so the draw is deterministic, engine-identical, and reproducible
    across retries/partitionings — the same property that makes
    q_hash_sample the correct train/eval splitter. The per-language
    rollup reports each language's keep rate; on this synthetic
    shared-vocabulary corpus the 256-bucket estimator separates the
    languages only mildly (measured ~44% en vs ~49% zh) — faithful to
    the method: DSIR keeps exactly what the hashed features separate,
    and sharper features (more buckets, word-level n-grams) sharpen
    the skew.

    Scale shape: scoring is q_dsir_weights' plan unchanged (256-row
    broadcast weight table); the keep decision is a codegen'd scalar
    predicate; the rollup is a |langs|-group map-side-combined
    aggregate. Zero additional shuffles over scoring."""
    from duckdb_pst_spark.functions.portable import poly_hash_long

    scored = _dsir_scored(spark, sf_dir).select(
        "doc_id", "lang", F.expr("raw_u div n_feats").alias("dsir_u")
    )
    kept = F.when(
        (poly_hash_long(F.col("doc_id")) % 1_000_000)
        < F.least(F.col("dsir_u"), F.lit(1_000_000)),
        1,
    ).otherwise(0)
    return (
        scored.withColumn("keep", kept)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.expr("1000000 * CAST(sum(keep) AS BIGINT) div count(*)").alias(
                "kept_ppm"
            ),
        )
    )


def _install_dsir_resample_oracle() -> None:
    from duckdb_pst_spark import registry as _r
    from duckdb_pst_spark.functions.portable import duck_poly_hash_long

    spec = _r.REGISTRY["q_dsir_resample"]
    sql = _dsir_scored_cte() + f"""
    , sc AS (
      SELECT doc_id, lang, raw_u // n_feats AS dsir_u FROM scored
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN {duck_poly_hash_long('doc_id')} % 1000000
                              < least(dsir_u, 1000000) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           1000000 * CAST(sum(CASE WHEN {duck_poly_hash_long('doc_id')} % 1000000
                              < least(dsir_u, 1000000) THEN 1 ELSE 0 END) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS kept_ppm
    FROM sc GROUP BY lang
    """
    object.__setattr__(spec, "oracle", sql)


_install_dsir_resample_oracle()


# ------------------------------------------------------- BPE training
_BPE_ITERS = 6
_BPE_SAMPLE = 500  # doc_id bound for the training sample
_SEP = "\x1f"  # unambiguous pair key separator


def _merge_pair_fold(a: str, b: str):
    """Column fold: greedy left-to-right non-overlapping merge of the
    adjacent symbol pair (a, b) -> a+b inside an array<string> column.
    The accumulator carries (out, pend); identical semantics to the
    reference python in tests/test_bpe_train.py."""
    ab = a + b

    def step(acc, x):
        return (
            F.when(
                acc.pend == "", F.struct(acc.out.alias("out"), x.alias("pend"))
            )
            .when(
                (acc.pend == a) & (x == b),
                F.struct(
                    F.concat(acc.out, F.array(F.lit(ab))).alias("out"),
                    F.lit("").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc.out, F.array(acc.pend)).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc):
        return F.when(acc.pend == "", acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))
        )

    return lambda col: F.aggregate(
        col,
        F.struct(
            F.expr("CAST(array() AS array<string>)").alias("out"),
            F.lit("").alias("pend"),
        ),
        step,
        finish,
    )


@query(
    "q_bpe_train",
    tags=("text", "tokenizer", "pipeline"),
    oracle=_PINNED["q_bpe_train"],
    pinned_sf="/root/testdata/sf0.01",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenizer training [Sennrich et al., 2016] — not just
    the pair statistics (q_bpe_pairs) but the full greedy loop: {6}
    iterations of count-all-adjacent-pairs → take the most frequent →
    merge it left-to-right non-overlapping into every word. Training
    runs on the DISTINCT word-frequency table (multiplicity rides the
    count column — the collapse that makes BPE trainable at corpus
    scale: the state is vocabulary-sized, never corpus-sized), words
    from a doc_id sample the way real tokenizers train on a corpus
    sample. Pair identity uses a separator key, never concatenation
    ('ab'+'c' vs 'a'+'bc' must not collide). Deterministic tie-break:
    count desc, then pair key asc. Output: the learned merge table
    (rank, left, right, pair_count) — the artifact a tokenizer ships.

    Scale shape per iteration: one pair explode over the vocab-sized
    state + one map-side-combined groupBy + a 1-row TakeOrdered
    collect (the k-means driver-loop pattern), then the merge fold is
    a scan-local array kernel; state re-materializes per iteration
    behind a checkpoint barrier (6 bounded jobs total). The iterative
    argmax isn't one SQL query, so the oracle is a constant-pinned
    VALUES golden at sf0.01 (tools/pin_goldens.py); numeric behavior is
    additionally pinned by tests/test_bpe_train.py's pure-python
    reference BPE producing the identical merge table."""
    merges = _train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def _train_bpe(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The training loop shared by q_bpe_train and q_bpe_encode:
    returns [(rank, left, right, pair_count)]."""
    from duckdb_pst_spark.functions.partitioning import spread

    words = (
        spread(table(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") < _BPE_SAMPLE)
        .select(F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.expr("split(w, '')").alias("cs"), "n")
        .localCheckpoint(eager=True)
    )
    merges = []
    state = words
    for rank in range(_BPE_ITERS):
        pairs = (
            state.filter(F.size("cs") >= 2)
            .select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(cs) - 1),"
                        f" i -> concat(cs[i-1], '{_SEP}', cs[i]))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("p")).limit(1).collect()
        if not top:
            break
        pkey, cnt = top[0].p, top[0].cnt
        a, b = pkey.split(_SEP)
        merges.append((rank, a, b, cnt))
        state = state.select(
            _merge_pair_fold(a, b)(F.col("cs")).alias("cs"), "n"
        ).localCheckpoint(eager=True)
    return merges


@query(
    "q_bpe_encode",
    tags=("text", "tokenizer", "pipeline"),
    oracle=_PINNED["q_bpe_encode"],
    pinned_sf="/root/testdata/sf0.01",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale — the shape every training
    pipeline runs after q_bpe_train: train the merge list on a sample
    (driver loop), then encode the WHOLE corpus by applying the merges
    in rank order. The load-bearing design: encoding happens once per
    DISTINCT (lang, word) — vocabulary-sized work however big the
    corpus — and per-document multiplicity rides a count column into
    the per-language rollup (words repeat Zipfianly; encoding each
    instance would redo >99% of the fold work). Output per language:
    word instances, total characters, total BPE symbols, and the
    chars→symbols compression in ppm — the fertility metric tokenizer
    teams actually track per language.

    Scale shape: one corpus pass builds the (lang, word, count) vocab
    [one shuffle]; the 6 merge folds are a scan-local column chain
    over the vocab table; the rollup is a |langs|-group aggregate.
    The trained merges are a runtime artifact, so the oracle is a
    constant-pinned VALUES golden at sf0.01 (tools/pin_goldens.py) —
    additionally pinned by tests/test_bpe_train.py encoding the same
    corpus in pure python."""
    merges = _train_bpe(spark, sf_dir)
    dw = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    cs = F.expr("split(w, '')")
    for _, a, b, _cnt in merges:
        cs = _merge_pair_fold(a, b)(cs)
    enc = dw.select(
        "lang",
        "n",
        F.length("w").cast("long").alias("n_chars"),
        F.size(cs).cast("long").alias("n_syms"),
    )
    return enc.groupBy("lang").agg(
        F.sum("n").cast("long").alias("word_instances"),
        F.sum(F.col("n") * F.col("n_chars")).cast("long").alias("total_chars"),
        F.sum(F.col("n") * F.col("n_syms")).cast("long").alias("total_syms"),
        F.expr(
            "1000000 * CAST(sum(n * n_syms) AS BIGINT)"
            " div CAST(sum(n * n_chars) AS BIGINT)"
        ).alias("compression_ppm"),
    )


# ------------------------------------------------------- corpus card
@query(
    "q_corpus_card",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT)
             AS total_tokens,
           CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts,
           1000000 * CAST(count(DISTINCT text) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS distinct_ppm,
           1000000 * CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS en_share_ppm,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source
    """,
    tags=("text", "quality", "pipeline"),
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus data card — the per-source one-row health summary
    every shipped training corpus carries (datasheets-for-datasets
    operationalized): volume (docs, tokens), duplication
    (distinct-text share — the inverse of the exact-dup rate),
    language mix (target-language share), and length extremes. This
    is the table an ingest run publishes after the pipeline, and the
    one q_histogram_drift/q_embedding_drift alarm against between
    runs; every figure is exact-integer so cards from different
    engines or cluster sizes are bit-comparable.

    Scale shape: ONE groupBy(source). count(DISTINCT text) is the one
    expensive member — Spark expands it to a two-level aggregate
    ((source, text) partial dedup, then count), which is exactly the
    scalable form: no state ever holds a source's full text set; at
    100 TB you'd swap text for xxhash64(text) to shrink the dedup
    shuffle (same plan, 8-byte keys)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("size(filter(split(text, ' '), x -> x != ''))"))
        .cast("long")
        .alias("total_tokens"),
        F.countDistinct("text").cast("long").alias("distinct_texts"),
        F.expr(
            "1000000 * CAST(count(DISTINCT text) AS BIGINT) div count(*)"
        ).alias("distinct_ppm"),
        F.expr(
            "1000000 * CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)"
            " div count(*)"
        ).alias("en_share_ppm"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# --------------------------------------------- filter cascade attribution
@query(
    "q_filter_cascade",
    oracle="""
    WITH f AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_toks,
             len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
               AS n_dist,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS n_stop
      FROM documents
    ),
    v AS (
      SELECT source,
             CASE
               WHEN n_toks < 5 OR n_toks > 5000 THEN 'len'
               WHEN 10 * n_dist < 3 * n_toks THEN 'repetition'
               WHEN 20 * n_stop < n_toks THEN 'stopword'
               ELSE 'kept'
             END AS verdict
      FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN verdict = 'len' THEN 1 ELSE 0 END) AS BIGINT)
             AS killed_len,
           CAST(sum(CASE WHEN verdict = 'repetition' THEN 1 ELSE 0 END) AS BIGINT)
             AS killed_repetition,
           CAST(sum(CASE WHEN verdict = 'stopword' THEN 1 ELSE 0 END) AS BIGINT)
             AS killed_stopword,
           CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           1000000 * CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS kept_ppm
    FROM v GROUP BY source
    """,
    tags=("text", "quality", "pipeline"),
)
def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-cascade kill attribution — the report a quality pipeline
    publishes to debug itself: every document attributed to the FIRST
    rule that kills it (length bounds → repetition ratio → stopword
    floor, in that fixed order), rolled up per source. First-kill
    attribution is the operational contract: rule order changes the
    attribution (never the kept set), so the order is part of the
    pipeline's definition and both engines evaluate the identical
    CASE cascade. All-integer rule arithmetic (10·distinct < 3·total
    instead of ratios), so the report is engine-exact.

    Scale shape: one scan with per-row array kernels, one
    |sources|-group map-side-combined rollup — the per-run companion
    to q_corpus_card, and the input q_quality_gate_quantile's
    corpus-relative threshold refines."""
    d = table(spark, sf_dir, "documents").select(
        "source", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
    )
    f = d.select(
        "source",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_dist"),
        F.size(
            F.expr("filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))")
        ).alias("n_stop"),
    )
    v = f.select(
        "source",
        F.expr(
            "CASE"
            " WHEN n_toks < 5 OR n_toks > 5000 THEN 'len'"
            " WHEN 10 * n_dist < 3 * n_toks THEN 'repetition'"
            " WHEN 20 * n_stop < n_toks THEN 'stopword'"
            " ELSE 'kept' END"
        ).alias("verdict"),
    )
    return v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("verdict") == "len", 1).otherwise(0))
        .cast("long")
        .alias("killed_len"),
        F.sum(F.when(F.col("verdict") == "repetition", 1).otherwise(0))
        .cast("long")
        .alias("killed_repetition"),
        F.sum(F.when(F.col("verdict") == "stopword", 1).otherwise(0))
        .cast("long")
        .alias("killed_stopword"),
        F.sum(F.when(F.col("verdict") == "kept", 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.expr(
            "1000000 * CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)"
            " AS BIGINT) div count(*)"
        ).alias("kept_ppm"),
    )


# --------------------------------------- char-diversity quality gate
_SIMPSON_LOW_U = 200_000  # Simpson repeat-probability >= 0.2 -> low diversity


@query(
    "q_char_diversity",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM ch GROUP BY doc_id, c
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS distinct_chars,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM cc GROUP BY doc_id
    )
    SELECT doc_id, distinct_chars, n AS n_chars_counted,
           (s2 * 1000000) // (n * n) AS simpson_u,
           (s2 * 1000000) // (n * n) >= {_SIMPSON_LOW_U} AS is_low_diversity
    FROM agg
    """,
    tags=("text", "quality", "pipeline"),
    bench=True,
)
def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality gate via the Simpson (Rényi-2 /
    collision) index: the probability that two randomly drawn
    characters of the document match, in exact ppm —
    ``simpson_u = Σ cᵢ² · 10⁶ div n²``. High collision probability is
    the standard gibberish/keyboard-mash/repeated-filler tell (the same
    signal Shannon character entropy carries), but unlike entropy it
    needs NO transcendental function, so the score is bit-identical
    across engines under the repo's integer-only oracle discipline
    (float `ln` differs in the last bit engine-to-engine — the q_tfidf
    / q_bm25 rule).

    Scale shape: no keyed exchange — the per-doc character histogram is
    a scan-local Arrow kernel (one ``np.unique`` per batch over int64
    ``doc_idx << 21 | codepoint`` composite keys; a codepoint is
    < 2^21, so the pack is collision-free), emitting exactly one row
    of exact-integer stats per document. The explode-and-aggregate
    twin this replaced pushed one row PER CHARACTER (~1e9 at 100×)
    through the hash aggregate; same-session min-of-2 at 100×:
    23.0 s explode-agg vs 2.3 s kernel (DuckDB 2.6 s on the same
    parquet). The scan rides :func:`spread`, so on an under-partitioned
    single-file corpus (the replica layout) one round-robin repartition
    of (doc_id, text) precedes the kernel — that exchange is the price
    of filling every core there, and a no-op on a well-laid-out lake,
    where this is a one-scan audit with no exchange before the sink."""
    import numpy as np
    import pyarrow as pa

    from duckdb_pst_spark.functions.partitioning import spread

    def char_stats(batches):
        for rb in batches:
            doc_ids = rb.column(0).to_numpy(zero_copy_only=False)
            texts = rb.column(1).to_pylist()
            texts = ["" if t is None else t for t in texts]
            lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
            codes = np.frombuffer("".join(texts).encode("utf-32-le"), dtype=np.uint32)
            doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
            keys, counts = np.unique((doc_idx << 21) | codes.astype(np.int64), return_counts=True)
            owner = (keys >> 21).astype(np.int64)
            distinct = np.bincount(owner, minlength=len(texts)).astype(np.int64)
            n = np.bincount(owner, weights=counts, minlength=len(texts)).astype(np.int64)
            # int64 accumulation, NOT float64-weighted bincount: a float
            # path is exact only while a doc's Σcnt² < 2^53 (~9.4e7
            # repeats of one char breaks it silently); int64 is exact to
            # cnt ≈ 3e9, beyond any string that fits in a batch. np.unique
            # returns keys sorted, so `owner` is non-decreasing and the
            # segment reduction is add.reduceat over segment starts —
            # exact int64 at C speed, vs np.add.at whose unbuffered
            # scatter is 10-100× slower on large batches.
            cnt64 = counts.astype(np.int64)
            s2 = np.zeros(len(texts), dtype=np.int64)
            if len(owner):
                starts = np.flatnonzero(
                    np.r_[True, owner[1:] != owner[:-1]]
                )
                s2[owner[starts]] = np.add.reduceat(cnt64 * cnt64, starts)
            keep = n > 0  # empty/NULL text yields no rows, like unnest('')
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(doc_ids[keep], type=pa.int64()),
                    "distinct_chars": pa.array(distinct[keep], type=pa.int64()),
                    "n": pa.array(n[keep], type=pa.int64()),
                    "s2": pa.array(s2[keep], type=pa.int64()),
                }
            )

    agg = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInArrow(char_stats, "doc_id long, distinct_chars long, n long, s2 long")
    )
    simpson = F.expr("(s2 * 1000000) div (n * n)")
    return agg.select(
        "doc_id",
        "distinct_chars",
        F.col("n").alias("n_chars_counted"),
        simpson.alias("simpson_u"),
        (simpson >= F.lit(_SIMPSON_LOW_U)).alias("is_low_diversity"),
    )


# ------------------------------------------ token-frequency Gini index
@query(
    "q_token_gini",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({duck_tokens('text')}) AS t FROM documents
    ),
    tc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
    g AS (SELECT cnt, CAST(count(*) AS BIGINT) AS m FROM tc GROUP BY cnt),
    ranked AS (
      SELECT cnt, m,
             CAST(sum(m) OVER (ORDER BY cnt ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - m
               AS r0
      FROM g
    ),
    s AS (
      SELECT CAST(sum(m) AS BIGINT) AS v,
             CAST(sum(cnt * m) AS BIGINT) AS s0,
             CAST(sum(cnt * (m * r0 + (m * (m + 1)) // 2)) AS BIGINT) AS s1
      FROM ranked
    )
    SELECT v AS vocab, s0 AS total_tokens,
           ((2 * s1 - (v + 1) * s0) * 1000000) // (v * s0) AS gini_u
    FROM s
    """,
    tags=("text", "quality"),
)
def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution in
    exact ppm — the one-number concentration audit (natural corpora sit
    near Zipf's ~0.95+; a synthetic or template-stamped corpus shows up
    immediately as an out-of-band Gini). Uses the rank formula
    G = (2·Σᵢ i·cᵢ − (V+1)·Σ cᵢ) / (V·Σ cᵢ) with counts ascending —
    but NEVER ranks individual tokens: within a tie group of m tokens
    sharing count c, the rank-sum is fixed (m·r₀ + m(m+1)/2) no matter
    how ties order, so ranking collapses to a window over DISTINCT
    count values. That removes both the nondeterminism of tie ordering
    and the vocab-sized single-partition sort a per-token row_number
    would force.

    Scale shape: corpus → vocab via one map-side-combined groupBy — on
    ``xxhash64(t)`` int64 keys, not token strings: only counts survive
    the aggregate, so 8-byte fixed keys replace variable-length string
    exchange/agg state (the q_substring_spans rule; vocab-collision odds
    ~V²/2⁶⁵). The scan rides :func:`spread` so the map-side partial agg
    fills every core when the corpus arrives as few giant row groups
    (measured 4.1 → 2.1 s at 100×, 0.86 → 0.69 s at sf0.1, same-session
    min-of-3, for the two changes together). Vocab
    → distinct-count groups (≲ thousands, Zipf) via a second tiny
    groupBy; the only windowed set is those count groups. All integer
    arithmetic; numerator magnitude ≤ 2·V·S0·10⁶ — int64-safe through
    ~10¹² token corpora, beyond which the two sums ride DECIMAL(38)
    (noted, not needed at bench scale)."""
    from duckdb_pst_spark.functions.partitioning import spread

    tok = (
        spread(table(spark, sf_dir, "documents"))
        .select(F.explode(tokens(F.col("text"))).alias("t0"))
        .select(F.xxhash64("t0").alias("t"))
    )
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    g = tc.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("m"))
    w = Window.orderBy(F.col("cnt").asc()).rowsBetween(Window.unboundedPreceding, 0)
    ranked = g.withColumn("r0", F.sum("m").over(w).cast("long") - F.col("m"))
    s = ranked.agg(
        F.sum("m").cast("long").alias("v"),
        F.sum(F.col("cnt") * F.col("m")).cast("long").alias("s0"),
        F.sum(F.expr("cnt * (m * r0 + (m * (m + 1)) div 2)"))
        .cast("long")
        .alias("s1"),
    )
    return s.select(
        F.col("v").alias("vocab"),
        F.col("s0").alias("total_tokens"),
        F.expr("((2 * s1 - (v + 1) * s0) * 1000000) div (v * s0)").alias("gini_u"),
    )


# --------------------------------------- robust length outliers (MAD)
@query(
    "q_mad_outliers",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    h AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY n_chars
    ),
    ch AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM h
    ),
    med AS (SELECT CAST(min(v) AS BIGINT) AS med FROM ch, n WHERE cum >= (n + 1) // 2),
    d AS (
      SELECT doc_id, n_chars, CAST(abs(n_chars - med) AS BIGINT) AS dev
      FROM documents, med
    ),
    h2 AS (SELECT dev AS v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY dev),
    ch2 AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM h2
    ),
    mad AS (SELECT CAST(min(v) AS BIGINT) AS mad FROM ch2, n WHERE cum >= (n + 1) // 2)
    SELECT doc_id, n_chars, dev, mad
    FROM d, mad
    WHERE dev > 3 * mad
    """,
    tags=("text", "quality"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust document-length outliers via exact lower-median + MAD
    (median absolute deviation), the rule that survives the exact
    pathology mean±k·stddev dies on: a few megabyte documents drag the
    mean past every normal doc, while the median doesn't move. Flags
    docs with |n_chars − median| > 3·MAD — all integer arithmetic, and
    the LOWER median (first value whose cumulative count reaches
    ⌈n/2⌉) so both engines agree exactly without interpolation.

    Scale shape: the same two-pass histogram-median trick as
    q_exact_median_2pass, but with BOTH medians riding it: n_chars has
    bounded cardinality (Heaps-bounded lengths, not corpus rows), so
    each median is a corpus-scan → tiny value-histogram → cumulative
    window over DISTINCT values. Two scans + two alphabet-sized
    windows; the per-doc deviation pass broadcasts the two scalars.
    Nothing corpus-sized is ever sorted or windowed — a global
    row_number median would single-partition the corpus."""
    docs = table(spark, sf_dir, "documents")
    n = F.broadcast(docs.agg(F.count(F.lit(1)).cast("long").alias("n")))

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        h = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        w = Window.orderBy(F.col("v").asc()).rowsBetween(Window.unboundedPreceding, 0)
        ch = h.withColumn("cum", F.sum("c").over(w).cast("long"))
        return (
            ch.crossJoin(n)
            .where(F.expr("cum >= (n + 1) div 2"))
            .agg(F.min("v").cast("long").alias("m"))
        )

    med = F.broadcast(lower_median(docs, "n_chars").withColumnRenamed("m", "med"))
    d = docs.crossJoin(med).select(
        "doc_id", "n_chars", F.abs(F.col("n_chars") - F.col("med")).cast("long").alias("dev")
    )
    mad = F.broadcast(lower_median(d, "dev").withColumnRenamed("m", "mad"))
    return d.crossJoin(mad).where(F.col("dev") > 3 * F.col("mad")).select(
        "doc_id", "n_chars", "dev", "mad"
    )


# ------------------------------------- hashed linear quality classifier
_QL_BUCKETS = 4096  # hashed feature space (fasttext-style bag of buckets)
_QL_MULT = 2654435761 % 1_000_000_007  # Knuth multiplier, the model "weights"


@query(
    "q_quality_linear",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({duck_tokens('text')}) AS t FROM documents
    ),
    b AS (
      SELECT doc_id, ({duck_poly_hash('t')}) % {_QL_BUCKETS} AS bucket FROM tok
    ),
    w AS (
      SELECT doc_id, ((bucket * {_QL_MULT}) % 1000000007) % 1001 AS w FROM b
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w) AS BIGINT) AS score
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score,
           (score * 1000000) // n_tokens AS quality_u,
           (score * 1000000) // n_tokens >= 500000 AS is_keep
    FROM agg
    """,
    tags=("text", "quality", "pipeline"),
    bench=True,
)
def q_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier — the model-based
    quality filter every modern pretraining corpus runs (a fasttext-type
    linear scorer over hashed token features: DCLM's fasttext filter,
    FineWeb-Edu's regression head). Tokens hash into a fixed
    4096-bucket feature space; the per-bucket weight table is
    the trained model, joined in as a BROADCAST dimension; the document
    score is the weight sum and the keep decision thresholds the
    per-token average in exact ppm. The weights here are a deterministic
    Knuth-multiplicative spread over buckets (values 0..1000, mean ~500)
    so the oracle is reproducible without shipping a binary model — the
    plan is exactly what a real exported linear model would run.

    Scale shape: THE broadcast-model inference pattern. The model
    (|buckets| rows, a few KB — real fasttext quality filters use 2M
    buckets, still MBs) broadcasts to every executor; scoring is
    scan-local explode → hash → broadcast-hash-join → one doc-keyed
    map-side-combined aggregate — the corpus crosses exactly one
    exchange, as (doc_id, partial sums). Bucket hashing here is the
    portable polynomial (oracle-checked); a production deployment keys
    the model on xxhash64 and skips the string hash entirely."""
    from duckdb_pst_spark.functions.partitioning import spread

    # The "model" here is deterministic arithmetic over the bucket id —
    # exactly what the DuckDB oracle computes inline — so the 4096-row
    # broadcast dimension join is a pure-function lookup Catalyst cannot
    # constant-fold away. Computing the weight inline deletes the
    # BroadcastHashJoin (plan: scan → explode → hash → project → one
    # doc-keyed aggregate; zero joins) for identical results
    # (OPTIMIZATION_r11.md §3, pinned equal). Interleaved min-of-3:
    # sf0.1 1.45 → 0.99 s (0.68x), x10 1.95 → 1.60 s (0.82x). A
    # deployment with a real exported model keeps the broadcast-join
    # shape; the broadcast-model join pattern stays exercised by
    # q_oov_rate / q_lang_stopword / the pipeline gates.
    tok = (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .select("doc_id", (poly_hash(F.col("t")) % F.lit(_QL_BUCKETS)).alias("bucket"))
    )
    w = (
        (F.col("bucket") * F.lit(_QL_MULT)) % F.lit(1_000_000_007) % F.lit(1001)
    ).cast("long")
    agg = (
        tok.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("w").cast("long").alias("score"),
        )
    )
    q = F.expr("(score * 1000000) div n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "score",
        q.alias("quality_u"),
        (q >= F.lit(500_000)).alias("is_keep"),
    )


# ------------------------------------------------------- OOV-rate audit
_OOV_DENOM = 64  # in-vocab = corpus count >= total_tokens / 64


@query(
    "q_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({duck_tokens('text')}) AS t FROM documents
    ),
    tc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tc),
    voc AS (SELECT t FROM tc, tot WHERE c * {_OOV_DENOM} >= n)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           1000000 * CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             // count(*) AS oov_ppm
    FROM tok LEFT JOIN voc v ON v.t = tok.t
    GROUP BY tok.doc_id
    """,
    tags=("text", "quality", "pipeline"),
    confs=_NO_INFER_GEN,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against a frequency-derived
    vocabulary (tokens carrying ≥ 1/64 of the corpus token
    mass are "in-vocab") — the tokenizer-coverage audit run before
    committing a vocabulary: documents with high OOV ppm are the ones a
    fixed tokenizer will shred into byte fallbacks, and a rising corpus
    OOV curve is the signal to retrain the vocab. The relative
    threshold makes the audit scale-free: the same query is meaningful
    at sf0.001 and at 100 TB.

    Scale shape: vocabulary construction is ONE map-side-combined
    token-keyed exchange (corpus → vocab-sized counts); the total is a
    1-row aggregate of those counts, broadcast back. Scoring is the
    exploded token stream map-side-joined against the broadcast
    vocabulary (vocab rows ≪ corpus; a trillion-token corpus has a
    ~1e6-row vocab) followed by ONE doc-keyed aggregate — two corpus
    exchanges total, both on 8-byte keys at production width. An
    absolute-count threshold variant pushes the same plan; the ppm
    output keeps the division exact-integer so the oracle hash-matches."""
    tok = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("t")
    )
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = tc.agg(F.sum("c").cast("long").alias("n"))
    voc = (
        tc.crossJoin(F.broadcast(tot))
        .where(F.col("c") * _OOV_DENOM >= F.col("n"))
        .select("t")
    )
    return (
        tok.join(F.broadcast(voc.withColumn("in_voc", F.lit(1))), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_voc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("1000000 * n_oov div n_tokens").alias("oov_ppm"),
        )
    )


# -------------------------------------------------- n-gram novelty curve
@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
             ))) AS g
      FROM (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents) t0
      WHERE len(toks) >= 3
    ),
    first AS (SELECT g, MIN(doc_id) AS fd FROM tri GROUP BY g)
    SELECT tri.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           1000000 * CAST(sum(CASE WHEN first.fd = tri.doc_id THEN 1 ELSE 0 END)
                          AS BIGINT) // count(*) AS novel_ppm
    FROM tri JOIN first ON first.g = tri.g
    GROUP BY tri.doc_id
    """,
    tags=("text", "dedup", "pipeline"),
    bench=True,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram NOVELTY — the fraction of a document's
    distinct trigrams whose first corpus occurrence (min doc_id) is the
    document itself. The corpus-order novelty curve is the standard
    redundancy diagnostic for crawl snapshots: novelty falling toward
    zero means new documents are recombinations of seen text (time to
    stop crawling that source), and per-source novelty medians rank
    feeds by marginal value. Unlike pairwise near-dup metrics this is
    linear in corpus size — no candidate pairs exist anywhere.

    Scale shape: trigram identity is ``xxhash64(t1, t2, t3)`` straight
    off the token array — no trigram string is ever materialized, and
    the first-occurrence aggregate exchanges only (8-byte key, doc_id)
    pairs with map-side combine (the oracle spells the same trigrams as
    strings; a 64-bit collision would fold two trigrams and is
    vanishingly improbable — the q_substring_spans precedent). The
    corpus-sized join-back a naive plan pays (trigram stream ⋈
    first-occurrence) is DELETED by an aggregate identity: per-doc
    novel counts come from grouping the first-occurrence table ITSELF
    by its min-doc, and per-doc totals from one doc-keyed count, so
    after the two map-side-combined corpus aggregates only two
    doc-cardinality tables join. Measured interleaved min-of-3 at
    Zipf-100×: join-back 8.3 s → 3.0 s (identical 500k-row output),
    0.4× same-box DuckDB. min(doc_id) as "first" is the deterministic
    tiebreak for same-snapshot duplicates; with a crawl-date column
    the same plan keys min(ts).

    Measured NO-SHIP (OPTIMIZATION_r11.md "Measured no-ships"): replacing the
    totals branch's explode + doc-keyed aggregate with a scan-local
    ``size(array_distinct(...))`` — the deleted exchange is map-side
    combined to doc cardinality already (the layout-admission rule's
    post-combine test), so only the explode/agg CPU goes away while the
    totals branch still pays the full trigram HOF. Interleaved min-of-3:
    sf0.1 1.15-1.30x (regression), x10 0.75x, x100 0.95x — inconsistent,
    not a cure; the two-branch shape stands. Also measured (7x
    regression, same tool): exploding a PROJECTED trigram column instead
    of the inline expression lets InferFiltersFromGenerate add size>0 /
    isnotnull filters that project-collapse into THREE evaluations of
    the trigram HOF per row — never explode a cheap column reference
    bound to an expensive expression."""
    d = _docs_with_tokens(spark, sf_dir).where(F.size("toks") >= 3)
    tri = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(toks) - 2),"
                        " i -> xxhash64(toks[i - 1], toks[i], toks[i + 1]))"
                    )
                )
            ).alias("g"),
        )
    )
    totals = tri.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams")
    )
    novel = (
        tri.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_trigrams",
        F.expr(
            "1000000 * coalesce(n_novel, CAST(0 AS BIGINT)) div n_trigrams"
        ).alias("novel_ppm"),
    )


# --------------------------------------------- two-sample KS drift test
@query(
    "q_quality_ks",
    oracle="""
    WITH h AS (
      SELECT n_chars AS v,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM documents WHERE lang IN ('en', 'fr')
      GROUP BY n_chars
    ),
    c AS (
      SELECT CAST(sum(na) OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cb
      FROM h
    ),
    t AS (
      SELECT CAST(coalesce(sum(na), 0) AS BIGINT) AS n_a,
             CAST(coalesce(sum(nb), 0) AS BIGINT) AS n_b
      FROM h
    )
    SELECT n_a, n_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(1000000 * CAST(
                     (SELECT max(abs(CAST(ca AS HUGEINT) * n_b
                                     - CAST(cb AS HUGEINT) * n_a)) FROM c)
                     AS HUGEINT)
                     // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
           END AS ks_ppm
    FROM t
    """,
    tags=("text", "quality", "pipeline"),
    bench=True,
)
def q_quality_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the length
    distributions of two corpus slices (en vs fr documents) — the
    distribution-drift gate a pipeline runs when comparing a new crawl
    slice against a reference slice: KS is non-parametric, so it fires
    on shape changes (truncation, boilerplate injection) that mean/
    variance monitors miss. Exact integers end-to-end: D is computed
    as max |ca·n_b − cb·n_a| over the merged support and reported as
    1e6·D div (n_a·n_b). Both the cross-products and the ×1e6 rescale
    run in 128-bit-safe intermediates (DECIMAL(38,0) here, HUGEINT in
    the oracle) because the worst case D = n_a·n_b pushes 1e6·D past
    2⁶³ at only ~3×10⁶ docs per side — BIGINT math would wrap silently
    on Spark while DuckDB raised, diverging exactly at scale. The
    decimal envelope is 1e6·n_a·n_b < 10³⁸ ≈ 10¹⁶ docs per side, and
    past it Spark nulls / DuckDB raises — loud, never wrong.

    Scale shape: ONE map-side-combined groupBy over n_chars (the
    exchange carries ≤|distinct lengths| rows — histogram-sized, the
    q_token_histogram class), then a window cumsum and max over that
    tiny table. Nothing corpus-sized crosses an unpartitioned window.

    One corpus pass: the histogram feeds THREE consumers
    (cumsum, totals, and the totals inside the D max) and Catalyst
    re-executed the corpus scan+aggregate per branch — the before plan
    holds three BatchScans of documents. One (lazy, since r12)
    localCheckpoint of the ≤|distinct lengths|-row histogram collapses
    that to ONE corpus pass; everything downstream is arithmetic on the
    tiny table.
    Interleaved min-of-3 (OPTIMIZATION_r11.md §6, results pinned
    equal): 0.87x at BOTH sf0.1 (0.75 → 0.65 s) and x100 (0.78 →
    0.68 s) — locally the row is job-overhead-bound because the scan
    reads only (lang, n_chars); on a real lake the 3→1 scan cut is the
    point (those two columns are still TB-scale at 100 TB)."""
    # r12 (ADVICE r11): the checkpoint is LAZY — eager=True fully
    # materialized AND persisted the histogram at DataFrame-BUILD time
    # (an extra count job + persist pass before any action). eager=False
    # keeps the same lineage truncation (one Scan ExistingRDD feeding
    # all three consumers, ONE corpus pass) and moves the final-stage
    # materialization to the first action. Honest caveat, measured: with
    # AQE on, building the checkpoint RDD still finalizes the aggregate's
    # shuffle stages, so builder()+explain still fires the corpus-scan
    # map stage (2 jobs, vs eager's 3) — the build-time-job class is
    # reduced, not eliminated, and the snapshot-at-build semantics are
    # unchanged. A/B (OPTIMIZATION_r12.md §7, interleaved
    # min-of-3): 0.97x sf0.1, 0.93x x100 — the deleted eager pass is the
    # difference.
    d = table(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "fr"))
    h = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("lang") == "fr", 1).otherwise(0)).cast("long").alias("nb"),
    ).localCheckpoint(eager=False)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = h.select(
        F.sum("na").over(w).cast("long").alias("ca"),
        F.sum("nb").over(w).cast("long").alias("cb"),
    )
    t = h.agg(
        F.coalesce(F.sum("na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("nb"), F.lit(0)).cast("long").alias("n_b"),
    )
    # max |ca*n_b - cb*n_a| needs n_a/n_b: broadcast the 1-row totals.
    # DECIMAL(38,0) intermediates: ca*n_b can reach n_a*n_b, and the
    # final 1e6 rescale reaches 1e6*n_a*n_b — both wrap BIGINT long
    # before the corpus sizes this repo targets (see docstring).
    diff = (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max(
                F.abs(
                    F.col("ca").cast("decimal(38,0)") * F.col("n_b")
                    - F.col("cb").cast("decimal(38,0)") * F.col("n_a")
                )
            ).alias("d_num")
        )
    )
    return (
        t.crossJoin(F.broadcast(diff))
        .select(
            "n_a",
            "n_b",
            F.when((F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(0).cast("long"))
            .otherwise(
                # decimal `div` (IntegralDivide) returns BIGINT exactly
                F.expr(
                    "coalesce(d_num, CAST(0 AS DECIMAL(38,0))) * 1000000"
                    " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
                )
            )
            .cast("long")
            .alias("ks_ppm"),
        )
    )


# --------------------------------------------- tokenizer fertility audit
@query(
    "q_tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS BIGINT)
             AS bpe_tokens,
           CAST(sum(len(list_filter(string_split(text, ' '), x -> x != '')))
             AS BIGINT) AS ws_tokens,
           CASE WHEN CAST(sum(len(list_filter(string_split(text, ' '),
                                              x -> x != ''))) AS BIGINT) = 0
                THEN CAST(0 AS BIGINT)
                ELSE 1000000 * CAST(sum(len(regexp_extract_all(text, '{_BPE_SQL}')))
                       AS BIGINT)
                     // CAST(sum(len(list_filter(string_split(text, ' '),
                                                 x -> x != ''))) AS BIGINT)
           END AS fertility_ppm
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "pipeline"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish tokens per whitespace
    word (×10⁶), the standard multilingual tokenizer-QA table: fertility
    far above the corpus norm for a language means the tokenizer
    fragments it (training-compute and context-length are billed in
    produced tokens, not words), which is how under-served languages are
    caught before a training run. Reuses the shared _BPE_PAT so the
    pretokenizer cannot drift from q_text_tokens_bpe.

    Scale shape: map-only regex + size() in the JVM, one ≤|langs|-key
    map-side-combined aggregate — no exchange grows with the corpus."""
    toks = F.expr(f'regexp_extract_all(text, "{_BPE_PAT}", 0)')
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(toks).cast("long")).cast("long").alias("bpe_tokens"),
        F.sum(F.size(tokens(F.col("text"))).cast("long"))
        .cast("long")
        .alias("ws_tokens"),
    )
    return g.select(
        "lang",
        "n_docs",
        "bpe_tokens",
        "ws_tokens",
        F.when(F.col("ws_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("1000000 * bpe_tokens div ws_tokens"))
        .cast("long")
        .alias("fertility_ppm"),
    ).orderBy("lang")


# ------------------------------------------- top tokens per language
@query(
    "q_group_topk_freq",
    oracle=f"""
    WITH tf AS (
      SELECT lang,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM tf GROUP BY lang, tok
    ),
    r AS (
      SELECT lang, tok, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok)
                  AS BIGINT) AS rk
      FROM c
    )
    SELECT lang, tok, n, rk FROM r WHERE rk <= 3 ORDER BY lang, rk
    """,
    tags=("text", "pipeline"),
    bench=True,
)
def q_group_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per language by occurrence count — the per-group
    frequency leaderboard (stopword discovery, per-language boilerplate
    detection, tokenizer-vocabulary sanity) and the canonical
    grouped-top-k plan shape: a (group, key) aggregate feeding a
    group-partitioned rank window.

    Scale shape: one (lang, tok)-keyed map-side-combined aggregate
    (the exchange carries per-partition distinct (lang, tok) rows),
    then the row_number window runs over the AGGREGATED vocab-sized
    table partitioned by lang — per-group sorts parallelize and no
    corpus-sized data crosses an unpartitioned window."""
    d = table(spark, sf_dir, "documents")
    tf = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    c = tf.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        c.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .orderBy("lang", "rk")
    )


# -------------------------------------------- per-source char-class profile
@query(
    "q_char_class_profile",
    oracle="""
    WITH c AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
                  AS BIGINT) AS alpha,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS digit,
             CAST(length(text) - length(replace(text, ' ', ''))
                  AS BIGINT) AS space
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_chars,
           CAST(CASE WHEN sum(n) = 0 THEN 0
                ELSE 1000000 * sum(alpha) // sum(n) END AS BIGINT) AS alpha_ppm,
           CAST(CASE WHEN sum(n) = 0 THEN 0
                ELSE 1000000 * sum(digit) // sum(n) END AS BIGINT) AS digit_ppm,
           CAST(CASE WHEN sum(n) = 0 THEN 0
                ELSE 1000000 * sum(space) // sum(n) END AS BIGINT) AS space_ppm,
           CAST(CASE WHEN sum(n) = 0 THEN 0
                ELSE 1000000 * sum(n - alpha - digit - space) // sum(n) END
                AS BIGINT) AS other_ppm
    FROM c GROUP BY source ORDER BY source
    """,
    tags=("text", "quality"),
)
def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile — the encoding-health audit a
    crawl pipeline runs before tokenization: a source whose other_ppm
    (neither letter, digit, nor space) jumps between snapshots has an
    encoding/mojibake regression or markup leakage; digit_ppm flags
    table/log-dump sources that poison an LM corpus; space_ppm near
    zero flags lost whitespace. Complements q_char_diversity (per-doc
    entropy) and q_quality_score (per-doc gates) with the per-SOURCE
    exact-integer figures a data card quotes.

    Scale shape: class counts are length-differences after JVM-side
    regexp_replace — computed inside the scan's codegen span, so the
    only exchange is the ≤|sources|-group rollup of five int64s per
    partition. Nothing grows with the corpus; ppm figures are exact
    integers so cards from different engines or cluster sizes are
    bit-comparable (q_corpus_card's contract)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n = F.length("text").cast("long")
    alpha = (
        F.length("text") - F.length(F.regexp_replace("text", "[a-zA-Z]", ""))
    ).cast("long")
    digit = (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast(
        "long"
    )
    space = (
        F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    ).cast("long")
    c = d.select(
        "source",
        n.alias("n"),
        alpha.alias("alpha"),
        digit.alias("digit"),
        space.alias("space"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_chars"),
            # zero-char guard: a source whose every kept text is '' must
            # yield 0, not NULL-vs-error engine divergence (DuckDB //0
            # raises, non-ANSI Spark div 0 is NULL)
            F.expr(
                "CAST(CASE WHEN sum(n) = 0 THEN 0"
                " ELSE 1000000 * sum(alpha) div sum(n) END AS BIGINT)"
            ).alias("alpha_ppm"),
            F.expr(
                "CAST(CASE WHEN sum(n) = 0 THEN 0"
                " ELSE 1000000 * sum(digit) div sum(n) END AS BIGINT)"
            ).alias("digit_ppm"),
            F.expr(
                "CAST(CASE WHEN sum(n) = 0 THEN 0"
                " ELSE 1000000 * sum(space) div sum(n) END AS BIGINT)"
            ).alias("space_ppm"),
            F.expr(
                "CAST(CASE WHEN sum(n) = 0 THEN 0"
                " ELSE 1000000 * sum(n - alpha - digit - space) div sum(n) END"
                " AS BIGINT)"
            ).alias("other_ppm"),
        )
    )
