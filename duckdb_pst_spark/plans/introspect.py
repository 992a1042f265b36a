"""Physical-plan introspection — the Spark analogue of the reference's
EXPLAIN-regex test style (/root/reference/test/sql/query_optimizations.test
asserts COLUMN_DATA_SCAN for stats-count, HASH_JOIN for late
materialization, planned row counts). Here the assertions target the
Catalyst/Tungsten plan strings: pushed filters, pruned read schemas,
pushed aggregates, TakeOrderedAndProject, broadcast joins, exchange
(shuffle) counts, and whole-stage-codegen coverage.

These helpers are also the tuning loop: ``shuffle_count`` and
``codegen_fraction`` are what you watch while iterating a query toward
its 100 TB plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final physical plan string. AQE plans only finalize (and only show
    codegen stars / reused exchanges) after execution, so an unexecuted
    adaptive plan is materialized first."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    # a finalized adaptive plan appends the pre-AQE "Initial Plan" section;
    # drop it so operators aren't counted twice
    return plan.split("== Initial Plan ==")[0]


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _scan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln]


def pushed_filters(df: DataFrame) -> list[str]:
    """All predicates that reached a file scan (PushedFilters: [...])."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", executed_plan(df)):
        body = m.group(1).strip()
        if body:
            out += [p.strip() for p in body.split(",")]
    return out


def pushed_aggregates(df: DataFrame) -> list[str]:
    """Aggregates pushed into the scan (parquet footer stats path —
    the analogue of the reference's COLUMN_DATA_SCAN count rewrite)."""
    out: list[str] = []
    for m in re.finditer(r"PushedAggregation:\s*\[([^\]]*)\]", executed_plan(df)):
        body = m.group(1).strip()
        if body:
            out += [p.strip() for p in body.split(",")]
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings, one per file scan — the proof of column
    pruning (reference projection_pushdown, pst_extension.cpp:35)."""
    return [m.group(1) for m in re.finditer(r"ReadSchema:\s*(\S+)", executed_plan(df))]


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the final plan. Every one is a full
    re-partition of its input at cluster scale — the first thing to
    minimize (AQE-reused exchanges are counted once)."""
    plan = executed_plan(df)
    # \bExchange\b matches only shuffle nodes: "BroadcastExchange" and
    # "ReusedExchange" have no word boundary before "Exchange", so they
    # never hit (subtracting ReusedExchange on top — the old form —
    # double-discounted reuse and went negative on reuse-heavy plans).
    return len(re.findall(r"\bExchange\b", plan))


def has_take_ordered(df: DataFrame) -> bool:
    """True when order+limit compiled to TakeOrderedAndProject
    (per-partition heaps, no global sort) rather than Sort+Limit."""
    return "TakeOrderedAndProject" in executed_plan(df)


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin", executed_plan(df)))


def sort_merge_join_count(df: DataFrame) -> int:
    return len(re.findall(r"SortMergeJoin", executed_plan(df)))


def codegen_fraction(df: DataFrame) -> float:
    """Fraction of physical operators inside WholeStageCodegen spans —
    JVM-side fused execution; Python/UDF nodes and exchanges sit outside.
    A scan→filter→agg pipeline should be ≈1.0 outside exchanges."""
    bookkeeping = re.compile(
        r"^[\s:+-]*(AdaptiveSparkPlan|ShuffleQueryStage|ResultQueryStage|"
        r"TableCacheQueryStage|AQEShuffleRead|ReusedExchange|InputAdapter|"
        r"WholeStageCodegen)"
    )
    total = inside = 0
    for ln in executed_plan(df).splitlines():
        if bookkeeping.match(ln):
            continue
        if re.match(r"^[\s:+-]*\*\(\d+\)", ln):  # starred = inside codegen
            total += 1
            inside += 1
        elif re.match(r"^[\s:+-]*[A-Z][A-Za-z]+", ln):
            total += 1
    return inside / total if total else 0.0


# the two conjuncts InferFiltersFromGenerate adds, over a lambda payload
_SIZE_GT0_HOF = re.compile(r"size\([^\n]*lambdafunction[^\n]*\) > 0\)")
_ISNOTNULL_HOF = re.compile(r"isnotnull\([^\n]*lambdafunction")


def inferred_generator_hof_filters(plan: str) -> list[str]:
    """r12 generator-trap detector (VERDICT r11 item 8).

    The trap: binding an expensive higher-order expression to a column
    and exploding the COLUMN lets ``InferFiltersFromGenerate`` infer
    ``size(col) > 0 AND isnotnull(col)`` on the cheap attribute; filter
    pushdown then sinks that condition below the defining Project and
    collapse re-inlines the HOF, so the generator-feeding expression is
    evaluated 2-3x per row (measured 7x wall on q_ngram_novelty's
    trigram HOF in r11, 1.2-1.9x on the tokenization HOF in the four
    r12 finds). This walks the FORMATTED plan and returns, for every
    Filter or scan block that carries both conjuncts of the inferred
    filter on a lambda-bearing payload, its first such line — the
    textual fingerprint that only this rewrite produces. The conjuncts
    are matched independently: a Filter joins them with ``AND``, a
    scan's ``DataFilters`` list separates them with a comma.
    """
    norm = re.sub(r"#\d+", "", plan)
    hits: list[str] = []
    for block in re.split(r"\n{2,}", norm):
        if not re.match(r"\(\d+\) (Filter|BatchScan|Scan)", block):
            continue
        if _SIZE_GT0_HOF.search(block) and _ISNOTNULL_HOF.search(block):
            line = next(ln for ln in block.splitlines() if _SIZE_GT0_HOF.search(ln))
            hits.append(line.strip()[:120])
    return hits
