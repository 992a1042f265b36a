"""Registry-wide generator-trap plan audit (VERDICT r11 item 8).

The r11 round measured the projected-column-explode trap at 7x
(OPTIMIZATION_r11.md, q_ngram_novelty no-ship note) and the r12 round
found four LIVE instances of its milder tokenization form
(q_explode_agg 0.54x at x100 once cured — see _NO_INFER_GEN in
operators/text.py). This test makes the trap a gate: no registered
query's optimized plan may carry an InferFiltersFromGenerate-inferred
filter that re-inlines a lambda-bearing generator expression.

Plans are built (not executed) at sf0.001 under each spec's own conf
overrides — the same plan the bench times.
"""

from __future__ import annotations

from duckdb_pst_spark.plans.introspect import (
    formatted_plan,
    inferred_generator_hof_filters,
)
from duckdb_pst_spark.registry import applied_confs, load_all

SPECS = load_all()


def test_detector_fires_on_reconstructed_trap(spark, sf_dir):
    """Sanity: the detector must flag the r11 trap shape (explode of a
    PROJECTED trigram column) — otherwise a green audit means nothing."""
    from pyspark.sql import functions as F

    from duckdb_pst_spark.tables import table

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
    )
    tg = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(toks) - 2),"
            " i -> xxhash64(toks[i-1], toks[i], toks[i+1]))"
        )
    )
    trap = d.withColumn("tg", tg).select("doc_id", F.explode("tg").alias("g"))
    assert inferred_generator_hof_filters(formatted_plan(trap))


# The scan block of q_explode_agg's pre-cure formatted plan: pushdown
# lands the inferred conjuncts in DataFilters, comma-separated.
SCAN_ONLY_TRAP = """\
(1) BatchScan parquet file:/data/documents.parquet
Output [1]: [text#7399]
DataFilters: [(size(filter(split(text#7399,  , -1), lambdafunction(NOT (lambda x_41#7409 = ), \
lambda x_41#7409, false)), false) > 0), isnotnull(filter(split(text#7399,  , -1), \
lambdafunction(NOT (lambda x_41#7409 = ), lambda x_41#7409, false)))]
Format: parquet
Location: InMemoryFileIndex(1 paths)[file:/data/documents.parquet]
ReadSchema: struct<text:string>
"""


def test_detector_fires_on_scan_only_trap():
    """The trap is flagged when it survives only in a scan's DataFilters
    list, with no Filter block carrying the AND form — also as the first
    block of a formatted plan, which follows the tree after two blank
    lines."""
    assert "\n\n" not in SCAN_ONLY_TRAP and " AND " not in SCAN_ONLY_TRAP
    assert inferred_generator_hof_filters(SCAN_ONLY_TRAP)
    tree = "== Physical Plan ==\n* HashAggregate (5)\n+- BatchScan parquet (1)\n\n\n"
    assert inferred_generator_hof_filters(tree + SCAN_ONLY_TRAP)


def test_no_registered_plan_reinlines_a_generator_hof(spark, sf_dir):
    """Every registered query, one audit pass (single loop, not
    parametrize: plan building is the cost, and one shared session
    amortizes it). A builder whose plan cannot be captured (environment
    -dependent layout fallbacks) fails loudly rather than silently
    passing."""
    violations: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, spec in SPECS.items():
        try:
            with applied_confs(spark, spec):
                plan = formatted_plan(spec.builder(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - environment detail
            errors[name] = f"{type(exc).__name__}: {exc}"
            continue
        hits = inferred_generator_hof_filters(plan)
        if hits:
            violations[name] = hits[:1]
    assert not errors, errors
    assert not violations, violations
