"""Exchange-budget regression net for the 22 TPC-H plains.

Every Exchange is a full cluster re-partition at 100 TB — the quantity
the whole SCALE.md program minimizes. The per-query plan-shape tests
(test_plan_shapes.py) gate specific mechanisms; this file pins the
TOTAL shuffle count of each TPC-H plan to its measured round-10 value
(max over the sf0.001 and sf0.01 test corpora, AQE-final plans), so a
Catalyst upgrade, a session-conf drift, or an innocent-looking rewrite
that reintroduces an exchange fails loudly instead of surfacing rounds
later as a bench regression.

Budgets are ceilings, not targets: a plan using FEWER exchanges passes.
If a deliberate rewrite raises a budget, the new number needs the same
justification trail as a weak-list row (SCALE.md).
"""

from __future__ import annotations

import pytest

from duckdb_pst_spark.plans import introspect as pi
from duckdb_pst_spark.registry import load_all

SPECS = load_all()

# measured round 10: max(shuffle_count at sf0.001, at sf0.01)
BUDGETS = {
    "q_tpch_q1": 2,   # partial+final agg pair over one wide scan
    "q_tpch_q2": 4,   # min-cost offers chain (two agg pairs + join)
    "q_tpch_q3": 1,
    "q_tpch_q4": 2,
    "q_tpch_q5": 2,
    "q_tpch_q6": 1,   # pure scan-aggregate
    "q_tpch_q7": 4,
    "q_tpch_q8": 5,   # r12: +1 DIMENSION-sized exchange (the (suppkey,
                      # year) partial agg below the supplier attach) in
                      # exchange for deleting the FACT-sized suppkey
                      # exchange past the broadcast cliff — 0.66x at
                      # x100 broadcast-off (OPTIMIZATION_r12.md §3)
    "q_tpch_q9": 2,
    "q_tpch_q10": 2,
    "q_tpch_q11": 2,  # partkey agg + tiny threshold filter (twin: 0)
    "q_tpch_q12": 2,
    "q_tpch_q13": 2,
    "q_tpch_q14": 1,
    "q_tpch_q15": 2,
    "q_tpch_q16": 3,
    "q_tpch_q17": 3,
    "q_tpch_q18": 2,
    "q_tpch_q19": 1,
    "q_tpch_q20": 2,
    "q_tpch_q21": 3,
    "q_tpch_q22": 3,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_tpch_exchange_budget(spark, sf_dir, name):
    df = SPECS[name].builder(spark, sf_dir)
    got = pi.shuffle_count(df)
    assert got <= BUDGETS[name], (
        f"{name}: {got} exchanges > budget {BUDGETS[name]} — a shuffle "
        f"crept into the plan\n{pi.executed_plan(df)}"
    )


# Flagship LLM-pipeline budgets (same contract; measured round 10 at
# both corpora). These are the queries SCALE.md's 100 TB argument
# leans on hardest — a crept-in exchange here invalidates the
# exchange-budget math, not just a bench row.
FLAGSHIP_BUDGETS = {
    "q_dedup_exact": 1,        # one groupBy on the content key
    "q_dedup_exact_hash": 1,   # same shape, 128-bit hash key (r12)
    "q_dedup_minhash": 1,      # one band-key groupBy; pairs bucket-local
    "q_dedup_minhash_fast": 2, # fused xxhash64 path + rollup
    "q_dedup_simhash": 0,      # scan-local signatures
    "q_dedup_embedding": 0,    # scan-local quantize + digest
    "q_bm25": 1,
    "q_tfidf": 3,
    "q_knn_brute": 1,          # |Q|*k partials into the rank merge
    "q_knn_lsh": 1,            # bucket-key join only
    "q_knn_ivf": 4,            # probe-assign + rank chain
    "q_text_tokens": 0,
    "q_quality_score": 0,
    "q_quality_gopher": 0,
    "q_pipeline_pretrain": 8,  # the composed program (one lazy plan)
    "q_dsir_weights": 2,
    "q_pack_sequences": 1,
    "q_stratified_sample": 1,
    "q_hll_distinct": 2,
}


@pytest.mark.parametrize("name", sorted(FLAGSHIP_BUDGETS))
def test_flagship_exchange_budget(spark, sf_dir, name):
    df = SPECS[name].builder(spark, sf_dir)
    got = pi.shuffle_count(df)
    assert got <= FLAGSHIP_BUDGETS[name], (
        f"{name}: {got} exchanges > budget {FLAGSHIP_BUDGETS[name]}\n"
        f"{pi.executed_plan(df)}"
    )
