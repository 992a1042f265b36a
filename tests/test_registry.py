"""The registry's driver-check order and per-query conf overrides.

The driver hash-checks the first ``DRIVER_WINDOW`` queries of
``load_all()``; ``verify_order`` computes that order from the
``CORRECTNESS_r<N>.json`` records. The ordering tests run on synthetic
specs and records; the window tests run on the records in the repo."""

from __future__ import annotations

import json

from duckdb_pst_spark.registry import (
    DRIVER_WINDOW,
    REGISTRY,
    QuerySpec,
    applied_confs,
    correctness_records,
    load_all,
    verify_order,
)


def _specs(*names: str, rows_only: tuple[str, ...] = ()) -> dict[str, QuerySpec]:
    return {
        n: QuerySpec(n, lambda spark, sf: None, oracle=None if n in rows_only else "SELECT 1")
        for n in names
    }


GREEN = {"hash_match": True, "err": None}
MISMATCH = {"hash_match": False, "err": None}
ERROR = {"hash_match": None, "err": "boom"}


def test_no_records_gives_registration_order():
    specs = _specs("q_c", "q_a", "q_b")
    assert verify_order(specs, []) == ["q_c", "q_a", "q_b"]


def test_never_green_comes_first():
    specs = _specs("q_green", "q_unseen", "q_always_red", "q_unseen2")
    records = [
        {"q_green": GREEN, "q_always_red": MISMATCH},
        {"q_always_red": ERROR},
    ]
    assert verify_order(specs, records) == [
        "q_unseen", "q_always_red", "q_unseen2", "q_green",
    ]


def test_latest_failure_comes_after_never_green():
    specs = _specs("q_old", "q_broke", "q_fixed", "q_unseen", "q_broke2")
    records = [
        {"q_old": GREEN, "q_broke": GREEN, "q_fixed": MISMATCH, "q_broke2": GREEN},
        {"q_broke": ERROR, "q_fixed": GREEN},
        {"q_broke2": {"hash_match": True, "err": "late error"}},
    ]
    assert verify_order(specs, records) == [
        "q_unseen", "q_broke", "q_broke2", "q_old", "q_fixed",
    ]


def test_rest_oldest_green_first_ties_in_registration_order():
    specs = _specs("q_r3", "q_r1b", "q_r2", "q_r1a", "q_r1c")
    records = [
        {"q_r1a": GREEN, "q_r1b": GREEN, "q_r1c": GREEN, "q_r2": GREEN},
        {"q_r2": GREEN},
        {"q_r3": GREEN},
    ]
    assert verify_order(specs, records) == ["q_r1b", "q_r1a", "q_r1c", "q_r2", "q_r3"]


def test_rows_only_sort_last():
    specs = _specs("q_rows", "q_green", "q_unseen", "q_rows2", rows_only=("q_rows", "q_rows2"))
    records = [{"q_green": GREEN, "q_rows": MISMATCH}]
    assert verify_order(specs, records) == ["q_unseen", "q_green", "q_rows", "q_rows2"]


def test_retired_names_ignored_renamed_query_sorts_first():
    """q_gone was retired and q_old renamed to q_new: the records' rows
    for the old names count for nothing, and q_new, never green under
    its own name, sorts before every green query."""
    specs = _specs("q_a", "q_b", "q_new")
    records = [
        {"q_a": GREEN, "q_gone": GREEN, "q_old": GREEN},
        {"q_b": GREEN, "q_gone": ERROR, "q_old": GREEN},
    ]
    assert verify_order(specs, records) == ["q_new", "q_a", "q_b"]


def test_records_read_in_numeric_round_order(tmp_path):
    for n, rec in ((10, {"q_a": GREEN}), (2, {"q_a": MISMATCH}), (9, {"q_b": GREEN})):
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rec))
    (tmp_path / "CORRECTNESS_r03.json.bak").write_text("not a record")
    recs = correctness_records(str(tmp_path))
    assert recs == [{"q_a": MISMATCH}, {"q_b": GREEN}, {"q_a": GREEN}]
    assert verify_order(_specs("q_a", "q_b"), recs) == ["q_b", "q_a"]


def test_driver_window_is_oracle_bearing_and_stalest():
    """load_all() serves the computed order; every window slot can go
    green, rows-only specs sort last, and no query outside the window
    is staler than one inside it."""
    specs = load_all()
    names = list(specs)
    records = correctness_records()
    assert names == verify_order(REGISTRY, records)
    window = names[:DRIVER_WINDOW]
    assert all(specs[n].oracle is not None for n in window)
    rows_only = [n for n, s in specs.items() if s.oracle is None]
    assert names[len(names) - len(rows_only):] == rows_only

    # round each query was last seen green, while its latest row is green
    green_now: dict[str, int] = {}
    for rnd, rec in enumerate(records):
        for n, row in rec.items():
            if row["hash_match"] is True and row["err"] is None:
                green_now[n] = rnd
            else:
                green_now.pop(n, None)
    inside = [green_now[n] for n in window if n in green_now]
    outside = [green_now.get(n, -1) for n in names[DRIVER_WINDOW:] if n not in rows_only]
    if inside and outside:
        assert max(inside) <= min(outside)


def test_applied_confs_merges_excluded_rules(spark):
    key = "spark.sql.optimizer.excludedRules"
    session_rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    query_rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    spec = QuerySpec("q_x", lambda spark, sf: None, confs=((key, query_rule),))
    spark.conf.set(key, session_rule)
    try:
        with applied_confs(spark, spec):
            assert spark.conf.get(key).split(",") == [session_rule, query_rule]
        assert spark.conf.get(key) == session_rule
    finally:
        spark.conf.unset(key)
    with applied_confs(spark, spec):
        assert spark.conf.get(key) == query_rule
    assert spark.conf.get(key, None) in (None, "")
