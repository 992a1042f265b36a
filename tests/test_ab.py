"""tools/ab.py, the A/B harness: arms pin equal before any timing, and
each Spark arm reports its plan-graph shuffle and scan figures."""

from __future__ import annotations

import pytest

from duckdb_pst_spark.registry import load_all
from tools import ab


def test_arm_modifiers():
    specs = load_all()
    bare = ab.parse_arm("q_explode+noconfs", specs)
    assert specs["q_explode"].confs and bare.spec.confs == ()
    extra = ab.parse_arm("q_tpch_q8+spark.sql.autoBroadcastJoinThreshold=-1", specs)
    assert extra.spec.confs[-1] == ("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert ab.parse_arm("duckdb:q_tpch_q9", specs).duckdb
    with pytest.raises(ValueError):
        ab.parse_arm("q_tpch_q8+oops", specs)


def test_twin_against_plain(spark, sf_dir):
    out = ab.run_ab(spark, ["q_tpch_q4", "q_tpch_q4_bucketed"], sf_dir, reps=1)
    plain, twin = out["arms"]
    assert out["rows"] > 0
    for arm in (plain, twin):
        assert arm["min_s"] > 0 and arm["ratio"] > 0
        assert arm["scan_rows"] > 0 and arm["shuffle_records"] > 0
        assert arm["exchanges"] > 0 and arm["shuffle_mib"] >= 0


def test_query_against_duckdb_oracle(spark, sf_dir):
    out = ab.run_ab(spark, ["q_tpch_q9", "duckdb:q_tpch_q9"], sf_dir, reps=1)
    spark_arm, duck_arm = out["arms"]
    assert out["rows"] > 0
    assert spark_arm["exchanges"] > 0 and duck_arm["min_s"] > 0
    assert "exchanges" not in duck_arm


def test_mismatched_arms_refuse_before_timing(spark, sf_dir, monkeypatch):
    timed = []
    monkeypatch.setattr(ab, "_timed", lambda *a: timed.append(a) or 0.0)
    with pytest.raises(ab.ResultMismatch):
        ab.run_ab(spark, ["q_tpch_q4", "q_tpch_q12"], sf_dir, reps=1)
    assert timed == []
