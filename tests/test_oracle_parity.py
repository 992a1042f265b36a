"""Mirror of the driver's correctness gate, run at sf0.001 for speed.

Every oracle-bearing QuerySpec must hash-match DuckDB exactly. Set
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to run at driver scale.
"""

from __future__ import annotations

import os

import pytest

from duckdb_pst_spark.registry import load_all
from duckdb_pst_spark.sources.mspst.queries import REFERENCE_PST
from tests.oracle import compare

SPECS = load_all()
ORACLE_NAMES = [n for n, s in SPECS.items() if s.oracle is not None]
ROWS_ONLY_NAMES = [n for n, s in SPECS.items() if s.oracle is None]


def _case(name: str):
    """Queries tagged ``pst-reference`` pin bytes that only the
    reference's own test/unittest.pst holds; they run wherever it is."""
    if "pst-reference" in SPECS[name].tags:
        return pytest.param(name, marks=pytest.mark.skipif(
            not os.path.exists(REFERENCE_PST), reason=f"{REFERENCE_PST} not present"))
    return name


@pytest.mark.parametrize("name", [_case(n) for n in ORACLE_NAMES])
def test_oracle_parity(spark, sf_dir, name):
    compare(spark, SPECS[name], sf_dir)


def test_rows_only_class_is_empty():
    """Round 10 closed the rows-only class: every deterministic kernel
    DuckDB can't recompute (xxhash64, BLAS GEMM, media codecs, BPE
    training) now carries a constant-pinned VALUES golden
    (tools/pin_goldens.py), so the driver hash-checks all of them."""
    assert ROWS_ONLY_NAMES == []


def test_pinned_goldens_match_current_corpus():
    """The sf-dependent pinned goldens are only the queries' outputs on
    the EXACT corpus they were generated at. The driver regenerates
    testdata between rounds (it has changed parquet physical types
    before), so gate on a content digest and fail with the fix, not
    with six opaque hash mismatches in the verify window."""
    import hashlib
    import os

    from duckdb_pst_spark.goldens_pinned import PINNED_CORPUS_DIGEST, PINNED_SF

    h = hashlib.sha1()
    for t in ("documents", "embeddings"):
        with open(os.path.join(PINNED_SF, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    assert h.hexdigest()[:16] == PINNED_CORPUS_DIGEST, (
        f"{PINNED_SF} was regenerated since the goldens were pinned — "
        "re-run `python tools/pin_goldens.py` (it re-verifies determinism "
        "and round-trips every literal) and commit the refreshed "
        "duckdb_pst_spark/goldens_pinned.py"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_no_nested_output_columns(spark, sf_dir):
    """Driver-contract guard: the driver's canonicalizer pandas-sorts result
    columns, so an Array/Map/Struct output column in an oracle-bearing query
    dies with `unhashable type` at verify time (bug class that broke
    q_embedding_quantize in r2 and q_pstbin_dlist_ids in r3). Ban the class:
    every oracle-bearing spec must emit scalar columns only (explode /
    posexplode nested data into rows instead)."""
    from pyspark.sql import types as T

    offenders = {}
    for name in ORACLE_NAMES:
        schema = SPECS[name].builder(spark, sf_dir).schema
        nested = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, f"oracle-bearing queries with nested output columns: {offenders}"


def test_survey_inventory_matches_registry():
    """SURVEY.md §2's operator inventory and the registry must stay 1:1 —
    the declared surface IS the checked surface."""
    import os
    import re

    survey = open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")).read()
    declared = set(re.findall(r"`(q_[a-z0-9_]+)`", survey))
    registered = set(SPECS)
    assert declared == registered, {
        "declared_not_registered": sorted(declared - registered),
        "registered_not_declared": sorted(registered - declared),
    }
