"""The committed golden archive stays what its writer makes, and agrees
with the reference's own test/unittest.pst wherever that file exists."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from duckdb_pst_spark.sources.mspst import queries
from duckdb_pst_spark.sources.mspst.queries import COMMITTED_PST, REFERENCE_PST
from tests.golden_pst import write_golden


def test_golden_archive_reproducible(tmp_path):
    """``python -m tests.golden_pst`` rewrites the committed file byte
    for byte."""
    out = tmp_path / "unittest.pst"
    write_golden(str(out))
    with open(COMMITTED_PST, "rb") as f:
        assert out.read_bytes() == f.read()


@pytest.mark.skipif(not os.path.exists(REFERENCE_PST), reason=f"{REFERENCE_PST} not present")
def test_golden_archive_matches_reference(spark, sf_dir, monkeypatch):
    """Every ``q_pstbin_*`` query returns the same rows on the committed
    archive as on the reference's file."""
    from duckdb_pst_spark.registry import load_all

    specs = {n: s for n, s in load_all().items() if n.startswith("q_pstbin_")}
    assert specs

    def rows(path):
        monkeypatch.setattr(queries, "GOLDEN_PST", path)
        return {n: Counter(map(tuple, s.builder(spark, sf_dir).collect()))
                for n, s in specs.items()}

    assert rows(COMMITTED_PST) == rows(REFERENCE_PST)
