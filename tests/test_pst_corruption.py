"""A18 error-tolerance gate for the binary PST reader: corrupted or
truncated archives must be logged-and-skipped (file level) or yield
partial rows (node level) — never crash the scan, and never poison the
healthy files scanned alongside them (the reference's semantics,
/root/reference/src/table_function.cpp:228-235 and
row_serializer.cpp:1252-1263).

The healthy archive is ``GOLDEN_PST`` (sources/mspst/queries.py): the
reference's test/unittest.pst where its checkout is present, else the
committed duckdb_pst_spark/sources/mspst/golden/unittest.pst.
"""

from __future__ import annotations

import shutil

import pytest

from duckdb_pst_spark.sources.mspst.queries import GOLDEN_PST as GOLDEN

GOLDEN_MESSAGES = 12  # reference's pinned message count for unittest.pst


def _corrupt(src: bytes, mode: str) -> bytes:
    if mode == "truncate_25":
        return src[: len(src) // 4]
    if mode == "truncate_75":
        return src[: 3 * len(src) // 4]
    if mode == "zero_header":
        return b"\x00" * 512 + src[512:]
    if mode == "zero_mid":
        mid = len(src) // 2
        return src[:mid] + b"\x00" * 4096 + src[mid + 4096 :]
    if mode == "flip_mid":
        mid = len(src) // 2
        return src[:mid] + bytes(b ^ 0xFF for b in src[mid : mid + 1024]) + src[mid + 1024 :]
    raise ValueError(mode)


@pytest.mark.parametrize(
    "mode", ["truncate_25", "truncate_75", "zero_header", "zero_mid", "flip_mid"]
)
def test_corrupt_archive_never_crashes_the_scan(spark, tmp_path, mode):
    """Glob of one healthy + one corrupted archive: the scan completes
    and returns at least the healthy file's rows."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    good = tmp_path / "good.pst"
    bad = tmp_path / "bad.pst"
    shutil.copy(GOLDEN, good)
    src = open(GOLDEN, "rb").read()
    bad.write_bytes(_corrupt(src, mode))

    rows = spark.read.format("pst").load(str(tmp_path / "*.pst")).collect()
    healthy = [r for r in rows if r.pst_path == str(good)]
    assert len(healthy) == GOLDEN_MESSAGES
    # corrupted-file rows, if any survive, must at least carry identity
    for r in rows:
        assert r.pst_path in (str(good), str(bad))


def test_fatal_archives_skip_cleanly(spark, tmp_path):
    """Unreadable-at-plan-time archives (bad magic) are dropped whole; a
    merely truncated archive may still yield every message whose nodes
    survive — recovering them IS the tolerance working. Whether any
    survive depends on the layout: the reference file's NBT and message
    data sit in its first quarter, the committed archive's B-tree pages
    come last, so only "rows come from the truncated file alone" holds
    on both."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    src = open(GOLDEN, "rb").read()
    (tmp_path / "a.pst").write_bytes(_corrupt(src, "zero_header"))
    rows = spark.read.format("pst").load(str(tmp_path / "*.pst")).collect()
    assert rows == []
    (tmp_path / "b.pst").write_bytes(_corrupt(src, "truncate_25"))
    rows = spark.read.format("pst").load(str(tmp_path / "*.pst")).collect()
    assert {r.pst_path for r in rows} <= {str(tmp_path / "b.pst")}
