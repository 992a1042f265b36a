"""Scan planning of the binary PST source (A3/A4/A6/A18): byte-balanced
runs of the (file, nid)-sorted message list, one per core or one per
``partition_size`` rows, whichever is more.

Runs in-process on the generated ``corpus`` fixture (conftest.py), so
it needs neither Spark nor the reference's golden archive."""

from __future__ import annotations

import math
import os
import statistics

from duckdb_pst_spark import sql
from duckdb_pst_spark.sources.mspst.datasource import (
    CLASS_FILTER,
    PstDataSource,
    balanced_cuts,
)
from duckdb_pst_spark.sources.mspst.ndb import PstFile, nid_type

CORES = len(os.sched_getaffinity(0))


def _reader(d, **opts):
    ds = PstDataSource({"path": str(d / "*.pst"), **opts})
    return ds.reader(ds.schema())


def _message_nids(path: str) -> list[int]:
    with PstFile(path) as p:
        return sorted(n for n in p.nbt if nid_type(n) == 0x04)


def _planned(parts) -> list[tuple[str, int]]:
    return [(f, nid) for p in parts for f, nids in p.value for nid in nids]


def _estimated_bytes(parts) -> list[float]:
    """Each partition's bytes as the planner estimates them: file size
    times the run's share of the file's messages."""
    per_msg = {}
    out = []
    for p in parts:
        total = 0.0
        for f, nids in p.value:
            if f not in per_msg:
                per_msg[f] = os.path.getsize(f) / len(_message_nids(f))
            total += per_msg[f] * len(nids)
        out.append(total)
    return out


def test_every_message_planned_once_in_file_nid_order(corpus):
    d, manifest = corpus
    files = sorted(str(d / a["file"]) for a in manifest)
    want = [(f, nid) for f in files for nid in _message_nids(f)]
    assert len(want) == sum(a["messages"] for a in manifest)
    for psize in ("4096", "10", "1"):
        assert _planned(_reader(d, partition_size=psize).partitions()) == want, psize


def test_partition_count_and_row_cap(corpus):
    d, manifest = corpus
    rows = sum(a["messages"] for a in manifest)
    for psize in (4096, 100, 33, 10, 1):
        parts = _reader(d, partition_size=str(psize)).partitions()
        assert len(parts) == max(math.ceil(rows / psize), min(CORES, len(manifest))), psize
        sizes = [sum(len(nids) for _f, nids in p.value) for p in parts]
        assert max(sizes) <= psize and min(sizes) >= 1, (psize, sizes)


def test_partitions_balance_estimated_bytes(corpus):
    d, manifest = corpus
    parts = _reader(d).partitions()
    est = _estimated_bytes(parts)
    assert max(est) / statistics.median(est) <= 1.25, est
    # a run may span archives; an archive splits only where a cut lands
    entries = [e for p in parts for e in p.value]
    assert len(entries) <= len(manifest) + len(parts) - 1


def test_read_returns_every_row_once(corpus):
    d, manifest = corpus
    r = _reader(d, columns="pst_name,node_id")
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert len(rows) == len(set(rows)) == sum(a["messages"] for a in manifest)
    by_name = {}
    for name, _nid in rows:
        by_name[name] = by_name.get(name, 0) + 1
    assert by_name == {a["pst_name"]: a["messages"] for a in manifest}


def test_read_limit_plans_first_rows_only(corpus):
    d, _m = corpus
    files = sorted(str(p) for p in d.glob("*.pst"))
    want = [(f, nid) for f in files for nid in _message_nids(f)][:30]
    r = _reader(d, read_limit="30")
    parts = r.partitions()
    assert _planned(parts) == want
    # the crawl stops at a1.pst (12 + 40 >= 30): two files planned
    assert {f for f, _n in want} == set(files[:2])
    assert len(parts) == max(1, min(CORES, 2))
    assert sum(1 for p in parts for _row in r.read(p)) == 30

    parts = _reader(d, read_limit="30", partition_size="4").partitions()
    assert _planned(parts) == want and len(parts) == math.ceil(30 / 4)


def test_read_limit_counts_only_the_tables_class(corpus):
    """Typed tables probe each node's class at plan time under a limit,
    so the limit counts matching rows only (A5 + A6)."""
    d, manifest = corpus
    for table, cls in CLASS_FILTER.items():
        matching = sum(a["class_counts"].get(cls, 0) for a in manifest)
        for limit in (3, matching + 5):
            r = _reader(d, table=table, read_limit=str(limit), columns="message_class")
            parts = r.partitions()
            rows = [row for p in parts for row in r.read(p)]
            assert len(_planned(parts)) == len(rows) == min(limit, matching), (table, limit)
            assert all(c.startswith(cls) for (c,) in rows), table


def test_read_limit_on_folders_spans_files(corpus):
    d, manifest = corpus
    first = manifest[0]["folders"]
    r = _reader(d, table="folders", read_limit=str(first + 2))
    parts = r.partitions()
    entries = [e for p in parts for e in p.value]
    assert [len(nids) for _f, nids in entries] == [first, 2]
    assert sum(1 for p in parts for _row in r.read(p)) == first + 2


def test_udtf_scan_equals_reader_rows(corpus):
    d, manifest = corpus
    glob = str(d / "*.pst")

    def reader_rows(**opts):
        r = _reader(d, **opts)
        return [row for p in r.partitions() for row in r.read(p)]

    msgs = list(sql._scan_rows("messages", glob, None, 1_000_000, False))
    assert len(msgs) == sum(a["messages"] for a in manifest) and msgs == reader_rows()
    tasks = sum(a["class_counts"]["IPM.Task"] for a in manifest)
    rows = list(sql._scan_rows("tasks", glob, None, 1_000_000, False))
    assert len(rows) == tasks and rows == reader_rows(table="tasks")
    for table in ("messages", "contacts", "folders"):
        rows = list(sql._scan_rows(table, glob, 3, 200, True))
        want = reader_rows(
            table=table, read_limit="3", read_body_size_bytes="200", read_attachment_body="true"
        )
        assert len(rows) == 3 and rows == want, table


def test_folders_one_entry_per_file(corpus):
    d, manifest = corpus
    r = _reader(d, table="folders")
    parts = r.partitions()
    entries = [e for p in parts for e in p.value]
    files = sorted(str(d / a["file"]) for a in manifest)
    assert entries == [(f, None) for f in files]  # never split within a file
    assert len(parts) == min(CORES, len(files))
    rows = [row for p in parts for row in r.read(p)]
    assert len(rows) == sum(a["folders"] for a in manifest)


def test_unreadable_file_is_skipped(corpus, tmp_path, capsys):
    import shutil

    d, manifest = corpus
    for a in manifest[:2]:
        shutil.copy(d / a["file"], tmp_path / a["file"])
    (tmp_path / "broken.pst").write_bytes(b"\x00" * 4096)
    for opts in ({}, {"read_limit": "100"}, {"table": "folders"}):
        parts = _reader(tmp_path, **opts).partitions()
        planned = {f for p in parts for f, _n in p.value}
        assert planned == {str(tmp_path / a["file"]) for a in manifest[:2]}, opts
        err = capsys.readouterr().err
        assert f"pst: skipping unreadable file {tmp_path / 'broken.pst'}" in err, opts


def test_empty_glob_plans_one_empty_partition(tmp_path):
    r = _reader(tmp_path)
    parts = r.partitions()
    assert len(parts) == 1 and list(r.read(parts[0])) == []


def test_stream_microbatch_is_planned_as_one_scan(corpus):
    """All new archives of a microbatch share one planner call, so many
    small archives run in at most min(cores, files) tasks."""
    d, manifest = corpus
    ds = PstDataSource({"path": str(d / "*.pst")})
    stream = ds.streamReader(ds.schema())
    end = stream.latestOffset()
    files = sorted(str(d / a["file"]) for a in manifest)
    assert end == {"seen": files}
    parts = stream.partitions(stream.initialOffset(), end)
    assert len(parts) == min(CORES, len(files))
    assert _planned(parts) == [(f, n) for f in files for n in _message_nids(f)]
    later = stream.partitions({"seen": files[:3]}, end)
    assert {f for p in later for f, _n in p.value} == set(files[3:])
    nothing = stream.partitions(end, end)
    assert [p.value for p in nothing] == [((None, None),)]


def test_balanced_cuts():
    assert balanced_cuts([1.0] * 24, 5, 5) == [0, 5, 10, 15, 19, 24]
    # one heavy item gets a run to itself; the cap still binds
    assert balanced_cuts([1, 1, 10, 1, 1, 1], 3) == [0, 2, 3, 6]
    assert balanced_cuts([100, 1, 1, 1, 1, 1], 2, 3) == [0, 3, 6]
    for n, parts, cap in ((7, 7, 1), (50, 4, 13), (10, 1, 10)):
        cuts = balanced_cuts([float(i % 3 + 1) for i in range(n)], parts, cap)
        runs = [b - a for a, b in zip(cuts, cuts[1:])]
        assert len(runs) == parts and min(runs) >= 1 and max(runs) <= cap
