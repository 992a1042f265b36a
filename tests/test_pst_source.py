"""PST source-layer behaviour through ``spark.read.format("pst")`` — the
reference's table_function_parameters.test / read_pst_folders.test /
read_unittest_pst.test assertions (SURVEY.md §5) — over the generated
``corpus`` archives (conftest.py). Expected values come from the
writer's manifest, so no golden archive is needed."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_pst_spark.sources.mspst import messaging
from duckdb_pst_spark.sources.mspst.datasource import (
    CLASS_FILTER,
    MESSAGE_SCHEMA,
    PstDataSource,
    register,
)


@pytest.fixture(scope="module")
def scan(spark):
    register(spark)

    def read(path, table="messages", **opts):
        return spark.read.format("pst").options(table=table, **opts).load(str(path))

    return read


def _by_file(df, col="pst_path"):
    """{archive file name: row count} of a scan."""
    rows = df.groupBy(col).count().collect()
    return {os.path.basename(r[col]): r["count"] for r in rows}


def test_folder_golden_tree(corpus, scan):
    """Root folder 290 is its own parent; the standard hierarchy is
    present (read_unittest_pst.test:14-37)."""
    d, manifest = corpus
    f = scan(d / manifest[0]["file"], "folders")
    rows = f.collect()
    assert len(rows) == manifest[0]["folders"]
    root = [r for r in rows if r.node_id == 290]
    assert len(root) == 1 and root[0].parent_node_id == 290
    names = {r.display_name for r in rows}
    assert {"", "Top of Outlook data file", "Inbox", "Tasks", "Calendar", "Conflicts"} <= names


def test_glob_scan_covers_all_files(corpus, scan):
    """Glob expansion at bind (table_function.cpp:48-61)."""
    d, manifest = corpus
    assert _by_file(scan(d / "*.pst")) == {a["file"]: a["messages"] for a in manifest}
    one = manifest[1]
    assert scan(d / one["file"]).count() == one["messages"]


@pytest.mark.parametrize("bad", ["fixtures/nope*.pst"])
def test_empty_glob_is_empty_not_error(corpus, scan, bad):
    """Unmatched glob → empty result (the reference skips bad files, A18)."""
    d, _m = corpus
    assert scan(d / bad).count() == 0


def test_missing_literal_path_raises(spark, corpus, scan):
    """A literal path that does not exist is an error, not an empty
    table (Spark's file sources raise PATH_NOT_FOUND), on the scan and
    on the planning-only count and scan info."""
    from duckdb_pst_spark.sources.mspst.stats import pst_count, pst_scan_info

    d, _m = corpus
    missing = str(d / "no" / "such.pst")
    with pytest.raises(Exception, match=re.escape(f"PST path does not exist: {missing}")):
        scan(missing).count()
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        pst_count(spark, missing)
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        pst_count(spark, f"file://{missing}")
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        pst_scan_info(spark, missing)


def test_class_filtered_readers(corpus, scan):
    """A5 planning-time class filter per typed table."""
    d, manifest = corpus
    for table, cls in CLASS_FILTER.items():
        want = {a["file"]: a["class_counts"][cls] for a in manifest}
        assert _by_file(scan(d / "*.pst", table)) == want, table


def test_body_truncation_byte_math(corpus, scan):
    """read_body_size_bytes=100 → at most 50 UTF-16 chars of body and
    body_html (row_serializer.cpp:95-108; table_function_parameters.test:
    19-28); 0 = unlimited (row_serializer.cpp:296-311)."""
    d, _m = corpus

    def bodies(**opts):
        df = scan(d / "*.pst", **opts).select("pst_path", "node_id", "body", "body_html")
        return {(r.pst_path, r.node_id): (r.body, r.body_html) for r in df.collect()}

    full = bodies()
    assert bodies(read_body_size_bytes=0) == full
    cut = bodies(read_body_size_bytes=100)
    assert cut.keys() == full.keys()
    for i, col in enumerate(("body", "body_html")):
        pairs = [(cut[k][i], full[k][i]) for k in full if full[k][i] is not None]
        assert all(c == f[:50] for c, f in pairs), col
        assert any(len(f) > 50 for _c, f in pairs), col
        assert {len(c) for c, f in pairs if len(f) >= 50} == {50}, col


def test_attachment_bytes_gating(corpus, scan):
    """A14: attachment bytes are NULL unless read_attachment_body=true
    (table_function_parameters.test:30-40)."""
    d, manifest = corpus
    total = sum(a["attachments"] for a in manifest)
    assert total > 0

    def attachment_bytes(**opts):
        df = scan(d / "*.pst", **opts).select(F.explode("attachments").alias("a"))
        return [r.b for r in df.select(F.col("a.bytes").alias("b")).collect()]

    gated = attachment_bytes()
    assert len(gated) == total and all(b is None for b in gated)
    opened = attachment_bytes(read_attachment_body="true")
    assert len(opened) == total and all(b is not None for b in opened)


def test_read_limit(corpus, scan):
    """A6: read_limit caps planned rows (table_function_parameters.test:13-17)."""
    d, manifest = corpus
    total = sum(a["messages"] for a in manifest)
    assert scan(d / "*.pst", read_limit=5).count() == 5
    assert scan(d / "*.pst", read_limit=total + 100).count() == total


def test_one_pst_name_per_path(corpus, scan):
    """Per file: exactly one pst_name, and node_id unique
    (read_pst_folders.test:19-29)."""
    d, manifest = corpus
    names = {a["file"]: {a["pst_name"]} for a in manifest}
    for table in ("folders", "messages"):
        df = scan(d / "*.pst", table)
        got = df.groupBy("pst_path").agg(
            F.collect_set("pst_name").alias("names"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("node_id").alias("nodes"),
        ).collect()
        assert {os.path.basename(r.pst_path): set(r.names) for r in got} == names, table
        assert all(r.n == r.nodes for r in got), table


def test_schema_inheritance(corpus, scan):
    """Typed schemas = the messages schema + the subtype block
    (schema.hpp:254-260 composition rule)."""
    d, _m = corpus
    msg_cols = scan(d / "*.pst").columns
    assert msg_cols == MESSAGE_SCHEMA.names
    assert msg_cols[:5] == ["pst_path", "pst_name", "record_key", "node_id", "parent_node_id"]
    extra = {
        "notes": None,
        "contacts": "given_name",
        "appointments": "start_time",
        "sticky_notes": "note_color",
        "tasks": "due_date",
        "distribution_lists": "member_node_ids",
    }
    assert extra.keys() == CLASS_FILTER.keys()
    for table, col in extra.items():
        cols = scan(d / "*.pst", table).columns
        assert cols[: len(msg_cols)] == msg_cols, table
        assert col is None or col in cols, table


def test_projection_prunes_scan(corpus, scan):
    """A7: with ``columns``, the scan schema is the projection and the
    reader decodes no body, recipient or attachment (row_serializer.cpp:
    1214-1216). The decode counters are process-local, so the reader is
    driven in-process for them."""
    d, manifest = corpus
    cols = "node_id,subject"
    df = scan(d / "*.pst", columns=cols)
    assert df.columns == ["node_id", "subject"]
    assert df.count() == sum(a["messages"] for a in manifest)

    ds = PstDataSource({"path": str(d / "*.pst"), "table": "messages", "columns": cols})
    reader = ds.reader(ds.schema())
    for k in messaging.DECODE_STATS:
        messaging.DECODE_STATS[k] = 0
    rows = [r for p in reader.partitions() for r in reader.read(p)]
    assert len(rows) == sum(a["messages"] for a in manifest)
    assert messaging.DECODE_STATS == {
        "body": 0, "body_html": 0, "recipients": 0, "attachments": 0, "subnodes": 0,
    }


def test_recipients_explode(corpus, scan):
    """unnest(recipients) gives one row per recipient with its struct
    fields projected (B16/B17)."""
    d, manifest = corpus
    r = scan(d / "*.pst").select("pst_path", F.explode("recipients").alias("r")).select(
        "pst_path", "r.display_name", "r.email_address", "r.recipient_type"
    )
    assert _by_file(r) == {a["file"]: a["recipients"] for a in manifest}
    rows = r.collect()
    assert all(x.display_name and "@" in x.email_address for x in rows)
    assert {x.recipient_type for x in rows} <= {"TO", "CC", "BCC"}


def test_streaming_pst_ingest(spark, corpus, tmp_path):
    """spark.readStream.format("pst"): each newly arrived archive becomes
    a microbatch planned and read by the unchanged batch code path."""
    register(spark)
    d, manifest = corpus
    a, b = manifest[0], manifest[2]
    shutil.copy(d / a["file"], tmp_path / "a.pst")
    q = (
        spark.readStream.format("pst")
        .option("table", "messages")
        .load(str(tmp_path / "*.pst"))
        .groupBy("pst_path")
        .count()
        .writeStream.format("memory")
        .queryName("pst_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select sum(count) c from pst_stream").collect()[0].c == a["messages"]
        shutil.copy(d / b["file"], tmp_path / "b.pst")  # late-arriving archive
        q.processAllAvailable()
        got = spark.sql("select pst_path, count from pst_stream order by pst_path").collect()
        assert [r["count"] for r in got] == [a["messages"], b["messages"]]
    finally:
        q.stop()


def test_streaming_restart_from_checkpoint_is_exactly_once(spark, corpus, tmp_path):
    """Kill the stream, add an archive, restart with the SAME checkpoint:
    already-ingested archives must not re-emit (offset log resume) and
    the new archive's rows appear exactly once."""
    register(spark)
    d, manifest = corpus
    a, b = manifest[0], manifest[2]
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(d / a["file"], land / "a.pst")

    def run_once():
        q = (
            spark.readStream.format("pst")
            .option("table", "messages")
            .load(str(land / "*.pst"))
            .select("pst_path", "node_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == a["messages"]
    shutil.copy(d / b["file"], land / "b.pst")
    run_once()
    assert _by_file(spark.read.parquet(out)) == {"a.pst": a["messages"], "b.pst": b["messages"]}
