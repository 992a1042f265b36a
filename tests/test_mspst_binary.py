"""Binary PST reader golden tests — every assertion mirrors the
reference's test/sql/read_unittest_pst.test, parsed by the pure-Python
[MS-PST] implementation (ndb/ltp/messaging) and exposed through the
``pst`` Python DataSource.

The archive is ``GOLDEN_PST`` (sources/mspst/queries.py): the reference's
own test/unittest.pst where its checkout is present, else the committed
duckdb_pst_spark/sources/mspst/golden/unittest.pst, which carries the
same published values (tests/golden_pst.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from duckdb_pst_spark.sources.mspst.queries import GOLDEN_PST as PST

GOLD_RECORD_KEY = bytes.fromhex("D8D31B118C3A3B4A9D8816686207E762")

GOLD_FOLDERS = {  # read_unittest_pst.test:22-37
    290: (290, None, "", 3, 0, 0),
    32802: (290, None, "Top of Outlook data file", 13, 0, 0),
    32834: (290, None, "Search Root", 0, 0, 0),
    32866: (32802, None, "Deleted Items", 0, 0, 0),
    32898: (32802, None, "Inbox", 0, 4, 0),
    32930: (32802, None, "Outbox", 0, 0, 0),
    32962: (32802, None, "Sent Items", 0, 0, 0),
    32994: (32802, "IPF.Appointment", "Calendar", 0, 1, 0),
    33026: (32802, "IPF.Contact", "Contacts", 0, 3, 0),
    33058: (32802, "IPF.Journal", "Journal", 0, 0, 0),
    33090: (32802, "IPF.StickyNote", "Notes", 0, 2, 0),
    33122: (32802, "IPF.Task", "Tasks", 0, 1, 0),
    33154: (32802, "IPF.Note", "Drafts", 0, 1, 0),
    33186: (32802, "IPF.Note.OutlookHomepage", "RSS Feeds", 0, 0, 0),
    33218: (32802, "IPF.Configuration", "Conversation Action Settings", 0, 0, 0),
    33250: (32802, "IPF.Configuration", "Quick Step Settings", 0, 0, 0),
}


@pytest.fixture(scope="module")
def archive():
    from duckdb_pst_spark.sources.mspst.messaging import PstArchive

    a = PstArchive(PST)
    yield a
    a.close()


def test_store_golden(archive):
    assert archive.display_name == "Outlook Data File"
    assert archive.record_key == GOLD_RECORD_KEY


def test_folders_golden_16_rows(archive):
    rows = {f["node_id"]: f for f in archive.folders()}
    assert len(rows) == 16
    for nid, (parent, cclass, name, subs, msgs, unread) in GOLD_FOLDERS.items():
        f = rows[nid]
        assert f["parent_node_id"] == parent, nid
        assert f["container_class"] == cclass, nid
        assert f["display_name"] == name, nid
        assert f["subfolder_count"] == subs, nid
        assert f["message_count"] == msgs, nid
        assert f["unread_message_count"] == unread, nid


def test_message_class_mix(archive):
    """5 notes + 2 contacts + 1 dlist + 1 appt + 2 sticky + 1 task
    (read_unittest_pst.test:39-93, README.md:25-37)."""
    from collections import Counter

    c = Counter(m["message_class"] for m in archive.messages())
    assert c == {
        "IPM.Note": 5,
        "IPM.Contact": 2,
        "IPM.DistList": 1,
        "IPM.Appointment": 1,
        "IPM.StickyNote": 2,
        "IPM.Task": 1,
    }


def test_sticky_notes_golden(archive):
    """Geometry + topic (read_unittest_pst.test:96-102)."""
    sticky = sorted(
        (m for m in archive.messages() if m["message_class"] == "IPM.StickyNote"),
        key=lambda m: m["node_id"],
    )
    s0, s1 = sticky
    assert s0["node_id"] == 2097444 and s0["parent_node_id"] == 33090
    assert s0["conversation_topic"] == (
        "This UI hasn't changed since I used Outlook on Win9x. Awesome."
    )
    assert (s0["note_color"], s0["note_width"], s0["note_height"], s0["note_x"], s0["note_y"]) == (3, 2051, 1565, 80, 80)
    assert s1["node_id"] == 2097476 and s1["conversation_topic"] is None
    assert (s1["note_color"], s1["note_width"], s1["note_height"], s1["note_x"], s1["note_y"]) == (0, 2051, 1565, 81, 81)


def test_appointment_golden(archive):
    """start/end/duration/all-day (read_unittest_pst.test:113-120)."""
    a = [m for m in archive.messages() if m["message_class"] == "IPM.Appointment"][0]
    assert a["node_id"] == 2097316 and a["parent_node_id"] == 32994
    assert a["start_time"] == dt.datetime(2025, 12, 25, 5, 0, 0)
    assert a["end_time"] == dt.datetime(2025, 12, 26, 5, 0, 0)
    assert a["duration"] == 1440
    assert a["all_day_event"] is True
    # widened APPOINTMENT_CHILDREN block (schema.hpp:263-278)
    assert a["is_recurring"] is True
    assert a["recurrence_pattern"] == "every December 25"
    assert a["busy_status"] == 0
    assert a["response_status"] == 0
    assert a["is_meeting"] is False
    assert a["is_private"] is False  # sensitivity 0 → not private


def test_task_golden(archive):
    """due date (read_unittest_pst.test:104-111)."""
    t = [m for m in archive.messages() if m["message_class"] == "IPM.Task"][0]
    assert t["node_id"] == 2097508 and t["parent_node_id"] == 33122
    assert t["due_date"] == dt.datetime(2025, 12, 25, 0, 0, 0)
    # widened TASK_CHILDREN block (schema.hpp:307-330)
    assert t["task_status"] == 1
    assert t["percent_complete"] == 0.8
    assert t["is_complete"] is False
    assert t["task_owner"] == "Unknown"
    assert t["estimated_effort"] == 0 and t["actual_effort"] == 0
    assert t["ownership"] == 0
    assert t["is_team_task"] is False and t["is_recurring"] is False


def test_dlist_golden(archive):
    """members + one-offs (read_unittest_pst.test:57-69)."""
    d = [m for m in archive.messages() if m["message_class"] == "IPM.DistList"][0]
    assert d["node_id"] == 2097412 and d["parent_node_id"] == 33026
    assert d["display_name"] == "Cat Support Group"
    assert sorted(d["member_node_ids"]) == [2097380, 2097412]
    offs = sorted(d["one_off_members"], key=lambda o: o["display_name"])
    assert offs == [
        {
            "display_name": "Hopper Cat (hopper@intellekt.fyi)",
            "address_type": "SMTP",
            "email_address": "hopper@intellekt.fyi",
        },
        {
            "display_name": "Linus Cat (linus@intellekt.fyi)",
            "address_type": "SMTP",
            "email_address": "linus@intellekt.fyi",
        },
    ]


def test_datasource_spark_integration(spark):
    """spark.read.format('pst') end-to-end over the golden file."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    folders = spark.read.format("pst").option("table", "folders").load(PST)
    assert folders.count() == 16
    assert folders.filter("node_id = parent_node_id").count() == 1  # root self-loop

    msgs = spark.read.format("pst").load(PST)
    assert msgs.count() == 12
    by_class = {r["message_class"]: r["count"] for r in msgs.groupBy("message_class").count().collect()}
    assert by_class["IPM.Note"] == 5 and by_class["IPM.Contact"] == 2

    notes = spark.read.format("pst").option("table", "notes").load(PST)
    assert notes.count() == 5  # A5 class filter

    limited = spark.read.format("pst").option("read_limit", "3").load(PST)
    assert limited.count() == 3  # A6 read_limit

    # pst_name/record_key metadata block (schema.hpp:124-133)
    row = folders.select("pst_name", "record_key").first()
    assert row["pst_name"] == "Outlook Data File"
    assert bytes(row["record_key"]) == GOLD_RECORD_KEY


def test_typed_datasource_contacts(spark):
    """Typed tables append subtype columns (schema composition,
    schema.hpp:254-260); golden contact names Hopper/Linus
    (reference README.md:61-69)."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    c = spark.read.format("pst").option("table", "contacts").load(PST)
    # full reference CONTACT_SCHEMA (77 subtype cols, schema.hpp:175-260)
    # + the email_address_1 extension = 27 + 78 columns
    assert len(c.columns) == 105
    for col in ("display_name_prefix", "spouse_name", "business_telephone",
                "home_address_city", "postal_address", "disclose_recipients"):
        assert col in c.columns, col
    rows = {r.given_name: r for r in c.collect()}
    assert set(rows) == {"Hopper", "Linus"}
    assert all(r.surname == "Cat" for r in rows.values())
    assert rows["Hopper"].email_address_1 == "hopper@intellekt.fyi"

    t = spark.read.format("pst").option("table", "tasks").load(PST)
    row = t.select("due_date", "start_date").first()
    assert row.due_date == dt.datetime(2025, 12, 25)


def test_node_range_partitioning(spark):
    """A3/A4 parity: driver-side NBT crawl buckets message nids into
    partition_size tasks; read_limit cuts the crawl at planning (A6)."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    df = (
        spark.read.format("pst")
        .option("partition_size", "5")
        .load(PST)
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(12 / 5)
    assert df.count() == 12

    lim = (
        spark.read.format("pst")
        .option("partition_size", "5")
        .option("read_limit", "7")
        .load(PST)
    )
    assert lim.rdd.getNumPartitions() == 2 and lim.count() == 7


def _reset_decode_stats():
    from duckdb_pst_spark.sources.mspst import messaging

    for k in messaging.DECODE_STATS:
        messaging.DECODE_STATS[k] = 0
    return messaging.DECODE_STATS


def test_projection_pushdown_skips_heavy_decode():
    """A7 parity (row_serializer.cpp:1214-1216, pst_extension.cpp:35):
    a `columns` projection must never FETCH unprojected heavy data —
    bodies, recipients, attachments, even the subnode-tree walk. Driven
    through the reader in-process so the decode counters are visible."""
    from duckdb_pst_spark.sources.mspst.datasource import PstDataSource

    ds = PstDataSource({"path": PST, "table": "messages", "columns": "node_id,subject"})
    schema = ds.schema()
    assert [f.name for f in schema.fields] == ["node_id", "subject"]
    reader = ds.reader(schema)
    stats = _reset_decode_stats()
    rows = [r for p in reader.partitions() for r in reader.read(p)]
    assert len(rows) == 12 and all(len(r) == 2 for r in rows)
    assert stats == {
        "body": 0, "body_html": 0, "recipients": 0, "attachments": 0, "subnodes": 0,
    }

    # count-only attachment projection: subnode walk + row-id count, but
    # no per-attachment property parse
    ds2 = PstDataSource(
        {"path": PST, "table": "messages", "columns": "node_id,has_attachments,attachment_count"}
    )
    reader2 = ds2.reader(ds2.schema())
    stats = _reset_decode_stats()
    rows2 = [r for p in reader2.partitions() for r in reader2.read(p)]
    assert len(rows2) == 12
    assert stats["attachments"] == 0 and stats["subnodes"] == 12

    # the unprojected scan still decodes everything
    ds3 = PstDataSource({"path": PST, "table": "messages"})
    reader3 = ds3.reader(ds3.schema())
    stats = _reset_decode_stats()
    rows3 = [r for p in reader3.partitions() for r in reader3.read(p)]
    assert len(rows3) == 12
    assert stats["body"] == 12 and stats["recipients"] == 12 and stats["subnodes"] == 12


def test_projection_pushdown_spark_values_match(spark):
    """A7 end-to-end: the pruned scan returns the same values as the
    full scan's select, and the class filter (A5) still sees
    message_class even when it is not projected."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    full = {
        r.node_id: (r.subject, r.has_attachments, r.attachment_count)
        for r in spark.read.format("pst")
        .load(PST)
        .select("node_id", "subject", "has_attachments", "attachment_count")
        .collect()
    }
    pruned = spark.read.format("pst").option(
        "columns", "node_id,subject,has_attachments,attachment_count"
    ).load(PST)
    assert pruned.columns == ["node_id", "subject", "has_attachments", "attachment_count"]
    got = {r.node_id: (r.subject, r.has_attachments, r.attachment_count) for r in pruned.collect()}
    assert got == full

    # A5 + A7 compose: typed table with a projection that excludes
    # message_class still filters on it
    notes = spark.read.format("pst").option("table", "notes").option(
        "columns", "node_id,subject"
    ).load(PST)
    assert notes.count() == 5

    # typed subtype columns project too
    c = spark.read.format("pst").option("table", "contacts").option(
        "columns", "given_name,surname"
    ).load(PST)
    assert sorted((r.given_name, r.surname) for r in c.collect()) == [
        ("Hopper", "Cat"), ("Linus", "Cat"),
    ]

    import pytest as _pytest

    with _pytest.raises(Exception, match="unknown columns"):
        spark.read.format("pst").option("columns", "node_id,nope").load(PST).collect()


def test_error_tolerance_skips_bad_file(spark, tmp_path):
    """A18 parity (table_function.cpp:228-235): an unreadable file in the
    glob is logged and skipped at planning; good files still scan."""
    import shutil

    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    shutil.copy(PST, tmp_path / "good.pst")
    (tmp_path / "corrupt.pst").write_bytes(b"\x00" * 4096)
    (tmp_path / "truncated.pst").write_bytes(open(PST, "rb").read()[:600])

    df = spark.read.format("pst").load(str(tmp_path / "*.pst"))
    assert df.count() == 12  # only good.pst contributes

    folders = (
        spark.read.format("pst").option("table", "folders").load(str(tmp_path / "*.pst"))
    )
    assert folders.count() == 16


def test_scan_info_metadata(spark, tmp_path):
    """A20 parity (PSTDynamicToString, table_function.cpp:367-380): the
    scan-metadata surface reports files/partitions/partition-size from
    the real planner, plus planned rows (A19 progress denominator) and
    the A7 projection."""
    import shutil

    from duckdb_pst_spark.sources.mspst.stats import pst_scan_info

    shutil.copy(PST, tmp_path / "a.pst")
    shutil.copy(PST, tmp_path / "b.pst")

    info = pst_scan_info(
        spark, str(tmp_path / "*.pst"), partition_size="5", columns="node_id,subject"
    ).first()
    assert info.files_read == 2
    # 24 message nids at most 5 per partition: ceil(24 / 5) byte-balanced runs
    assert info.partitions_read >= 5
    assert info.partition_size == 5
    assert info.rows_planned == 24
    assert info.projected_columns == "node_id,subject"

    lim = pst_scan_info(spark, PST, read_limit="7").first()
    assert lim.rows_planned == 7  # A6 cuts planning itself

    folders = pst_scan_info(spark, PST, table="folders").first()
    assert folders.rows_planned == 16 and folders.files_read == 1


def test_stats_count_matches_full_scan(spark):
    """A8 planning-stats count equals the materialized scan count for
    every table function (PSTReadCardinality, table_function.cpp:325-351)."""
    from duckdb_pst_spark.sources.mspst.datasource import register
    from duckdb_pst_spark.sources.mspst.stats import pst_count

    register(spark)
    for tbl in ("folders", "messages", "notes", "contacts", "appointments",
                "sticky_notes", "tasks", "distribution_lists"):
        full = spark.read.format("pst").option("table", tbl).load(PST).count()
        assert pst_count(spark, PST, tbl) == full, tbl


def test_stats_count_multi_file_and_tolerance(spark, tmp_path):
    """Multi-file glob counts distribute one task per file; unreadable
    files count 0 (A18) instead of failing the job."""
    import shutil

    from duckdb_pst_spark.sources.mspst.stats import pst_count

    shutil.copy(PST, tmp_path / "a.pst")
    shutil.copy(PST, tmp_path / "b.pst")
    (tmp_path / "corrupt.pst").write_bytes(b"\x00" * 4096)
    assert pst_count(spark, str(tmp_path / "*.pst")) == 24
    assert pst_count(spark, str(tmp_path / "*.pst"), "folders") == 32
    assert pst_count(spark, str(tmp_path / "nothing-*.pst")) == 0


def test_file_uri_scheme_reads_like_local(spark):
    """file:// URLs route through fsio and match the plain-path read."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    local = spark.read.format("pst").load(PST).select("node_id").collect()
    uri = spark.read.format("pst").load(f"file://{PST}").select("node_id").collect()
    assert sorted(r.node_id for r in uri) == sorted(r.node_id for r in local)


def test_corruption_fuzz_never_crashes(tmp_path):
    """A18 fuzz: random single-byte corruptions of the fixture either
    parse (possibly with skipped nodes) or raise cleanly — the reader
    must never hang or kill the interpreter (reference behavior:
    per-file and per-node failures are logged and skipped,
    table_function.cpp:228-235, row_serializer.cpp:1252-1263)."""
    import random

    from duckdb_pst_spark.sources.mspst.messaging import PstArchive

    gold = open(PST, "rb").read()
    rng = random.Random(42)
    for trial in range(24):
        data = bytearray(gold)
        # corrupt 1-4 bytes anywhere past the magic
        for _ in range(rng.randint(1, 4)):
            data[rng.randrange(8, len(data))] ^= 1 << rng.randrange(8)
        p = tmp_path / f"fuzz_{trial}.pst"
        p.write_bytes(bytes(data))
        try:
            a = PstArchive(str(p))
        except Exception:
            continue  # clean failure at open is acceptable
        try:
            for nid in a.message_nids()[:20]:
                try:
                    a.message_row(nid)
                except Exception:
                    pass  # per-node failure is the A18 contract
            for _ in a.folders():
                pass
        except Exception:
            pass  # clean failure mid-iteration is acceptable too
        finally:
            a.close()
