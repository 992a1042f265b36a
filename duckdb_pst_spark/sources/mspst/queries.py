"""Registered queries over the binary PST reader (SURVEY.md §2.C),
``spark.read.format("pst")`` on ``GOLDEN_PST``.

The oracle for these can't re-read PST (DuckDB here has no PST
extension), so the golden queries pin the Spark result to literal VALUES
copied from the reference's own expected output
(/root/reference/test/sql/read_unittest_pst.test) — a hash-check against
the reference's published truth, which is stronger than rows-only.

``GOLDEN_PST`` is the reference's own test/unittest.pst where its
checkout is present, else the committed ``golden/unittest.pst`` beside
this module. ``python -m tests.golden_pst`` writes that file with every
value the reference's tests publish, under the same node ids. Its
writer (perfbench/pstgen.py's block and LTP builders) encodes with the
reader's own permute table, so on the committed archive these queries
show that writer and reader agree; decoding real Outlook files is
checked only where the reference file exists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_pst_spark.registry import query

#: The reference's own fixture, where its checkout is present.
REFERENCE_PST = "/root/reference/test/unittest.pst"
#: The in-repo archive carrying the same published values
#: (written by ``python -m tests.golden_pst``).
COMMITTED_PST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "unittest.pst")
GOLDEN_PST = REFERENCE_PST if os.path.exists(REFERENCE_PST) else COMMITTED_PST


def _pst(spark: SparkSession, table: str, **options) -> DataFrame:
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    r = spark.read.format("pst").option("table", table)
    for k, v in options.items():
        r = r.option(k, str(v).lower() if isinstance(v, bool) else str(v))
    return r.load(GOLDEN_PST)


_FOLDER_VALUES = """
    (290, 290, CAST(NULL AS VARCHAR), '<empty>', 3, 0, 0),
    (32802, 290, NULL, 'Top of Outlook data file', 13, 0, 0),
    (32834, 290, NULL, 'Search Root', 0, 0, 0),
    (32866, 32802, NULL, 'Deleted Items', 0, 0, 0),
    (32898, 32802, NULL, 'Inbox', 0, 4, 0),
    (32930, 32802, NULL, 'Outbox', 0, 0, 0),
    (32962, 32802, NULL, 'Sent Items', 0, 0, 0),
    (32994, 32802, 'IPF.Appointment', 'Calendar', 0, 1, 0),
    (33026, 32802, 'IPF.Contact', 'Contacts', 0, 3, 0),
    (33058, 32802, 'IPF.Journal', 'Journal', 0, 0, 0),
    (33090, 32802, 'IPF.StickyNote', 'Notes', 0, 2, 0),
    (33122, 32802, 'IPF.Task', 'Tasks', 0, 1, 0),
    (33154, 32802, 'IPF.Note', 'Drafts', 0, 1, 0),
    (33186, 32802, 'IPF.Note.OutlookHomepage', 'RSS Feeds', 0, 0, 0),
    (33218, 32802, 'IPF.Configuration', 'Conversation Action Settings', 0, 0, 0),
    (33250, 32802, 'IPF.Configuration', 'Quick Step Settings', 0, 0, 0)
"""


@query(
    "q_pstbin_folders",
    oracle=f"""
    SELECT CAST(node_id AS BIGINT) AS node_id,
           CAST(parent_node_id AS BIGINT) AS parent_node_id,
           container_class, display_name,
           CAST(subfolder_count AS BIGINT) AS subfolder_count,
           CAST(message_count AS BIGINT) AS message_count,
           CAST(unread_message_count AS BIGINT) AS unread_message_count
    FROM (VALUES {_FOLDER_VALUES})
      t(node_id, parent_node_id, container_class, display_name,
        subfolder_count, message_count, unread_message_count)
    """,
    tags=("pst-binary", "scan"),
)
def q_pstbin_folders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-reader folder table hash-pinned to the reference's golden
    16-row output (read_unittest_pst.test:19-37)."""
    f = _pst(spark, "folders")
    return f.select(
        "node_id",
        "parent_node_id",
        "container_class",
        F.when(F.col("display_name") == "", "<empty>")
        .otherwise(F.col("display_name"))
        .alias("display_name"),
        "subfolder_count",
        "message_count",
        "unread_message_count",
    )


@query(
    "q_pstbin_class_counts",
    oracle="""
    SELECT message_class, CAST(c AS BIGINT) AS c FROM (VALUES
      ('IPM.Note', 5), ('IPM.Contact', 2), ('IPM.StickyNote', 2),
      ('IPM.Appointment', 1), ('IPM.DistList', 1), ('IPM.Task', 1)
    ) t(message_class, c)
    """,
    tags=("pst-binary", "agg"),
)
def q_pstbin_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-reader class histogram pinned to the golden mix
    (read_unittest_pst.test:39-93, README.md:25-37). The `columns`
    projection (A7) means the scan decodes ONLY message_class — no
    bodies, no subnode walk."""
    m = _pst(spark, "messages", columns="message_class")
    return m.groupBy("message_class").agg(F.count(F.lit(1)).alias("c"))


@query(
    "q_pstbin_sticky_geometry",
    oracle="""
    SELECT CAST(node_id AS BIGINT) AS node_id,
           CAST(parent_node_id AS BIGINT) AS parent_node_id,
           message_class, conversation_topic,
           CAST(note_color AS INT) AS note_color,
           CAST(note_width AS INT) AS note_width,
           CAST(note_height AS INT) AS note_height,
           CAST(note_x AS INT) AS note_x, CAST(note_y AS INT) AS note_y
    FROM (VALUES
      (2097444, 33090, 'IPM.StickyNote',
       'This UI hasn''t changed since I used Outlook on Win9x. Awesome.',
       3, 2051, 1565, 80, 80),
      (2097476, 33090, 'IPM.StickyNote', NULL, 0, 2051, 1565, 81, 81)
    ) t(node_id, parent_node_id, message_class, conversation_topic,
        note_color, note_width, note_height, note_x, note_y)
    """,
    tags=("pst-binary", "typed"),
)
def q_pstbin_sticky_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sticky-note rows (class, topic, named-property geometry) pinned to
    golden (read_unittest_pst.test:96-102); A7-projected scan."""
    cols = ("node_id,parent_node_id,message_class,conversation_topic,"
            "note_color,note_width,note_height,note_x,note_y")
    return _pst(spark, "sticky_notes", columns=cols)


@query(
    "q_pstbin_appointment",
    oracle="""
    SELECT CAST(2097316 AS BIGINT) AS node_id,
           TIMESTAMP '2025-12-25 05:00:00' AS start_time,
           TIMESTAMP '2025-12-26 05:00:00' AS end_time,
           CAST(1440 AS INT) AS duration, TRUE AS all_day_event
    """,
    tags=("pst-binary", "typed"),
)
def q_pstbin_appointment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Appointment times pinned to golden (read_unittest_pst.test:113-120);
    A7-projected scan."""
    return _pst(
        spark, "appointments",
        columns="node_id,start_time,end_time,duration,all_day_event",
    )


@query(
    "q_pstbin_dlist_members",
    oracle="""
    SELECT 'Cat Support Group' AS list_name, member_name, email_address FROM (VALUES
      ('Hopper Cat (hopper@intellekt.fyi)', 'hopper@intellekt.fyi'),
      ('Linus Cat (linus@intellekt.fyi)', 'linus@intellekt.fyi')
    ) t(member_name, email_address)
    """,
    tags=("pst-binary", "nested"),
)
def q_pstbin_dlist_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-list one-off members unnested, pinned to golden
    (read_unittest_pst.test:57-69); A7-projected scan."""
    d = _pst(spark, "distribution_lists", columns="display_name,one_off_members")
    e = d.select(F.col("display_name").alias("list_name"), F.explode("one_off_members").alias("m"))
    return e.select(
        "list_name",
        F.col("m.display_name").alias("member_name"),
        F.col("m.email_address").alias("email_address"),
    )


@query(
    "q_pstbin_task",
    oracle="""
    SELECT CAST(2097508 AS BIGINT) AS node_id,
           CAST(33122 AS BIGINT) AS parent_node_id,
           'IPM.Task' AS message_class,
           TIMESTAMP '2025-12-25 00:00:00' AS due_date
    """,
    tags=("pst-binary", "typed"),
)
def q_pstbin_task(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task due date pinned to golden (read_unittest_pst.test:104-111);
    A7-projected scan."""
    return _pst(
        spark, "tasks", columns="node_id,parent_node_id,message_class,due_date"
    )


@query(
    "q_pstbin_dlist_ids",
    oracle="""
    SELECT CAST(2097412 AS BIGINT) AS node_id,
           CAST(33026 AS BIGINT) AS parent_node_id,
           'Cat Support Group' AS display_name,
           CAST(pos AS INT) AS pos,
           CAST(member_node_id AS BIGINT) AS member_node_id
    FROM (VALUES (0, 2097412), (1, 2097380)) t(pos, member_node_id)
    """,
    tags=("pst-binary", "nested"),
)
def q_pstbin_dlist_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-list rows with decoded member node ids, one scalar row
    per member via posexplode (driver contract: no nested output columns),
    pinned to golden (read_unittest_pst.test:59-64; wrapped-EntryID nid
    extraction, reference row_serializer.cpp:1164-1204); A7-projected scan.
    The array form stays covered by tests/test_mspst_binary.py."""
    d = _pst(
        spark, "distribution_lists",
        columns="node_id,parent_node_id,display_name,member_node_ids",
    )
    return d.select(
        "node_id", "parent_node_id", "display_name",
        F.posexplode("member_node_ids").alias("pos", "member_node_id"),
    )


@query(
    "q_pstbin_counts",
    oracle="""
    SELECT tbl, CAST(n AS BIGINT) AS n FROM (VALUES
      ('folders', 16), ('messages', 12), ('notes', 5), ('contacts', 2),
      ('appointments', 1), ('sticky_notes', 2), ('tasks', 1),
      ('distribution_lists', 1)
    ) t(tbl, n)
    """,
    tags=("pst-binary", "agg"),
)
def q_pstbin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table row counts across all 8 table functions, pinned to the
    reference's own count assertions (read_unittest_pst.test:14-93).
    Each scan is A7-projected to node_id — a count never decodes a body."""
    parts = []
    for tbl in ("folders", "messages", "notes", "contacts", "appointments",
                "sticky_notes", "tasks", "distribution_lists"):
        parts.append(
            _pst(spark, tbl, columns="node_id")
            .select(F.lit(tbl).alias("tbl")).groupBy("tbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_pstbin_count_stats",
    oracle="""
    SELECT tbl, CAST(n AS BIGINT) AS n FROM (VALUES
      ('messages', 12), ('folders', 16), ('contacts', 2),
      ('sticky_notes', 2), ('distribution_lists', 1)
    ) t(tbl, n)
    """,
    tags=("pst-binary", "stats"),
)
def q_pstbin_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 stats-only count: every n comes from partition planning (NBT
    crawl + class probe), no message row parsed — the reference's
    PSTReadCardinality / COLUMN_DATA_SCAN rewrite
    (table_function.cpp:325-351, query_optimizations.test:13-17),
    pinned to the golden per-table counts."""
    from duckdb_pst_spark.sources.mspst.stats import pst_count

    rows = [
        (tbl, pst_count(spark, GOLDEN_PST, tbl))
        for tbl in ("messages", "folders", "contacts", "sticky_notes",
                    "distribution_lists")
    ]
    return spark.createDataFrame(rows, "tbl string, n bigint")


@query(
    "q_pstbin_body_truncate",
    oracle="""
    SELECT CAST(node_id AS BIGINT) AS node_id, CAST(html_chars AS BIGINT) AS html_chars
    FROM (VALUES (2097188, 50), (2097220, 50), (2097252, 50),
                 (2097284, 50), (2097316, 50), (2097540, 50)) t(node_id, html_chars)
    """,
    tags=("pst-binary", "params"),
)
def q_pstbin_body_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 byte math on the real parser: read_body_size_bytes=100 → 50
    UTF-16 chars, pinned to golden (table_function_parameters.test:19-28).
    A7-projected: only body_html is decoded (then truncated), nothing else."""
    m = _pst(spark, "messages", read_body_size_bytes=100, columns="node_id,body_html")
    return m.filter(F.col("body_html").isNotNull()).select(
        "node_id", F.length("body_html").cast("long").alias("html_chars")
    )


@query(
    "q_pstbin_read_limit",
    oracle="SELECT CAST(2 AS BIGINT) AS n",
    tags=("pst-binary", "params"),
)
def q_pstbin_read_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 on the real parser: read_limit=2 caps planned rows
    (table_function_parameters.test:13-17); A7-projected count scan."""
    m = _pst(spark, "messages", read_limit=2, columns="node_id")
    return m.agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_pstbin_attachment_gate",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS bytes_when_gated,
           CAST(1 AS BIGINT) AS bytes_when_read
    """,
    tags=("pst-binary", "params"),
)
def q_pstbin_attachment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 on the real parser: attachment bytes NULL unless
    read_attachment_body=true (table_function_parameters.test:30-40,
    MEDIUM~2.JPG probe; gating row_serializer.cpp:152-161)."""
    def probe(**kw):
        m = _pst(spark, "messages", **kw)
        # try_element_at: NULL on empty arrays, like DuckDB list_first
        a = m.select(F.try_element_at("attachments", F.lit(1)).alias("a"))
        return a.filter(
            (F.col("a.filename") == "MEDIUM~2.JPG") & F.col("a.bytes").isNotNull()
        ).agg(F.count(F.lit(1)))
    gated = probe().toDF("n").select(F.col("n").alias("bytes_when_gated"))
    read = probe(read_attachment_body=True).toDF("n").select(F.col("n").alias("bytes_when_read"))
    return gated.crossJoin(read)


@query(
    "q_pstbin_folder_tree",
    oracle="""
    SELECT display_name, CAST(node_id AS BIGINT) AS node_id,
           CAST(parent_node_id AS BIGINT) AS parent_node_id
    FROM (VALUES
      ('Top of Outlook data file', 32802, 290),
      ('Deleted Items', 32866, 32802),
      ('Calendar', 32994, 32802),
      ('Sent Items', 32962, 32802),
      ('Outbox', 32930, 32802),
      ('Inbox', 32898, 32802),
      ('Quick Step Settings', 33250, 32802),
      ('Conversation Action Settings', 33218, 32802),
      ('RSS Feeds', 33186, 32802),
      ('Drafts', 33154, 32802),
      ('Tasks', 33122, 32802),
      ('Notes', 33090, 32802),
      ('Journal', 33058, 32802),
      ('Contacts', 33026, 32802)
    ) t(display_name, node_id, parent_node_id)
    """,
    tags=("pst-binary", "recursive"),
)
def q_pstbin_folder_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's flagship recursive CTE — descendants of
    'Top of Outlook data file' (nid 32802, README.md:406-440) — run over
    the REAL binary folder table via the path-doubling treewalk, pinned
    to the README's published 14-row output."""
    from duckdb_pst_spark.operators.recursive import treewalk

    folders = _pst(spark, "folders")
    edges = folders.filter(F.col("node_id") != F.col("parent_node_id")).select(
        F.col("parent_node_id").cast("long").alias("parent"),
        F.col("node_id").cast("long").alias("child"),
    )
    frontier = spark.range(32802, 32803).select(F.col("id").alias("key"))
    keys = treewalk(frontier, edges, from_col="parent", to_col="child", dedup_level=False)
    return keys.join(
        F.broadcast(
            folders.select(
                "display_name", F.col("node_id").alias("key"), "parent_node_id"
            )
        ),
        "key",
    ).select("display_name", F.col("key").alias("node_id"), "parent_node_id")


@query(
    "q_pstbin_parent_tree",
    oracle="""
    SELECT display_name, CAST(node_id AS BIGINT) AS node_id,
           CAST(parent_node_id AS BIGINT) AS parent_node_id
    FROM (VALUES
      ('Journal', 33058, 32802),
      ('Top of Outlook data file', 32802, 290),
      ('', 290, 290)
    ) t(display_name, node_id, parent_node_id)
    """,
    tags=("pst-binary", "recursive"),
)
def q_pstbin_parent_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward traversal to the store root (README.md:448-469) on the
    real binary folder table. The root is its own parent (self-loop nid
    290) — the treewalk's dedup/stagnation rule terminates it, exactly
    like the reference's UNION dedup; output pinned to the README's
    3-row golden result."""
    from duckdb_pst_spark.operators.recursive import treewalk

    folders = _pst(spark, "folders")
    edges = folders.filter(F.col("node_id") != F.col("parent_node_id")).select(
        F.col("node_id").cast("long").alias("child"),
        F.col("parent_node_id").cast("long").alias("parent"),
    )
    frontier = spark.range(33058, 33059).select(F.col("id").alias("key"))
    keys = treewalk(frontier, edges, from_col="child", to_col="parent", dedup_level=False)
    return keys.join(
        F.broadcast(
            folders.select(
                "display_name", F.col("node_id").alias("key"), "parent_node_id"
            )
        ),
        "key",
    ).select("display_name", F.col("key").alias("node_id"), "parent_node_id")


@query(
    "q_stream_pst_ingest",
    oracle="""
    SELECT archive, message_class, CAST(n AS BIGINT) AS n FROM (VALUES
      ('a.pst', 'IPM.Appointment', 1),
      ('a.pst', 'IPM.Contact', 2),
      ('a.pst', 'IPM.DistList', 1),
      ('a.pst', 'IPM.Note', 5),
      ('a.pst', 'IPM.StickyNote', 2),
      ('a.pst', 'IPM.Task', 1),
      ('b.pst', 'IPM.Appointment', 1),
      ('b.pst', 'IPM.Contact', 2),
      ('b.pst', 'IPM.DistList', 1),
      ('b.pst', 'IPM.Note', 5),
      ('b.pst', 'IPM.StickyNote', 2),
      ('b.pst', 'IPM.Task', 1)
    ) t(archive, message_class, n)
    """,
    tags=("pst-binary", "streaming"),
)
def q_stream_pst_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PST ingest (``spark.readStream.format("pst")``) as a
    registered, oracle-checked query. Bounded replay of the
    continuous-mailbox deployment: archive ``a.pst`` lands, an
    AvailableNow run ingests it through the parquet file sink; ``b.pst``
    lands late and a SECOND run from the SAME checkpoint ingests exactly
    the new archive (file-log offsets over the scan planner —
    already-committed archives never re-emit). The finalized batch scan
    rolls up per-archive per-class message counts, pinned to the
    reference's golden unittest.pst inventory twice over (the
    reference's batch scan semantics,
    /root/reference/test/sql/read_unittest_pst.test, applied per
    arriving archive).

    Scale shape: each arrival set is one microbatch, planned in one call
    and read by the unchanged batch code path (byte-balanced partitions,
    projection pushdown); executors write the sink files, the driver holds no
    rows; checkpoint state is O(#archives seen), not O(rows)."""
    import os
    import shutil
    import uuid as _uuid

    from duckdb_pst_spark.sources.mspst.datasource import register
    from duckdb_pst_spark.streaming.finalize import _CACHE_DIR, _prune_stale

    register(spark)
    _prune_stale()
    run = f"pst_ingest_{_uuid.uuid4().hex[:8]}"
    land = str(_CACHE_DIR / f"{run}_land")
    out = str(_CACHE_DIR / f"{run}_out")
    ck = str(_CACHE_DIR / f"{run}_ck")
    os.makedirs(land, exist_ok=True)

    def run_once() -> None:
        q = (
            spark.readStream.format("pst")
            .option("table", "messages")
            .load(os.path.join(land, "*.pst"))
            .select(
                F.element_at(F.split(F.col("pst_path"), "/"), -1).alias("archive"),
                "message_class",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        shutil.copy(GOLDEN_PST, os.path.join(land, "a.pst"))
        run_once()
        shutil.copy(GOLDEN_PST, os.path.join(land, "b.pst"))  # late arrival
        run_once()
    finally:
        # _prune_stale only matches *_out/*_ck names, so the landing dir
        # must not survive a failed run
        shutil.rmtree(land, ignore_errors=True)
    return (
        spark.read.schema("archive string, message_class string").parquet(out)
        .groupBy("archive", "message_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
