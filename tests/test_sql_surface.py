"""SQL-surface parity: the reference's own README/test SQL, run through
spark.sql against the registered views and UDTFs on the golden PST —
``GOLDEN_PST`` (sources/mspst/queries.py): the reference's
test/unittest.pst where its checkout is present, else the committed
duckdb_pst_spark/sources/mspst/golden/unittest.pst."""

from __future__ import annotations

import pytest

from duckdb_pst_spark.sources.mspst.queries import GOLDEN_PST as PST
from duckdb_pst_spark.sql import register_pst_udtfs, register_pst_views


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_pst_views(spark, PST)
    register_pst_udtfs(spark)


def test_views_class_histogram(spark):
    """README.md:25-37 flagship over the distributed view."""
    rows = spark.sql(
        "SELECT message_class, count(*) AS c FROM pst_messages "
        "GROUP BY message_class ORDER BY c DESC, message_class"
    ).collect()
    assert [(r.message_class, r.c) for r in rows] == [
        ("IPM.Note", 5),
        ("IPM.Contact", 2),
        ("IPM.StickyNote", 2),
        ("IPM.Appointment", 1),
        ("IPM.DistList", 1),
        ("IPM.Task", 1),
    ]


def test_views_folder_count(spark):
    assert spark.sql("SELECT count(*) AS n FROM pst_folders").first().n == 16


def test_udtf_reference_sql_verbatim(spark):
    """The reference's README query shape runs as-is
    (README.md:39-56: read_limit as a scan parameter)."""
    n = spark.sql(
        f"SELECT count(*) AS n FROM (SELECT * FROM read_pst_messages('{PST}', 5))"
    ).first().n
    assert n == 5


def test_udtf_typed_function_and_params(spark):
    """Typed function + body truncation byte math through SQL
    (table_function_parameters.test:19-28)."""
    rows = spark.sql(
        f"""
        SELECT node_id, length(body_html) AS chars
        FROM read_pst_messages('{PST}', NULL, 100)
        WHERE body_html IS NOT NULL ORDER BY node_id
        """
    ).collect()
    assert [r.chars for r in rows] == [50] * 6

    tasks = spark.sql(f"SELECT due_date FROM read_pst_tasks('{PST}')").collect()
    assert len(tasks) == 1 and tasks[0].due_date is not None


def test_udtf_folders(spark):
    assert spark.sql(f"SELECT * FROM read_pst_folders('{PST}')").count() == 16
