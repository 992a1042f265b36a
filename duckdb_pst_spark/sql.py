"""SQL-facing surface: the reference's 8 table functions, callable from
``spark.sql``.

The reference's user API is SQL —
``SELECT * FROM read_pst_messages('enron/*.pst', read_limit=5)``
(/root/reference/README.md:39-56, functions registered in
src/pst_extension.cpp:13-45). Two Spark equivalents are provided:

1. ``register_pst_views(spark, path)`` — one temp view per table over the
   distributed ``format("pst")`` DataSource. This is the scale path: the
   view inherits the source's partition planning (byte-balanced runs of
   message nodes, one per core), so
   ``spark.sql("SELECT ... FROM pst_messages")`` parallelizes like any
   table.
2. ``register_pst_udtfs(spark)`` — Python UDTFs named exactly like the
   reference's functions, so the reference's own SQL runs verbatim with
   positional scan parameters:
   ``SELECT * FROM read_pst_messages('x.pst', 5)`` (path, read_limit,
   read_body_size_bytes, read_attachment_body). A UDTF call runs the
   ``format("pst")`` reader's plan and reads in one task, so both paths
   return the same rows — the SQL-parity convenience path, not the
   100 TB path; use the DataSource/views for scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from duckdb_pst_spark.sources.mspst.datasource import PstDataSource, table_schema

TABLES = (
    "folders",
    "messages",
    "notes",
    "contacts",
    "appointments",
    "sticky_notes",
    "tasks",
    "distribution_lists",
)

# reference name (table_function.hpp:68-76) → DataSource table option
FUNCTION_TABLE = {f"read_pst_{t}": t for t in TABLES}


def register_pst_views(spark: SparkSession, path: str, prefix: str = "pst_") -> None:
    """One temp view per table function over ``format("pst")``:
    ``pst_folders``, ``pst_messages``, … — distributed scans."""
    from duckdb_pst_spark.sources.mspst.datasource import register

    register(spark)
    for t in TABLES:
        spark.read.format("pst").option("table", t).load(path).createOrReplaceTempView(
            f"{prefix}{t}"
        )


def _scan_rows(table, path, read_limit, read_body_size_bytes, read_attachment_body):
    """UDTF scan body: every partition of the ``format("pst")`` plan for
    these options, read in order in the calling process."""
    opts = {
        "path": path,
        "table": table,
        "read_body_size_bytes": str(read_body_size_bytes),
        "read_attachment_body": str(bool(read_attachment_body)).lower(),
    }
    if read_limit is not None:
        opts["read_limit"] = str(read_limit)
    ds = PstDataSource(opts)
    reader = ds.reader(ds.schema())
    for p in reader.partitions():
        yield from reader.read(p)


def register_pst_udtfs(spark: SparkSession) -> None:
    """Register the 8 ``read_pst_*`` table functions for SQL use with the
    reference's scan parameters as positional arguments."""
    from pyspark.sql.functions import udtf

    for func_name, table in FUNCTION_TABLE.items():

        def make(table=table):
            class _PstScan:
                def eval(
                    self,
                    path: str,
                    read_limit: int = None,  # noqa: RUF013 — SQL NULL default
                    read_body_size_bytes: int = 1_000_000,
                    read_attachment_body: bool = False,
                ):
                    yield from _scan_rows(
                        table, path, read_limit, read_body_size_bytes,
                        read_attachment_body,
                    )

            return _PstScan

        spark.udtf.register(func_name, udtf(make(), returnType=table_schema(table)))
