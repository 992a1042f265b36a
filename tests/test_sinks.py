"""Write-path tests: round-trip fidelity, partition pruning on the
exported layout, and the shuffle-free bucketed join."""

from __future__ import annotations

import os

import pstgen
import pytest
from pyspark.sql import functions as F

from duckdb_pst_spark import sinks
from duckdb_pst_spark.plans import introspect as pi
from duckdb_pst_spark.tables import table


def test_export_roundtrip(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "nation")
    dest = str(tmp_path / "nation_out")
    sinks.export_parquet(src, dest)
    back = spark.read.parquet(dest)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_ingest_pst_archive_partitions_by_class(spark, tmp_path):
    """The ingest lands what a format("pst") scan of the archives reads:
    per-class message counts, every typed table, nested recipients."""
    archive = pstgen.write_archive(str(tmp_path / "mail.pst"), {
        "name": "Ingest", "seed": 7, "shape_seed": "ingest", "n_messages": 40,
        "attach_p": 0.3, "body_median": 300, "body_sigma": 0.8, "body_cap": 4000,
        "attach_median": 1000, "max_recipients": 3,
    })
    path_glob = str(tmp_path / "*.pst")
    out = sinks.ingest_pst_archive(spark, str(tmp_path / "lake"), path_glob=path_glob)
    assert set(out) == {
        "read_pst_folders",
        "read_pst_messages",
        "read_pst_contacts",
        "read_pst_appointments",
        "read_pst_sticky_notes",
        "read_pst_tasks",
        "read_pst_distribution_lists",
    }

    def scan(table):
        return spark.read.format("pst").option("table", table).load(path_glob)

    def per_class(df):
        rows = df.groupBy("message_class").count().collect()
        return {r["message_class"]: r["count"] for r in rows}

    # one directory per class, and the data round-trips (nested
    # recipients included)
    mdir = out["read_pst_messages"]
    subdirs = {d for d in os.listdir(mdir) if d.startswith("message_class=")}
    assert subdirs == {f"message_class={c}" for c in archive["class_counts"]}
    back = spark.read.parquet(mdir)
    assert per_class(back) == per_class(scan("messages")) == archive["class_counts"]
    a = back.select("node_id", F.explode("recipients").alias("r")).count()
    b = scan("messages").select("node_id", F.explode("recipients").alias("r")).count()
    assert a == b == archive["recipients"]
    for name, dest in out.items():
        table_name = name.removeprefix("read_pst_")
        assert spark.read.parquet(dest).count() == scan(table_name).count() > 0, name


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → SortMergeJoin with zero
    exchanges: the co-located join a 100 TB lake relies on."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir", None)
        cust = table(spark, sf_dir, "customer")
        orders = table(spark, sf_dir, "orders")
        sinks.save_bucketed_table(
            cust, "b_customer", bucket_by=["c_custkey"], n_buckets=8, sort_by=["c_custkey"]
        )
        sinks.save_bucketed_table(
            orders, "b_orders", bucket_by=["o_custkey"], n_buckets=8, sort_by=["o_custkey"]
        )
        j = (
            spark.table("b_customer")
            .join(
                spark.table("b_orders"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .select("c_custkey", "o_orderkey")
        )
        assert pi.shuffle_count(j) == 0, pi.executed_plan(j)
        assert j.count() == orders.count()  # every order has its customer
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_range_sorted_export_yields_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """export_range_sorted clusters by key: every output file owns a
    disjoint l_orderkey range (parquet footer min/max proves it), which
    is what lets footer-stats readers skip whole files on a key
    predicate. A plain export gives overlapping ranges and zero
    skipping."""
    import pyarrow.parquet as pq

    src = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    dest = str(tmp_path / "li_ranged")
    sinks.export_range_sorted(src, dest, range_by=["l_orderkey"], n_files=8)

    ranges = []
    for f in sorted(os.listdir(dest)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(dest, f)).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "l_orderkey"
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    assert len(ranges) >= 4  # range partitioner actually split the key space
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, (ranges, "file key ranges overlap")

    # round-trip: nothing lost in the re-layout
    assert spark.read.parquet(dest).count() == src.count()


def test_compact_parquet_collapses_small_files(spark, sf_dir, tmp_path):
    """compact_parquet rewrites a fragmented directory into right-sized
    files (here: 16 shards of lineitem -> 1 file at the default target)
    without losing rows."""
    frag = str(tmp_path / "fragmented")
    src = table(spark, sf_dir, "lineitem")
    src.repartition(16).write.parquet(frag)
    n_small = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_small == 16

    dest = str(tmp_path / "compacted")
    n_files = sinks.compact_parquet(spark, frag, dest)
    assert n_files == 1
    written = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert len(written) == 1
    assert spark.read.parquet(dest).count() == src.count()


def test_zorder_export_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """export_zorder bounds BOTH key ranges per file: for a selective
    box filter on (o_custkey, o_orderkey), footer min/max stats skip
    most files on EITHER dimension — a single-key sort only prunes one.
    Measured: the fraction of files whose [min,max] intersects a small
    box must be well under 1 for both columns."""
    import pyarrow.parquet as pq

    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dest = str(tmp_path / "orders_z")
    sinks.export_zorder(src, dest, "o_custkey", "o_orderkey", max_records_per_file=500)

    files = [f for f in sorted(os.listdir(dest)) if f.endswith(".parquet")]
    assert len(files) >= 8
    spans = []
    for f in files:
        md = pq.ParquetFile(os.path.join(dest, f)).metadata
        stats = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                lo, hi = col.statistics.min, col.statistics.max
                cur = stats.get(name)
                stats[name] = (
                    (lo, hi) if cur is None else (min(cur[0], lo), max(cur[1], hi))
                )
        spans.append(stats)

    n_cust = sum(1 for s in spans if not (s["o_custkey"][1] < 0 or s["o_custkey"][0] > 50))
    n_ord = sum(1 for s in spans if not (s["o_orderkey"][1] < 0 or s["o_orderkey"][0] > 500))
    # a point/box query on either dim touches a minority of files
    assert n_cust <= len(files) // 2, (n_cust, len(files))
    assert n_ord <= len(files) // 2, (n_ord, len(files))
    assert spark.read.parquet(dest).count() == src.count()


def test_jsonl_corrupt_accounting(spark):
    """JSONL ingest tolerates malformed lines: exactly the fixture's
    corrupt lines land in _corrupt_record (cached first — Spark
    disallows corrupt-record-only queries on the raw scan), valid rows
    parse completely, and nothing is dropped silently."""
    from duckdb_pst_spark.sources.jsonl import (
        N_CORRUPT,
        N_VALID,
        fixture_path,
        read_jsonl,
    )

    d = read_jsonl(spark, fixture_path()).cache()
    try:
        assert d.filter("_corrupt_record IS NOT NULL").count() == N_CORRUPT
        good = d.filter("_corrupt_record IS NULL")
        assert good.count() == N_VALID
        assert good.filter("doc_id IS NULL OR text IS NULL OR lang IS NULL").count() == 0
    finally:
        d.unpersist()


def test_export_bucketed_digest_invalidates_on_source_change(spark, sf_dir, tmp_path):
    """The layout is keyed on (path, mtime, size) of its sources: the
    same source reuses the catalog tables; a REGENERATED source (same
    path, new mtime) must get a fresh layout — a stale co-location over
    new data would be silently wrong."""
    import os
    import shutil

    from duckdb_pst_spark.sinks import export_bucketed

    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in ("orders", "lineitem"):
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"),
                        os.path.join(d, f"{t}.parquet"))
    names1 = export_bucketed(spark, d, n_buckets=4)
    names2 = export_bucketed(spark, d, n_buckets=4)
    assert names1 == names2  # identical source -> reuse
    # regenerate: same bytes, new mtime
    os.utime(os.path.join(d, "orders.parquet"))
    names3 = export_bucketed(spark, d, n_buckets=4)
    assert names3 != names1  # fresh layout for fresh data
    # GC (round-9 advisor): the superseded layout for the SAME source
    # path must be dropped — catalog entry and warehouse directory —
    # instead of accumulating unboundedly across regenerations.
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for n in names1.values():
        assert not spark.catalog.tableExists(n), f"stale catalog entry {n}"
        assert not os.path.exists(os.path.join(wh, n)), f"stale dir {n}"
    for n in names3.values():
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_csv_corrupt_accounting(spark):
    """CSV ingest twin of the JSONL accounting test: the fixture emits
    EXACTLY the documented three corrupt lines (bad-typed id, extra
    column, missing column — the round-9 advisor caught the generator
    emitting the bad-typed line twice), they all land in
    _corrupt_record, and the valid set parses completely."""
    from duckdb_pst_spark.sources.csvio import (
        N_CORRUPT,
        N_VALID,
        fixture_path,
        read_csv,
    )

    d = read_csv(spark, fixture_path()).cache()
    try:
        assert d.filter("_corrupt_record IS NOT NULL").count() == N_CORRUPT
        good = d.filter("_corrupt_record IS NULL AND doc_id < 9000")
        assert good.count() == N_VALID
        assert good.filter("doc_id IS NULL OR text IS NULL OR lang IS NULL").count() == 0
    finally:
        d.unpersist()
