"""PySpark Python DataSource for binary PST files:
``spark.read.format("pst").option("table", "messages").load(glob)``.

Maps the reference's scan architecture onto the DataSource API
(/root/reference/src/table_function.cpp):

- glob expansion at plan time (A1, table_function.cpp:48-61)
- byte-balanced scan partitions (A3/A4): the driver crawls every file's
  NBT, lays the message nodes out in (file, nid) order and cuts that
  list into contiguous runs of near-equal estimated bytes, one run per
  core, or more when ``partition_size`` (a per-task row cap, as in the
  reference) calls for it. A partition is a tuple of (file, nids)
  entries, so one task may finish one archive and start the next; a
  big archive splits across tasks and small ones share a task
  (``PstReader.plan``)
- per-entry ``PstArchive`` instance — the non-thread-safe-handle rule
  (A10, function_state.cpp:59-71)
- named scan parameters (A21): ``read_body_size_bytes``,
  ``read_attachment_body``, ``read_limit``
- class filter applied at read, or per node at plan time under
  ``read_limit`` so the limit counts only matching rows (A5); Catalyst
  prunes columns on top (A7)

Why one task per core: every Python task costs its worker about
0.15-0.2 CPU-s before it reads a byte (pyspark invalidates the import
caches per task, and every zipimporter re-reads pyspark.zip), and each
task of a partitioned landing opens its own parquet writer per output
directory. Measured on a 4-vCPU VM, a 13-task scan that decodes nothing
costs 4.6-5.1 CPU-s against 0.8-1.1 CPU-s for one task. Planning by
file count also let one 4096-row task carry 238 of a corpus's 385 MiB,
so the whole job waited on it; equal bytes per task end the wave
together.
"""

from __future__ import annotations

import bisect
import itertools
import math
import operator
import os
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ShortType,
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

_META = [
    StructField("pst_path", StringType()),
    StructField("pst_name", StringType()),
    StructField("record_key", BinaryType()),
    StructField("node_id", LongType()),
    StructField("parent_node_id", LongType()),
]

FOLDER_SCHEMA = StructType(
    _META
    + [
        StructField("container_class", StringType()),
        StructField("display_name", StringType()),
        StructField("subfolder_count", LongType()),
        StructField("message_count", LongType()),
        StructField("unread_message_count", LongType()),
    ]
)

_RECIPIENT = StructType(
    [
        StructField("display_name", StringType()),
        StructField("account_name", StringType()),
        StructField("email_address", StringType()),
        StructField("address_type", StringType()),
        StructField("recipient_type", StringType()),
        StructField("recipient_type_raw", IntegerType()),
    ]
)
_ATTACHMENT = StructType(
    [
        StructField("filename", StringType()),
        StructField("mime_type", StringType()),
        StructField("size", LongType()),
        StructField("attach_content_id", StringType()),
        StructField("attach_method", StringType()),
        StructField("is_message", BooleanType()),
        StructField("bytes", BinaryType()),
    ]
)

MESSAGE_SCHEMA = StructType(
    _META
    + [
        StructField("subject", StringType()),
        StructField("body", StringType()),
        StructField("body_html", StringType()),
        StructField("display_name", StringType()),
        StructField("comment", StringType()),
        StructField("sender_name", StringType()),
        StructField("sender_email_address", StringType()),
        StructField("recipients", ArrayType(_RECIPIENT)),
        StructField("has_attachments", BooleanType()),
        StructField("attachment_count", LongType()),
        StructField("attachments", ArrayType(_ATTACHMENT)),
        StructField("importance", StringType()),
        StructField("priority", StringType()),
        StructField("sensitivity", StringType()),
        StructField("creation_time", TimestampNTZType()),
        StructField("last_modified", TimestampNTZType()),
        StructField("message_delivery_time", TimestampNTZType()),
        StructField("message_class", StringType()),
        StructField("message_flags", IntegerType()),
        StructField("message_size", LongType()),
        StructField("conversation_topic", StringType()),
        StructField("internet_message_id", StringType()),
    ]
)

# subtype blocks appended to MESSAGE_SCHEMA — the reference's
# schema-inheritance-by-concatenation (schema.hpp:254-260)
# contact block: the reference's 78 columns in schema.hpp:175-260 order,
# plus email_address_1 (an extension — resolved from the named prop
# PidLidEmail1EmailAddress, which the reference schema does not expose)
_CONTACT_STR_COLS_1 = [
    "display_name_prefix", "given_name", "middle_name", "surname",
    "generation_suffix", "initials", "nickname", "preferred_by_name",
    "account_name", "original_display_name", "transmittable_display_name",
    "mhs_common_name", "government_id_number", "organizational_id_number",
]
_CONTACT_STR_COLS_2 = [
    "spouse_name", "childrens_names",
]
_CONTACT_STR_COLS_3 = [
    "hobbies", "profession", "language", "location", "keyword",
    "company_name", "title", "department_name", "office_location",
    "manager_name", "assistant", "customer_id", "primary_telephone",
    "business_telephone", "business_telephone_2", "home_telephone",
    "home_telephone_2", "mobile_telephone", "car_telephone",
    "radio_telephone", "pager_telephone", "callback_number",
    "other_telephone", "assistant_telephone", "company_main_phone",
    "ttytdd_phone", "isdn_number", "telex_number", "primary_fax",
    "business_fax", "home_fax",
    "business_address_street", "business_address_city",
    "business_address_state", "business_postal_code",
    "business_address_country", "business_po_box",
    "home_address_street", "home_address_city", "home_address_state",
    "home_address_postal_code", "home_address_country", "home_address_po_box",
    "other_address_street", "other_address_city", "other_address_state",
    "other_address_postal_code", "other_address_country", "other_address_po_box",
    "postal_address", "personal_home_page", "business_home_page",
    "ftp_site", "computer_network_name",
]
_CONTACT_BOOL_COLS = [
    "mail_permission", "send_rich_info", "conversation_prohibited",
    "disclose_recipients",
]

_EXTRAS = {
    "contacts": (
        [StructField(c, StringType()) for c in _CONTACT_STR_COLS_1]
        + [
            StructField("birthday", TimestampNTZType()),
            StructField("wedding_anniversary", TimestampNTZType()),
        ]
        + [StructField(c, StringType()) for c in _CONTACT_STR_COLS_2]
        + [StructField("gender", ShortType())]
        + [StructField(c, StringType()) for c in _CONTACT_STR_COLS_3]
        + [StructField(c, BooleanType()) for c in _CONTACT_BOOL_COLS]
        + [StructField("email_address_1", StringType())]
    ),
    # APPOINTMENT_CHILDREN order (schema.hpp:263-278)
    "appointments": [
        StructField("location", StringType()),
        StructField("start_time", TimestampNTZType()),
        StructField("end_time", TimestampNTZType()),
        StructField("duration", IntegerType()),
        StructField("all_day_event", BooleanType()),
        StructField("is_meeting", BooleanType()),
        StructField("organizer_name", StringType()),
        StructField("required_attendees", StringType()),
        StructField("optional_attendees", StringType()),
        StructField("meeting_workspace_url", StringType()),
        StructField("busy_status", IntegerType()),
        StructField("response_status", IntegerType()),
        StructField("is_recurring", BooleanType()),
        StructField("recurrence_pattern", StringType()),
        StructField("is_private", BooleanType()),
    ],
    "sticky_notes": [
        StructField("note_color", IntegerType()),
        StructField("note_width", IntegerType()),
        StructField("note_height", IntegerType()),
        StructField("note_x", IntegerType()),
        StructField("note_y", IntegerType()),
    ],
    # TASK_CHILDREN order (schema.hpp:307-330)
    "tasks": [
        StructField("task_status", IntegerType()),
        StructField("is_complete", BooleanType()),
        StructField("percent_complete", DoubleType()),
        StructField("start_date", TimestampNTZType()),
        StructField("due_date", TimestampNTZType()),
        StructField("date_completed", TimestampNTZType()),
        StructField("last_update", TimestampNTZType()),
        StructField("estimated_effort", IntegerType()),
        StructField("actual_effort", IntegerType()),
        StructField("task_owner", StringType()),
        StructField("task_assigner", StringType()),
        StructField("ownership", IntegerType()),
        StructField("last_user", StringType()),
        StructField("is_team_task", BooleanType()),
        StructField("is_recurring", BooleanType()),
    ],
    "distribution_lists": [
        StructField("member_node_ids", ArrayType(LongType())),
        StructField(
            "one_off_members",
            ArrayType(
                StructType(
                    [
                        StructField("display_name", StringType()),
                        StructField("address_type", StringType()),
                        StructField("email_address", StringType()),
                    ]
                )
            ),
        ),
    ],
}


def table_schema(table: str) -> StructType:
    if table == "folders":
        return FOLDER_SCHEMA
    return StructType(MESSAGE_SCHEMA.fields + _EXTRAS.get(table, []))


def balanced_cuts(weights: list[float], parts: int, cap: int | None = None) -> list[int]:
    """Boundaries ``0 = c0 < c1 < ... < c_parts = len(weights)`` cutting
    the weights into ``parts`` contiguous, non-empty runs of near-equal
    sum, none longer than ``cap`` items (the caller keeps ``parts <=
    len(weights) <= parts * cap``). Each cut lands where the running sum
    is nearest an equal share of the weight not yet planned, then is
    clamped so that every later run can stay non-empty and within the
    cap."""
    n = len(weights)
    cum = list(itertools.accumulate(weights, initial=0.0))
    cuts = [0]
    for left in range(parts, 1, -1):  # runs still to cut, this one included
        s = cuts[-1]
        target = cum[s] + (cum[n] - cum[s]) / left
        e = bisect.bisect_left(cum, target, s + 1, n)
        if e > s + 1 and target - cum[e - 1] <= cum[e] - target:
            e -= 1
        lo, hi = s + 1, n - (left - 1)
        if cap is not None:
            lo, hi = max(lo, n - (left - 1) * cap), min(hi, s + cap)
        cuts.append(min(max(e, lo), hi))
    cuts.append(n)
    return cuts


CLASS_FILTER = {
    "notes": "IPM.Note",
    "contacts": "IPM.Contact",
    "appointments": "IPM.Appointment",
    "sticky_notes": "IPM.StickyNote",
    "tasks": "IPM.Task",
    "distribution_lists": "IPM.DistList",
}


class PstDataSource(DataSource):
    """format("pst") — options: table (folders|messages|notes|contacts|
    appointments|sticky_notes|tasks|distribution_lists),
    read_body_size_bytes, read_attachment_body, read_limit, columns.

    ``columns`` (comma-separated) is the A7 projection pushdown: the
    Python DataSource API has no column-pruning hook (Catalyst prunes
    ABOVE the Python reader), so without it the reader would decode
    every schema column and hand Catalyst data it throws away. With
    ``columns``, the scan schema is the requested subset and the binary
    reader never fetches unprojected bodies/recipients/attachments from
    the file — the reference's behavior (row_serializer.cpp:1214-1216
    serializes only projected columns)."""

    @classmethod
    def name(cls) -> str:
        return "pst"

    def schema(self):
        full = table_schema(self.options.get("table", "messages"))
        cols = self.options.get("columns")
        if not cols:
            return full
        want = [c.strip() for c in cols.split(",") if c.strip()]
        by_name = {f.name: f for f in full.fields}
        unknown = [c for c in want if c not in by_name]
        if unknown:
            raise ValueError(
                f"pst: unknown columns {unknown} for table "
                f"{self.options.get('table', 'messages')!r}"
            )
        return StructType([by_name[c] for c in want])

    def reader(self, schema: StructType) -> "PstReader":
        return PstReader(self.options, schema)

    def streamReader(self, schema: StructType) -> "PstStreamReader":
        return PstStreamReader(self.options, schema)


class PstReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        self.table = options.get("table", "messages")
        self.read_body_size_bytes = int(options.get("read_body_size_bytes", 1_000_000))
        self.read_attachment_body = str(
            options.get("read_attachment_body", "false")
        ).lower() in ("true", "1")
        self.read_limit = options.get("read_limit")
        # rows per scan partition — reference default 2*2048
        # (table_function.hpp:29-30)
        self.options_partition_size = options.get("partition_size", "4096")
        self.schema = schema
        self.fields = [f.name for f in schema.fields]
        # A7: with a `columns` projection the schema IS the subset —
        # thread it into the row decode so unprojected columns are never
        # fetched from the file. None = full-schema scan, decode all.
        self.columns = frozenset(self.fields) if options.get("columns") else None

    def partitions(self):
        """Bind-time planning (A3/A4, table_function.cpp:191-239) over
        the expanded glob: see ``plan``. Paths may be local globs or
        remote URLs — http(s) range reads / pyarrow filesystems (A2,
        duckdb_filesystem.cpp:12-36). A missing literal local path
        raises ``FileNotFoundError``; an unmatched glob plans nothing."""
        from duckdb_pst_spark.sources.mspst.fsio import expand_batch_paths

        return self.plan(expand_batch_paths(self.path) if self.path else [])

    def plan(self, files: list[str]) -> list[InputPartition]:
        """Byte-balanced scan partitions over an explicit file list.

        The driver crawls each file's NBT and lays the message nodes out
        in (file, nid) order, as the reference does before bucketing
        them. That list is cut into ``max(ceil(rows / partition_size),
        min(cores, files))`` contiguous runs of near-equal estimated
        bytes, where a run's estimate is its file's size times the run's
        share of that file's messages. A run never holds more than
        ``partition_size`` rows, so the option keeps the reference's
        meaning as a row cap (default 4096, table_function.hpp:29-30).
        A partition is a tuple of (file, nids) entries: a run may start
        in one archive and end in another, big archives split across
        tasks, small ones share a task. The folders table has a dozen-odd
        rows per file and is never split within a file: each file is one
        unit weighted by its size. With ``read_limit`` the plan holds
        exactly the first ``read_limit`` rows (``_crawl``): folder
        entries then carry their folder nids, and typed tables count only
        nodes of their class. An unreadable file is logged and skipped
        (A18, table_function.cpp:228-235).

        Why one task per core rather than one per file or per bucket:
        each Python task costs its worker about 0.15-0.2 CPU-s before it
        reads a byte, so a 13-task plan of a 12-archive corpus paid 4-5
        CPU-s of task overhead where one task pays about 1 (4-vCPU VM,
        module docstring); equal estimated bytes per task end the last
        wave together instead of waiting on one archive's 4096-row task."""
        psize = int(self.options_partition_size)
        limit = int(self.read_limit) if self.read_limit is not None else None
        crawled = self._crawl(files, limit)
        folders = self.table == "folders"
        if folders:
            units = [(f, None if limit is None else nids) for f, _size, nids in crawled]
            weights = [size for _f, size, _nids in crawled]
            rows = sum(len(nids) for _f, _size, nids in crawled)
        else:
            units, weights = [], []
            for f, size, nids in crawled:
                if nids:
                    units.extend((f, nid) for nid in nids)
                    weights.extend([size / len(nids)] * len(nids))
            rows = len(units)
        if not units:
            return [InputPartition(((None, None),))]  # nothing to read
        cores = len(os.sched_getaffinity(0))
        n_parts = min(len(units), max(math.ceil(rows / psize), min(cores, len(crawled))))
        cuts = balanced_cuts(weights, n_parts, None if folders else psize)
        runs = [units[a:b] for a, b in zip(cuts, cuts[1:])]
        if folders:
            return [InputPartition(tuple(run)) for run in runs]
        return [
            InputPartition(tuple(
                (f, [nid for _f, nid in entry])
                for f, entry in itertools.groupby(run, key=operator.itemgetter(0))
            ))
            for run in runs
        ]

    def _crawl(self, files: list[str], limit: int | None) -> list[tuple]:
        """(file, file bytes, planned nids) per readable file, in file
        order. The nids are the file's message nodes in nid order, or its
        reachable folders root first for the folders table. Under
        ``read_limit`` a typed table keeps only nodes of its class,
        probed per node (A5), and the crawl stops once ``read_limit``
        nodes are planned (A6), so the plan holds exactly the rows the
        scan returns."""
        from duckdb_pst_spark.sources.mspst.messaging import class_nids, folder_nids
        from duckdb_pst_spark.sources.mspst.ndb import (
            NID_TYPE_NORMAL_MESSAGE,
            PstFile,
            nid_type,
        )

        want = CLASS_FILTER.get(self.table)

        def crawl_one(f, keep=None):
            try:
                with PstFile(f) as p:
                    if self.table == "folders":
                        nids = folder_nids(p)
                    else:
                        nids = sorted(n for n in p.nbt if nid_type(n) == NID_TYPE_NORMAL_MESSAGE)
                        if keep is not None and want is not None:
                            nids = class_nids(p, nids, want)
                    return (f, p.ib_file_eof, list(itertools.islice(nids, keep)))
            except Exception as exc:
                print(f"pst: skipping unreadable file {f}: {exc}", file=sys.stderr)
                return None

        if limit is None and len(files) > 1:
            # A3 parallel planning (one std::async task per file,
            # table_function.cpp:214-239): the crawl is a handful of
            # ranged reads per file, so on object storage it is
            # IO-latency-bound — a thread pool overlaps the latencies.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(32, len(files))) as ex:
                return [r for r in ex.map(crawl_one, files) if r is not None]
        # A6: read_limit stops the crawl as soon as enough nodes are
        # planned — serial keeps the early stop exact.
        out, seen = [], 0
        for f in files:
            r = crawl_one(f, None if limit is None else limit - seen)
            if r is None:
                continue
            out.append(r)
            seen += len(r[2])
            if limit is not None and seen >= limit:
                break
        return out

    def read(self, partition):
        # One task reads its run of (file, nids) entries in order; each
        # entry gets its own archive handle (A10, never shared).
        for entry in partition.value:
            yield from self._read_entry(entry)

    def _read_entry(self, entry):
        path, nids = entry
        if path is None:
            return
        from duckdb_pst_spark.sources.mspst.messaging import PstArchive

        try:
            a = PstArchive(path)  # per-task handle (A10)
        except Exception as exc:
            # A18: a file that passed planning but fails to open at task
            # time (racing truncation, transient IO) is logged and skipped.
            print(f"pst: skipping unreadable file {path}: {exc}", file=sys.stderr)
            return
        try:
            meta = {
                "pst_path": path,
                "pst_name": a.display_name,
                "record_key": a.record_key,
            }
            if self.table == "folders":
                rows = a.folders() if nids is None else map(a.folder_row, nids)
            else:
                rows = []
                for nid in nids:
                    # A18 error tolerance (row_serializer.cpp:1252-1263):
                    # a node that fails to parse is logged and skipped;
                    # the scan keeps going (PERMISSIVE-reader semantics).
                    try:
                        rows.append(
                            a.message_row(
                                nid,
                                read_body_size_bytes=self.read_body_size_bytes,
                                read_attachment_body=self.read_attachment_body,
                                columns=self.columns,
                            )
                        )
                    except Exception as exc:
                        print(
                            f"pst: skipping unparseable node {nid} in {path}: {exc}",
                            file=sys.stderr,
                        )
            want = CLASS_FILTER.get(self.table)
            for r in rows:
                if want is not None and not (r.get("message_class") or "").startswith(want):
                    continue  # A5 class filter
                full = {**meta, **r}
                yield tuple(_tupleize(full.get(f)) for f in self.fields)
        finally:
            a.close()


class PstStreamReader(DataSourceStreamReader):
    """Streaming PST ingest: ``spark.readStream.format("pst")`` watches a
    glob and emits the newly arrived archives' rows as a microbatch.

    The reference is batch-only; this is the Spark-native extension of
    its scan layer to continuous archive ingest (mailbox exports landing
    in object storage). Offsets are the sorted set of files already
    ingested — the same compacted-file-log design as Spark's own
    FileStreamSource — so recovery from a checkpoint replans exactly the
    unseen files. Each microbatch runs the batch planner once over all
    of its new files (byte-balanced runs, A3/A4; error tolerance A18),
    so a microbatch of many small archives runs in at most
    ``min(cores, files)`` tasks, and the unchanged batch reader per
    task: one code path for batch and stream.

    ``read_limit`` is a bind-time cap in the reference (A6) and is not
    meaningful under continuous ingest; it applies per microbatch here.
    """

    def __init__(self, options, schema: StructType):
        self._batch = PstReader(options, schema)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        from duckdb_pst_spark.sources.mspst.fsio import expand_paths

        files = expand_paths(self._batch.path) if self._batch.path else []
        return {"seen": sorted(files)}

    def partitions(self, start: dict, end: dict):
        return self._batch.plan(sorted(set(end["seen"]) - set(start["seen"])))

    def read(self, partition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — offsets are self-contained


def _tupleize(v):
    if isinstance(v, list):
        return [_tupleize(x) for x in v]
    if isinstance(v, dict):
        return tuple(_tupleize(x) for x in v.values())
    return v


def register(spark) -> None:
    """Make ``spark.read.format("pst")`` available on this session."""
    spark.dataSource.register(PstDataSource)
