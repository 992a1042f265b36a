"""Writer of the committed golden archive,
``duckdb_pst_spark/sources/mspst/golden/unittest.pst``.

The reference tests its reader against one fixture file,
``test/unittest.pst`` (SURVEY.md §5), whose values its ``.test`` files
publish. This module writes an archive that carries every one of those
published values under the same node ids, so the golden tests
(``tests/test_mspst_binary.py``, the ``q_pstbin_*`` queries) run without
the reference file. Rewrite it from the repository root with::

    python -m tests.golden_pst

Output is a pure function of this module: every run writes the same
bytes (``tests/test_golden_pst.py`` checks that against the committed
file).

Blocks, B-trees, heaps, property and table contexts come from the
benchmark's spec-literal writer (``perfbench/pstgen.py``), which encodes
with the reader's own permute table. So this archive shows that writer
and reader agree; decoding real Outlook files is checked only where the
reference file exists.

Published values (``read_unittest_pst.test``, README): the store name
and record key; the 16 folders with nids, parents, names, container
classes and message/unread counts, root counting three subfolders (two
folders and one search folder); 12 messages at nids 2097188 + 32k with
their classes and parents; the sticky-note, appointment, task,
distribution-list and contact values asserted in
``tests/test_mspst_binary.py``; an HTML body of at least 50 characters on
exactly six messages; one by-value first attachment named
``MEDIUM~2.JPG``.

Free choices (no reference file pins them): subjects, bodies, HTML
text, senders and times of messages, which note sits in Drafts, the
message and bytes of the attachment, contact display names, the search
folder's nid and name, and which contact is which member nid. Note
bodies are long (about 290 KB together) so that the archive is larger
than ``fsio``'s 256 KiB HTTP block, as the 2.25 MiB reference is; the
remote tests need a file that spans more than one block.
"""

from __future__ import annotations

import datetime as dt
import os
import struct
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "perfbench"))
import pstgen  # noqa: E402
from pstgen import (  # noqa: E402
    NID_ATTACHMENT_TABLE,
    NID_MESSAGE_STORE,
    NID_NAME_TO_ID_MAP,
    NID_ROOT_FOLDER,
    NID_TYPE_ATTACHMENT,
    NID_TYPE_NORMAL_MESSAGE,
    NID_TYPE_SEARCH_FOLDER,
    PSETID_ADDRESS,
    PSETID_APPOINTMENT,
    PSETID_NOTE,
    PSETID_TASK,
    PT_BINARY,
    PT_BOOLEAN,
    PT_DOUBLE,
    PT_LONG,
    PT_MV_BINARY,
    PT_SYSTIME,
    PT_UNICODE,
    Ltp,
    NdbWriter,
)

STORE_NAME = "Outlook Data File"
RECORD_KEY = bytes.fromhex("D8D31B118C3A3B4A9D8816686207E762")

# (property set, LID) of every named property written; the map assigns
# property id 0x8000 + position. Unlike pstgen.NAMED this lists every
# LID the reader's typed extras resolve for a published value.
NAMED = [
    (PSETID_APPOINTMENT, 0x820D),  # start
    (PSETID_APPOINTMENT, 0x820E),  # end
    (PSETID_APPOINTMENT, 0x8213),  # duration
    (PSETID_APPOINTMENT, 0x8215),  # all day
    (PSETID_APPOINTMENT, 0x8205),  # busy status
    (PSETID_APPOINTMENT, 0x8218),  # response status
    (PSETID_APPOINTMENT, 0x8223),  # recurring
    (PSETID_APPOINTMENT, 0x8229),  # invited (is_meeting)
    (PSETID_APPOINTMENT, 0x8232),  # recurrence pattern
    (PSETID_TASK, 0x8101),  # status
    (PSETID_TASK, 0x8102),  # percent complete
    (PSETID_TASK, 0x8103),  # team task
    (PSETID_TASK, 0x8105),  # due
    (PSETID_TASK, 0x8110),  # actual effort
    (PSETID_TASK, 0x8111),  # estimated effort
    (PSETID_TASK, 0x811C),  # complete
    (PSETID_TASK, 0x811F),  # owner
    (PSETID_TASK, 0x8126),  # recurring
    (PSETID_TASK, 0x8129),  # ownership
    (PSETID_NOTE, 0x8B00),  # color
    (PSETID_NOTE, 0x8B02),  # width
    (PSETID_NOTE, 0x8B03),  # height
    (PSETID_NOTE, 0x8B04),  # x
    (PSETID_NOTE, 0x8B05),  # y
    (PSETID_ADDRESS, 0x8054),  # distribution list one-off members
    (PSETID_ADDRESS, 0x8055),  # distribution list members
    (PSETID_ADDRESS, 0x8083),  # email 1
]
_PID = {lid: 0x8000 + i for i, (_g, lid) in enumerate(NAMED)}

TOP = 32802
# (nid, parent, container class, name), read_unittest_pst.test:22-37
FOLDERS = [
    (NID_ROOT_FOLDER, NID_ROOT_FOLDER, None, ""),
    (TOP, NID_ROOT_FOLDER, None, "Top of Outlook data file"),
    (32834, NID_ROOT_FOLDER, None, "Search Root"),
    (32866, TOP, None, "Deleted Items"),
    (32898, TOP, None, "Inbox"),
    (32930, TOP, None, "Outbox"),
    (32962, TOP, None, "Sent Items"),
    (32994, TOP, "IPF.Appointment", "Calendar"),
    (33026, TOP, "IPF.Contact", "Contacts"),
    (33058, TOP, "IPF.Journal", "Journal"),
    (33090, TOP, "IPF.StickyNote", "Notes"),
    (33122, TOP, "IPF.Task", "Tasks"),
    (33154, TOP, "IPF.Note", "Drafts"),
    (33186, TOP, "IPF.Note.OutlookHomepage", "RSS Feeds"),
    (33218, TOP, "IPF.Configuration", "Conversation Action Settings"),
    (33250, TOP, "IPF.Configuration", "Quick Step Settings"),
]
INBOX, CALENDAR, CONTACTS, NOTES, TASKS, DRAFTS = 32898, 32994, 33026, 33090, 33122, 33154
SEARCH_FOLDER = (0x410 << 5) | NID_TYPE_SEARCH_FOLDER


def _nid(k: int) -> int:
    """The k-th message nid: 2097188 + 32k."""
    return ((0x10001 + k) << 5) | NID_TYPE_NORMAL_MESSAGE


HOPPER, LINUS, DLIST = _nid(5), _nid(6), _nid(7)
_T0 = dt.datetime(2025, 12, 1, 9, 0, 0)


def _named(lid: int, ptype: int, value) -> tuple[int, int, object]:
    return (_PID[lid], ptype, value)


def _body(k: int, n_lines: int) -> str:
    return "\r\n".join(
        f"Line {i} of message {k}: the golden archive's note text, plain and long."
        for i in range(n_lines))


def _html(k: int) -> bytes:
    return f"<html><body><p>Golden archive message {k}, HTML part.</p></body></html>".encode()


def _entry_id(nid: int) -> bytes:
    """[MS-PST] §2.4.3.2 EntryID: flags, the store's record key, nid."""
    return struct.pack("<I16sI", 0, RECORD_KEY, nid)


def _one_off(name: str, email: str) -> bytes:
    """[MS-OXCDATA] §2.2.5.1 one-off EntryID: flags, the one-off provider
    UID, version and flag words (zero here; the reader skips all 24
    header bytes), then display name, address type and address as
    NUL-terminated UTF-16."""
    uid = bytes.fromhex("812B1FA4BEA310199D6E00DD010F5402")
    text = f"{name} ({email})\0SMTP\0{email}\0".encode("utf-16-le")
    return struct.pack("<I16sHH", 0, uid, 0, 0) + text


def _messages() -> list[tuple[int, int, list]]:
    """(nid, parent folder, properties) of the 12 messages."""
    def common(k, cls, subject, body, html=False):
        t = _T0 + dt.timedelta(days=k)
        props = [
            (0x001A, PT_UNICODE, cls),
            (0x0017, PT_LONG, 1),  # importance NORMAL
            (0x0026, PT_LONG, 0),  # priority NORMAL
            (0x0036, PT_LONG, 0),  # sensitivity NONE
            (0x0E06, PT_SYSTIME, t),
            (0x0E07, PT_LONG, 1),  # read: every unread count is 0
            (0x3007, PT_SYSTIME, t),
            (0x3008, PT_SYSTIME, t),
        ]
        if body:
            props.append((0x1000, PT_UNICODE, body))
        if subject is not None:
            props += [(0x0037, PT_UNICODE, subject), (0x0070, PT_UNICODE, subject)]
        if html:
            props.append((0x1013, PT_BINARY, _html(k)))
        return props

    def note(k, subject):
        return common(k, "IPM.Note", subject, _body(k, 400), html=True) + [
            (0x0C1A, PT_UNICODE, "Hopper Cat"),
            (0x0C1F, PT_UNICODE, "hopper@intellekt.fyi"),
        ]

    def contact(k, given, email):
        name = f"{given} Cat"
        return common(k, "IPM.Contact", name, "") + [
            (0x3001, PT_UNICODE, name),
            (0x3A06, PT_UNICODE, given),
            (0x3A11, PT_UNICODE, "Cat"),
            _named(0x8083, PT_UNICODE, email),
        ]

    def sticky(k, topic, color, xy):
        return common(k, "IPM.StickyNote", topic, topic or "") + [
            _named(0x8B00, PT_LONG, color),
            _named(0x8B02, PT_LONG, 2051),
            _named(0x8B03, PT_LONG, 1565),
            _named(0x8B04, PT_LONG, xy),
            _named(0x8B05, PT_LONG, xy),
        ]

    christmas = dt.datetime(2025, 12, 25)
    return [
        (_nid(0), INBOX, note(0, "Welcome to the golden archive")),
        (_nid(1), INBOX, note(1, "Quarterly report")),
        (_nid(2), INBOX, note(2, "Lunch on Friday")),
        (_nid(3), INBOX, note(3, "Re: Quarterly report")),
        (_nid(4), CALENDAR, common(4, "IPM.Appointment", "Christmas", "", html=True) + [
            _named(0x820D, PT_SYSTIME, christmas + dt.timedelta(hours=5)),
            _named(0x820E, PT_SYSTIME, christmas + dt.timedelta(days=1, hours=5)),
            _named(0x8213, PT_LONG, 1440),
            _named(0x8215, PT_BOOLEAN, True),
            _named(0x8205, PT_LONG, 0),
            _named(0x8218, PT_LONG, 0),
            _named(0x8223, PT_BOOLEAN, True),
            _named(0x8229, PT_BOOLEAN, False),
            _named(0x8232, PT_UNICODE, "every December 25"),
        ]),
        (HOPPER, CONTACTS, contact(5, "Hopper", "hopper@intellekt.fyi")),
        (LINUS, CONTACTS, contact(6, "Linus", "linus@intellekt.fyi")),
        (DLIST, CONTACTS, common(7, "IPM.DistList", "Cat Support Group", "") + [
            (0x3001, PT_UNICODE, "Cat Support Group"),
            _named(0x8055, PT_MV_BINARY, [_entry_id(DLIST), _entry_id(LINUS)]),
            _named(0x8054, PT_MV_BINARY, [
                _one_off("Hopper Cat", "hopper@intellekt.fyi"),
                _one_off("Linus Cat", "linus@intellekt.fyi"),
            ]),
        ]),
        (_nid(8), NOTES, sticky(
            8, "This UI hasn't changed since I used Outlook on Win9x. Awesome.", 3, 80)),
        (_nid(9), NOTES, sticky(9, None, 0, 81)),
        (_nid(10), TASKS, common(10, "IPM.Task", "Buy cat food", "") + [
            _named(0x8101, PT_LONG, 1),
            _named(0x8102, PT_DOUBLE, 0.8),
            _named(0x8103, PT_BOOLEAN, False),
            _named(0x8105, PT_SYSTIME, christmas),
            _named(0x8110, PT_LONG, 0),
            _named(0x8111, PT_LONG, 0),
            _named(0x811C, PT_BOOLEAN, False),
            _named(0x811F, PT_UNICODE, "Unknown"),
            _named(0x8126, PT_BOOLEAN, False),
            _named(0x8129, PT_LONG, 0),
        ]),
        (_nid(11), DRAFTS, note(11, "Draft: holiday plans")),
    ]


def _attachment(ndb: NdbWriter, ltp: Ltp) -> dict:
    """Subnodes of the one by-value attachment ``MEDIUM~2.JPG``: its
    property context and the attachment table listing it. The bytes are
    a fixed pattern, not an image; only the name and the by-value method
    are published."""
    data = bytes(range(256)) * 16
    anid = (1 << 5) | NID_TYPE_ATTACHMENT
    asub: dict = {}
    pc = ltp.pc([
        (0x3704, PT_UNICODE, "MEDIUM~2.JPG"),
        (0x370E, PT_UNICODE, "image/jpeg"),
        (0x0E20, PT_LONG, len(data)),
        (0x3705, PT_LONG, 1),  # ATTACH_BY_VALUE
        (0x3701, PT_BINARY, data),
    ], asub)
    tsub: dict = {}
    table = ltp.tc(
        [(0x3704, PT_UNICODE), (0x0E20, PT_LONG), (0x3705, PT_LONG)],
        [(anid, {0x3704: "MEDIUM~2.JPG", 0x0E20: len(data), 0x3705: 1})], tsub)
    return {anid: (pc, ndb.subnode_tree(asub)),
            NID_ATTACHMENT_TABLE: (table, ndb.subnode_tree(tsub))}


def write_golden(path: str) -> int:
    """Write the golden archive to ``path``; returns its size in bytes."""
    ndb = NdbWriter(pstgen._encode_table())
    ltp = Ltp(ndb)

    def node(nid, parent, props, sub=None):
        sub = sub or {}
        ndb.node(nid, parent, ltp.pc(props, sub), sub)

    node(NID_MESSAGE_STORE, 0, [
        (0x3001, PT_UNICODE, STORE_NAME),
        (0x0FF9, PT_BINARY, RECORD_KEY),
    ])
    guids, entries = [], []
    for i, (g, lid) in enumerate(NAMED):
        if g not in guids:
            guids.append(g)
        entries.append(struct.pack("<IHH", lid, (guids.index(g) + 3) << 1, i))
    node(NID_NAME_TO_ID_MAP, 0, [
        (0x0001, PT_LONG, 251),
        (0x0002, PT_BINARY, b"".join(guids)),
        (0x0003, PT_BINARY, b"".join(entries)),
        (0x0004, PT_BINARY, b""),
    ])

    counts: dict[int, int] = {}
    for k, (nid, parent, props) in enumerate(_messages()):
        counts[parent] = counts.get(parent, 0) + 1
        node(nid, parent, props, _attachment(ndb, ltp) if k == 0 else None)

    for nid, parent, cclass, name in FOLDERS:
        props = [
            (0x3001, PT_UNICODE, name),
            (0x3602, PT_LONG, counts.get(nid, 0)),
            (0x3603, PT_LONG, 0),
        ]
        if cclass:
            props.append((0x3613, PT_UNICODE, cclass))
        node(nid, parent, props)
    node(SEARCH_FOLDER, NID_ROOT_FOLDER, [(0x3001, PT_UNICODE, "Finder")])
    return ndb.write(path)


if __name__ == "__main__":
    from duckdb_pst_spark.sources.mspst.queries import COMMITTED_PST

    os.makedirs(os.path.dirname(COMMITTED_PST), exist_ok=True)
    print(COMMITTED_PST, write_golden(COMMITTED_PST))
