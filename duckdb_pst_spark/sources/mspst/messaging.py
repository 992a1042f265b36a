"""[MS-PST] messaging layer: store info, folder tree, messages,
recipients, attachments, and named-property resolution — the same object
surface the reference reaches through its SDK's ``pst``/``folder``/
``message`` classes and serializes in
/root/reference/src/row_serializer.cpp.

Row dicts use the reference's output column names (schema.hpp), so the
Spark source builds the reference's DataFrames from them directly.
"""

from __future__ import annotations

import struct
import sys
from typing import Iterator

from duckdb_pst_spark.sources.mspst import ltp
from duckdb_pst_spark.sources.mspst.ndb import (
    NID_MESSAGE_STORE,
    NID_NAME_TO_ID_MAP,
    NID_ROOT_FOLDER,
    NID_TYPE_NORMAL_FOLDER,
    NID_TYPE_NORMAL_MESSAGE,
    PstFile,
    nid_type,
)

# enum label sets — schema.hpp:20-74 verbatim
IMPORTANCE = ["LOW", "NORMAL", "HIGH"]
PRIORITY = ["NONURGENT", "NORMAL", "URGENT"]  # raw −1..1 → index+1
SENSITIVITY = ["NONE", "PERSONAL", "PRIVATE", "CONFIDENTIAL"]
RECIPIENT_TYPE = {1: "TO", 2: "CC", 3: "BCC"}
ATTACH_METHOD = [
    "NO_ATTACHMENT",
    "BY_VALUE",
    "BY_REFERENCE",
    "BY_REF_RESOLVE",
    "BY_REF_ONLY",
    "EMBEDDED_MESSAGE",
    "OLE",
]

# A7 observability: decode-site counters (body/body_html/recipients/
# attachments/subnode-tree walks), incremented wherever the reader pulls
# heavy data out of the file. Tests reset this and assert a metadata-only
# projection leaves every counter at zero — the executable form of the
# reference's "unprojected columns are never serialized"
# (row_serializer.cpp:1214-1216).
DECODE_STATS = {
    "body": 0,
    "body_html": 0,
    "recipients": 0,
    "attachments": 0,
    "subnodes": 0,
}

_ARCHIVE_META_COLS = frozenset({"pst_path", "pst_name", "record_key"})

PR_MESSAGE_CLASS = 0x001A

PSETID_APPOINTMENT = bytes.fromhex("90da d862 0c45 1b10 98da 0008 2b2a 56c2".replace(" ", ""))
PSETID_TASK = bytes.fromhex("03200608 0000 0000 c000 0000 0000 0046".replace(" ", ""))
PSETID_NOTE = bytes.fromhex("0e200608 0000 0000 c000 0000 0000 0046".replace(" ", ""))
PSETID_COMMON = bytes.fromhex("08200608 0000 0000 c000 0000 0000 0046".replace(" ", ""))


def _guid_le(data_4_2_2_8: bytes) -> bytes:
    return data_4_2_2_8


class NamedPropMap:
    """NID_NAME_TO_ID_MAP PC ([MS-PST] §2.4.7): maps (guid, lid/name) →
    0x8000+ property ids. Resolution: entry stream 0x0003 of 8-byte
    records (dwPropertyID/wGuid/wPropIdx), guid stream 0x0002."""

    def __init__(self, pst: PstFile):
        e = pst.nbt.get(NID_NAME_TO_ID_MAP)
        self.by_lid: dict[tuple[bytes, int], int] = {}
        if e is None:
            return
        try:
            pc = ltp.PropertyContext(pst, e.bid_data, e.bid_sub)
            guids = pc.get(0x0002) or b""
            entries = pc.get(0x0003) or b""
        except Exception:
            return  # partial decode of the map node → no named props
        for off in range(0, len(entries) - 7, 8):
            prop_id, guid_ix, prop_idx = struct.unpack_from("<IHH", entries, off)
            is_string = guid_ix & 1
            gi = guid_ix >> 1
            if is_string:
                continue  # string-named props: not needed for the golden surface
            if gi >= 3:
                g = guids[(gi - 3) * 16 : (gi - 2) * 16]
            else:
                g = bytes(16)
            # LIDs used by the golden surface live in disjoint ranges per
            # property set, so resolution keys on the LID alone (robust to
            # GUID byte-order variance)
            self.by_lid[(g, prop_id)] = 0x8000 + prop_idx
            self.by_lid[prop_id] = 0x8000 + prop_idx

    def pid(self, guid: bytes, lid: int) -> int | None:
        return self.by_lid.get((guid, lid)) or self.by_lid.get(lid)


def folder_nids(pst: PstFile) -> list[int]:
    """Hierarchy-reachable normal folders, root first — matches the
    reference's folder iteration (search-folder subtrees excluded:
    the golden table has 16 rows, not 17 —
    read_unittest_pst.test:14-37)."""
    children: dict[int, list[int]] = {}
    for nid, e in pst.nbt.items():
        if nid_type(nid) == NID_TYPE_NORMAL_FOLDER and nid != NID_ROOT_FOLDER:
            children.setdefault(e.nid_parent, []).append(nid)
    out: list[int] = []
    stack = [NID_ROOT_FOLDER]
    while stack:
        nid = stack.pop()
        out.append(nid)
        stack.extend(sorted(children.get(nid, []), reverse=True))
    return out


def class_nids(pst: PstFile, nids, prefix: str) -> Iterator[int]:
    """The message nodes among ``nids`` whose ``PR_MESSAGE_CLASS`` starts
    with ``prefix``, probing that one property per node — the
    reference's planning-time class filter (A5,
    table_function.cpp:133-175). A node whose property context cannot
    be read is logged and skipped (A18)."""
    for nid in nids:
        try:
            e = pst.nbt[nid]
            cls = ltp.PropertyContext(pst, e.bid_data, e.bid_sub).get(PR_MESSAGE_CLASS) or ""
        except Exception as exc:
            print(f"pst: skipping unparseable node {nid} in {pst.path}: {exc}", file=sys.stderr)
            continue
        if cls.startswith(prefix):
            yield nid


class PstArchive:
    """High-level reader for one PST file (per-task instance)."""

    def __init__(self, path: str):
        self.pst = PstFile(path)
        self.named = NamedPropMap(self.pst)
        store = self.pst.nbt.get(NID_MESSAGE_STORE)
        self._store_pc = (
            ltp.PropertyContext(self.pst, store.bid_data, store.bid_sub) if store else None
        )

    def close(self) -> None:
        self.pst.close()

    # ------------------------------------------------------------- store

    @property
    def display_name(self) -> str | None:
        return self._store_pc.get(0x3001) if self._store_pc else None

    @property
    def record_key(self) -> bytes | None:
        return self._store_pc.get(0x0FF9) if self._store_pc else None

    # ------------------------------------------------------------ folders

    def folder_row(self, nid: int) -> dict:
        e = self.pst.nbt[nid]
        pc = ltp.PropertyContext(self.pst, e.bid_data, e.bid_sub)
        # golden root count includes its search-folder child → both types
        # (read_unittest_pst.test:22 root subfolder_count = 3)
        subfolders = sum(
            1
            for n, ne in self.pst.nbt.items()
            if ne.nid_parent == nid and n != nid and nid_type(n) in (2, 3)
        )
        return {
            "node_id": nid,
            "parent_node_id": e.nid_parent,
            "container_class": pc.get(0x3613),
            "display_name": pc.get(0x3001) or "",
            "subfolder_count": subfolders,
            "message_count": pc.get(0x3602) or 0,
            "unread_message_count": pc.get(0x3603) or 0,
        }

    def folders(self) -> Iterator[dict]:
        for nid in folder_nids(self.pst):
            yield self.folder_row(nid)

    # ----------------------------------------------------------- messages

    def message_nids(self) -> list[int]:
        return sorted(
            n for n in self.pst.nbt if nid_type(n) == NID_TYPE_NORMAL_MESSAGE
        )

    def _named_get(self, pc: ltp.PropertyContext, guid: bytes, lid: int):
        pid = self.named.pid(guid, lid)
        return pc.get(pid) if pid else None

    def message_row(
        self,
        nid: int,
        *,
        read_body_size_bytes: int = 1_000_000,
        read_attachment_body: bool = False,
        columns: frozenset[str] | set[str] | None = None,
    ) -> dict:
        """NOTE_SCHEMA row (schema.hpp:138-171) + typed extras.

        ``columns`` is the A7 projection contract: when given, only the
        named columns (plus ``message_class``, which the A5 class filter
        and subtype dispatch always need) are DECODED — bodies,
        recipients, attachments, and subtype extras that nobody asked
        for are never fetched from the file, matching the reference's
        rule that unprojected columns are never serialized
        (row_serializer.cpp:1214-1216, pst_extension.cpp:35). ``None``
        means decode everything (the unprojected scan).
        """

        def want(c: str) -> bool:
            return columns is None or c in columns

        e = self.pst.nbt[nid]
        pc = ltp.PropertyContext(self.pst, e.bid_data, e.bid_sub)
        # Recipients and attachments live in the subnode tree — a
        # metadata-only projection never asks for it here (the PC reads
        # it only for a value stored outside its heap, e.g. a long body).
        need_attach = (
            columns is None
            or not columns.isdisjoint(
                ("attachments", "has_attachments", "attachment_count")
            )
        )
        if want("recipients") or need_attach:
            DECODE_STATS["subnodes"] += 1
            sub = pc.subnodes
        else:
            sub = {}

        def trunc(s: str | None) -> str | None:
            if s is None or read_body_size_bytes == 0:
                return s
            return s[: max(read_body_size_bytes // 2, 1)]

        row = {"node_id": nid, "parent_node_id": e.nid_parent,
               "message_class": pc.get(PR_MESSAGE_CLASS)}
        if want("subject"):
            row["subject"] = _clean_subject(pc.get(0x0037))
        if want("body"):
            DECODE_STATS["body"] += 1
            row["body"] = trunc(pc.get(0x1000))
        if want("body_html"):
            DECODE_STATS["body_html"] += 1
            row["body_html"] = trunc(_html_str(pc.get(0x1013)))
        if want("display_name"):
            row["display_name"] = pc.get(0x3001)
        if want("comment"):
            row["comment"] = pc.get(0x3004)
        if want("sender_name"):
            row["sender_name"] = pc.get(0x0C1A)
        if want("sender_email_address"):
            row["sender_email_address"] = pc.get(0x0C1F)
        if want("recipients"):
            DECODE_STATS["recipients"] += 1
            row["recipients"] = self._recipients(sub)
        if want("attachments"):
            DECODE_STATS["attachments"] += 1
            atts = self._attachments(sub, read_attachment_body)
            row["attachments"] = atts
            row["has_attachments"] = bool(atts)
            row["attachment_count"] = len(atts)
        elif need_attach:
            # count-only projection: row ids of the attachment table,
            # no per-attachment PropertyContext parse
            n_att = self._attachment_count(sub)
            row["has_attachments"] = bool(n_att)
            row["attachment_count"] = n_att
        if want("importance"):
            imp = pc.get(0x0017)
            row["importance"] = (
                IMPORTANCE[imp] if imp is not None and 0 <= imp < 3 else None
            )
        if want("priority"):
            pri = pc.get(0x0026)
            row["priority"] = (
                PRIORITY[pri + 1] if pri is not None and -1 <= pri <= 1 else None
            )
        if want("sensitivity"):
            sens = pc.get(0x0036)
            row["sensitivity"] = (
                SENSITIVITY[sens] if sens is not None and 0 <= sens < 4 else None
            )
        if want("creation_time"):
            row["creation_time"] = pc.get(0x3007)
        if want("last_modified"):
            row["last_modified"] = pc.get(0x3008)
        if want("message_delivery_time"):
            row["message_delivery_time"] = pc.get(0x0E06)
        if want("message_flags"):
            row["message_flags"] = pc.get(0x0E07)
        if want("message_size"):
            row["message_size"] = pc.get(0x0E08)
        if want("conversation_topic"):
            row["conversation_topic"] = pc.get(0x0070)
        if want("internet_message_id"):
            row["internet_message_id"] = pc.get(0x1035)
        # subtype extras: skipped when the projection already has every
        # requested column (extras do dozens of PC fetches per row);
        # pst_path/pst_name/record_key are filled by the scan task, not here
        if columns is None or columns - row.keys() - _ARCHIVE_META_COLS:
            cls = row["message_class"] or ""
            if cls.startswith("IPM.Contact"):
                row.update(self._contact_extras(pc))
            elif cls.startswith("IPM.Appointment"):
                row.update(self._appointment_extras(pc))
            elif cls.startswith("IPM.StickyNote"):
                row.update(self._sticky_extras(pc))
            elif cls.startswith("IPM.Task"):
                row.update(self._task_extras(pc))
            elif cls.startswith("IPM.DistList"):
                row.update(self._dlist_extras(pc))
        return row

    def messages(self, **kw) -> Iterator[dict]:
        for nid in self.message_nids():
            yield self.message_row(nid, **kw)

    # ------------------------------------------------- nested sub-objects

    def _recipients(self, sub: dict) -> list[dict]:
        from duckdb_pst_spark.sources.mspst.ndb import NID_RECIPIENT_TABLE

        if NID_RECIPIENT_TABLE not in sub:
            return []
        bd, bs = sub[NID_RECIPIENT_TABLE]
        tc = ltp.TableContext(self.pst, bd, bs)
        out = []
        for r in tc.rows():
            rt = r.get(0x0C15)
            out.append(
                {
                    "display_name": r.get(0x3001),
                    "account_name": r.get(0x3A00),
                    "email_address": r.get(0x3003),
                    "address_type": r.get(0x3002),
                    "recipient_type": RECIPIENT_TYPE.get(rt),
                    "recipient_type_raw": rt,
                }
            )
        return out

    def _attachment_count(self, sub: dict) -> int:
        """Attachment count without parsing any attachment properties —
        just the attachment TABLE's row ids (for has_attachments /
        attachment_count projections that exclude ``attachments``)."""
        from duckdb_pst_spark.sources.mspst.ndb import NID_ATTACHMENT_TABLE

        if NID_ATTACHMENT_TABLE not in sub:
            return 0
        tbd, tbs = sub[NID_ATTACHMENT_TABLE]
        try:
            row_ids = ltp.TableContext(self.pst, tbd, tbs).row_ids()
        except Exception:
            return 0
        return sum(1 for snid in row_ids if snid in sub)

    def _attachments(self, sub: dict, read_body: bool) -> list[dict]:
        from duckdb_pst_spark.sources.mspst.ndb import NID_ATTACHMENT_TABLE

        if NID_ATTACHMENT_TABLE not in sub:
            return []
        out = []
        # iterate the attachment TABLE's row ids — each row id IS the nid
        # of an attachment PC subnode (the SDK's attachment iteration; the
        # nid *type* of those subnodes is not reliable across writers)
        tbd, tbs = sub[NID_ATTACHMENT_TABLE]
        try:
            row_ids = ltp.TableContext(self.pst, tbd, tbs).row_ids()
        except Exception:
            row_ids = []
        for snid in row_ids:
            if snid not in sub:
                continue
            bd, bs = sub[snid]
            pc = ltp.PropertyContext(self.pst, bd, bs)
            method = pc.get(0x3705) or 0
            is_msg = method == 5
            bts = None
            if read_body and method == 1 and not is_msg:
                bts = pc.get(0x3701)  # A14 gating (row_serializer.cpp:152-161)
            out.append(
                {
                    "filename": pc.get(0x3704) or pc.get(0x3707) or pc.get(0x3703),
                    "mime_type": pc.get(0x370E),
                    "size": pc.get(0x0E20),
                    "attach_content_id": pc.get(0x3712),
                    "attach_method": ATTACH_METHOD[method] if 0 <= method < 7 else None,
                    "is_message": is_msg,
                    "bytes": bts,
                }
            )
        return out

    # ------------------------------------------------------- typed extras

    def _contact_extras(self, pc) -> dict:
        """Full CONTACT_SCHEMA subtype block (schema.hpp:175-260; property
        tags are the public [MS-OXPROPS] PidTag values the reference's
        PR_* constants name, row_serializer.cpp:424-792), plus the
        email_address_1 extension (named prop PidLidEmail1EmailAddress,
        which the reference schema does not expose)."""
        email1 = None
        for key, pid in self.named.by_lid.items():
            lid = key if isinstance(key, int) else key[1]
            if lid == 0x8083:  # PidLidEmail1EmailAddress
                email1 = pc.get(pid) or email1
        row = {name: _as_str(pc.get(tag)) for name, tag in _CONTACT_STR_TAGS.items()}
        row.update(
            {
                "birthday": _as_ts(pc.get(0x3A42)),
                "wedding_anniversary": _as_ts(pc.get(0x3A41)),
                "gender": _as_int(pc.get(0x3A4D)),
                "mail_permission": _as_bool(pc.get(0x3A0E)),
                "send_rich_info": _as_bool(pc.get(0x3A40)),
                "conversation_prohibited": _as_bool(pc.get(0x3A03)),
                "disclose_recipients": _as_bool(pc.get(0x3A04)),
                "email_address_1": _as_str(email1),
            }
        )
        return row

    def _appointment_extras(self, pc) -> dict:
        """Full APPOINTMENT_SCHEMA block (schema.hpp:263-278; PSETID_
        Appointment PidLid values per [MS-OXPROPS], matching
        row_serializer.cpp:800-905). is_private is derived from
        PR_SENSITIVITY >= 2 exactly like the reference
        (row_serializer.cpp:887-895)."""
        g = PSETID_APPOINTMENT
        # PidLidAppointmentStartWhole/EndWhole, falling back to the common
        # PidTagStartDate/PidTagEndDate pair (same instant for non-recurring)
        start = self._named_get(pc, g, 0x820D) or pc.get(0x0060)
        end = self._named_get(pc, g, 0x820E) or pc.get(0x0061)
        sensitivity = pc.get(0x0036)
        return {
            "location": _as_str(self._named_get(pc, g, 0x8208)),
            "start_time": _as_ts(start),
            "end_time": _as_ts(end),
            "duration": _as_int(self._named_get(pc, g, 0x8213)),
            "all_day_event": _as_bool(self._named_get(pc, g, 0x8215)),
            "is_meeting": _as_bool(self._named_get(pc, g, 0x8229)),  # PidLidFInvited
            "organizer_name": _as_str(self._named_get(pc, g, 0x822E)),
            "required_attendees": _as_str(self._named_get(pc, g, 0x823B)),
            "optional_attendees": _as_str(self._named_get(pc, g, 0x823C)),
            "meeting_workspace_url": _as_str(self._named_get(pc, g, 0x8209)),
            "busy_status": _as_int(self._named_get(pc, g, 0x8205)),
            "response_status": _as_int(self._named_get(pc, g, 0x8218)),
            "is_recurring": _as_bool(self._named_get(pc, g, 0x8223)),
            "recurrence_pattern": _as_str(self._named_get(pc, g, 0x8232)),
            "is_private": None if sensitivity is None else bool(sensitivity >= 2),
        }

    def _sticky_extras(self, pc) -> dict:
        g = PSETID_NOTE
        return {
            "note_color": self._named_get(pc, g, 0x8B00),
            "note_width": self._named_get(pc, g, 0x8B02),
            "note_height": self._named_get(pc, g, 0x8B03),
            "note_x": self._named_get(pc, g, 0x8B04),
            "note_y": self._named_get(pc, g, 0x8B05),
        }

    def _task_extras(self, pc) -> dict:
        """Full TASK_SCHEMA block (schema.hpp:307-330; PSETID_Task PidLid
        values per [MS-OXPROPS], matching row_serializer.cpp:978-1095)."""
        g = PSETID_TASK
        pct = self._named_get(pc, g, 0x8102)
        return {
            "task_status": _as_int(self._named_get(pc, g, 0x8101)),
            "is_complete": _as_bool(self._named_get(pc, g, 0x811C)),
            "percent_complete": None if pct is None else float(pct),
            "start_date": _as_ts(self._named_get(pc, g, 0x8104)),
            "due_date": _as_ts(self._named_get(pc, g, 0x8105)),
            "date_completed": _as_ts(self._named_get(pc, g, 0x810F)),
            "last_update": _as_ts(self._named_get(pc, g, 0x8115)),
            "estimated_effort": _as_int(self._named_get(pc, g, 0x8111)),
            "actual_effort": _as_int(self._named_get(pc, g, 0x8110)),
            "task_owner": _as_str(self._named_get(pc, g, 0x811F)),
            "task_assigner": _as_str(self._named_get(pc, g, 0x8121)),
            "ownership": _as_int(self._named_get(pc, g, 0x8129)),
            "last_user": _as_str(self._named_get(pc, g, 0x8122)),
            "is_team_task": _as_bool(self._named_get(pc, g, 0x8103)),
            "is_recurring": _as_bool(self._named_get(pc, g, 0x8126)),
        }

    def _dlist_extras(self, pc) -> dict:
        g = PSETID_COMMON  # PSETID_Address actually; resolved via map
        members = None
        one_off = []
        member_ids = []
        for key, pid in self.named.by_lid.items():
            lid = key if isinstance(key, int) else key[1]
            if lid == 0x8055:  # PidLidDistributionListMembers
                members = pc.get(pid) or members
            elif lid == 0x8054:  # OneOffMembers
                raw_items = pc.get(pid)
                if raw_items:
                    one_off = [_parse_one_off(b) for b in raw_items]
        if members:
            for b in members:
                if len(b) >= 4:
                    member_ids.append(struct.unpack("<I", b[-4:])[0])
        return {
            "member_node_ids": member_ids,
            "one_off_members": [o for o in one_off if o],
        }


def _clean_subject(s: str | None) -> str | None:
    """Strip the PST subject prefix-length marker (\\x01 + len byte)."""
    if s and len(s) >= 2 and s[0] == "\x01":
        return s[2:]
    return s


def _html_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _parse_one_off(blob: bytes) -> dict | None:
    """One-off EntryID ([MS-OXCDATA] §2.2.5.1): flags(4) + provider guid
    (16) + version(2) + flags(2) + UTF-16 display/type/email strings —
    the reference's decode at row_serializer.cpp:1128-1162."""
    if len(blob) < 24:
        return None
    try:
        body = blob[24:].decode("utf-16-le", errors="replace")
        parts = body.split("\x00")
        if len(parts) >= 3:
            return {
                "display_name": parts[0],
                "address_type": parts[1],
                "email_address": parts[2],
            }
    except Exception:
        pass
    return None


# Contact string-column → public [MS-OXPROPS] PidTag id, in the
# reference's CONTACT_CHILDREN order (schema.hpp:175-260). Timestamps,
# gender, and booleans are handled separately in _contact_extras.
_CONTACT_STR_TAGS = {
    "display_name_prefix": 0x3A45,
    "given_name": 0x3A06,
    "middle_name": 0x3A44,
    "surname": 0x3A11,
    "generation_suffix": 0x3A05,
    "initials": 0x3A0A,
    "nickname": 0x3A4F,
    "preferred_by_name": 0x3A47,
    "account_name": 0x3A00,
    "original_display_name": 0x3A13,
    "transmittable_display_name": 0x3A20,
    "mhs_common_name": 0x3A0F,
    "government_id_number": 0x3A07,
    "organizational_id_number": 0x3A10,
    "spouse_name": 0x3A48,
    "childrens_names": 0x3A58,  # PT_MV string — non-string decode → NULL
    "hobbies": 0x3A43,
    "profession": 0x3A46,
    "language": 0x3A0C,
    "location": 0x3A0D,
    "keyword": 0x3A0B,
    "company_name": 0x3A16,
    "title": 0x3A17,
    "department_name": 0x3A18,
    "office_location": 0x3A19,
    "manager_name": 0x3A4E,
    "assistant": 0x3A30,
    "customer_id": 0x3A4A,
    "primary_telephone": 0x3A1A,
    "business_telephone": 0x3A08,
    "business_telephone_2": 0x3A1B,
    "home_telephone": 0x3A09,
    "home_telephone_2": 0x3A2F,
    "mobile_telephone": 0x3A1C,
    "car_telephone": 0x3A1E,
    "radio_telephone": 0x3A1D,
    "pager_telephone": 0x3A21,
    "callback_number": 0x3A02,
    "other_telephone": 0x3A1F,
    "assistant_telephone": 0x3A2E,
    "company_main_phone": 0x3A57,
    "ttytdd_phone": 0x3A4B,
    "isdn_number": 0x3A2D,
    "telex_number": 0x3A2C,
    "primary_fax": 0x3A23,
    "business_fax": 0x3A24,
    "home_fax": 0x3A25,
    "business_address_street": 0x3A29,
    "business_address_city": 0x3A27,
    "business_address_state": 0x3A28,
    "business_postal_code": 0x3A2A,
    "business_address_country": 0x3A26,
    "business_po_box": 0x3A2B,
    "home_address_street": 0x3A5D,
    "home_address_city": 0x3A59,
    "home_address_state": 0x3A5C,
    "home_address_postal_code": 0x3A5B,
    "home_address_country": 0x3A5A,
    "home_address_po_box": 0x3A5E,
    "other_address_street": 0x3A63,
    "other_address_city": 0x3A5F,
    "other_address_state": 0x3A62,
    "other_address_postal_code": 0x3A61,
    "other_address_country": 0x3A60,
    "other_address_po_box": 0x3A64,
    "postal_address": 0x3A15,
    "personal_home_page": 0x3A50,
    "business_home_page": 0x3A51,
    "ftp_site": 0x3A4C,
    "computer_network_name": 0x3A49,
}


def _as_str(v) -> str | None:
    return v if isinstance(v, str) else None


def _as_int(v) -> int | None:
    if isinstance(v, bool) or not isinstance(v, int):
        return None
    return v


def _as_bool(v) -> bool | None:
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return bool(v)
    return None


def _as_ts(v):
    import datetime as _dt

    return v if isinstance(v, _dt.datetime) else None
