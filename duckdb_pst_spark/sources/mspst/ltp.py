"""[MS-PST] LTP (lists/tables/properties) layer.

Implements from the public spec: HN heap-on-node (§2.3.1: HNHDR,
HNPAGEHDR, HNBITMAPHDR, HNPAGEMAP, HID addressing), BTH B-tree-on-heap
(§2.3.2), PC property context (§2.3.3), TC table context (§2.3.4) with
cell-existence bitmap and row matrix over heap or subnode storage.

The reference consumes this layer through its vendored SDK's
``typed_bag`` (/root/reference/src/include/pst/typed_bag.hpp:116-152);
property semantics mirrored here: missing property → None
(row_serializer.cpp:31-34).
"""

from __future__ import annotations

import datetime as dt
import struct

from duckdb_pst_spark.sources.mspst.ndb import PstFile, PstError

# property types ([MS-OXCDATA] §2.11.1)
PT_SHORT = 0x0002
PT_LONG = 0x0003
PT_FLOAT = 0x0004
PT_DOUBLE = 0x0005
PT_APPTIME = 0x0007
PT_BOOLEAN = 0x000B
PT_I8 = 0x0014
PT_STRING8 = 0x001E
PT_UNICODE = 0x001F
PT_SYSTIME = 0x0040
PT_CLSID = 0x0048
PT_BINARY = 0x0102
PT_MV_LONG = 0x1003
PT_MV_UNICODE = 0x101F
PT_MV_BINARY = 0x1102

_FIXED_INLINE = {PT_SHORT, PT_LONG, PT_FLOAT, PT_BOOLEAN, 0x0001, 0x000A}
_EPOCH_1601 = dt.datetime(1601, 1, 1)


def filetime_to_dt(ticks: int) -> dt.datetime | None:
    if ticks == 0:
        return None
    # truncate to seconds — the reference emits TIMESTAMP_S
    # (row_serializer.cpp:44-46)
    return _EPOCH_1601 + dt.timedelta(seconds=ticks // 10**7)


class Heap:
    """Heap-on-node over a node's data-block list ([MS-PST] §2.3.1)."""

    def __init__(self, blocks: list[bytes]):
        if not blocks:
            raise PstError("empty node for heap")
        self.blocks = blocks
        b0 = blocks[0]
        self.b_client_sig = b0[3]
        (self.hid_user_root,) = struct.unpack_from("<I", b0, 4)
        self._maps: list[list[int]] = []
        for i, blk in enumerate(blocks):
            (ib_hnpm,) = struct.unpack_from("<H", blk, 0)
            c_alloc, _c_free = struct.unpack_from("<HH", blk, ib_hnpm)
            allocs = struct.unpack_from(f"<{c_alloc + 1}H", blk, ib_hnpm + 4)
            self._maps.append(list(allocs))

    def item(self, hid: int) -> bytes:
        idx = (hid >> 5) & 0x7FF  # 1-based allocation index
        blk_i = hid >> 16
        if idx == 0:
            return b""
        allocs = self._maps[blk_i]
        return self.blocks[blk_i][allocs[idx - 1] : allocs[idx]]


class Bth:
    """BTH ([MS-PST] §2.3.2): fixed-size key/data records on a heap."""

    def __init__(self, heap: Heap, hid: int):
        hdr = heap.item(hid)
        if not hdr:
            self.cb_key = self.cb_ent = 0
            self.records: list[tuple[bytes, bytes]] = []
            return
        btype, self.cb_key, self.cb_ent, levels = struct.unpack_from("<BBBB", hdr, 0)
        if btype != 0xB5:
            raise PstError(f"BTH header btype {btype:#x} != 0xB5")
        (hid_root,) = struct.unpack_from("<I", hdr, 4)
        self.records = []
        self._walk(heap, hid_root, levels)

    def _walk(self, heap: Heap, hid: int, level: int) -> None:
        if hid == 0:
            return
        data = heap.item(hid)
        if level == 0:
            rec = self.cb_key + self.cb_ent
            for off in range(0, len(data) - rec + 1, rec):
                self.records.append(
                    (data[off : off + self.cb_key], data[off + self.cb_key : off + rec])
                )
        else:  # index record: key + HID of child
            rec = self.cb_key + 4
            for off in range(0, len(data) - rec + 1, rec):
                (child,) = struct.unpack_from("<I", data, off + self.cb_key)
                self._walk(heap, child, level - 1)


class PropertyContext:
    """PC ([MS-PST] §2.3.3): BTH(cbKey=2, cbEnt=6) of
    (propid → type, value/HNID), plus subnode-stored large values."""

    def __init__(self, pst: PstFile, bid_data: int, bid_sub: int):
        self._pst = pst
        self.heap = Heap(pst.read_data(bid_data))
        if self.heap.b_client_sig != 0xBC:
            raise PstError(f"not a PC heap (sig {self.heap.b_client_sig:#x})")
        self._bid_sub = bid_sub
        self._sub: dict[int, tuple[int, int]] | None = None
        self.props: dict[int, tuple[int, bytes | int]] = {}
        for key, data in Bth(self.heap, self.heap.hid_user_root).records:
            (pid,) = struct.unpack("<H", key)
            ptype, dw = struct.unpack("<HI", data)
            self.props[pid] = (ptype, dw)

    @property
    def subnodes(self) -> dict[int, tuple[int, int]]:
        """The node's subnode map {nid: (bidData, bidSub)}, read on first
        use: a PC whose requested values all sit on its heap never walks
        the subnode tree, and the messaging layer reuses this map for
        recipients and attachments instead of reading it again."""
        if self._sub is None:
            self._sub = self._pst.read_subnodes(self._bid_sub)
        return self._sub

    def _hnid_bytes(self, hnid: int) -> bytes:
        if hnid == 0:
            return b""
        if hnid & 0x1F == 0:  # HID → heap item
            return self.heap.item(hnid)
        bd, bs = self.subnodes[hnid]  # NID → subnode data tree
        return b"".join(self._pst.read_data(bd))

    def get(self, pid: int):
        """Decoded python value; None when absent — or when the value
        fails to decode (the reference's per-column tolerance: NULL +
        log, row_serializer.cpp:1252-1263 / A18)."""
        if pid not in self.props:
            return None
        ptype, dw = self.props[pid]
        try:
            return decode_value(ptype, dw, self._hnid_bytes)
        except Exception:
            return None

    def raw(self, pid: int) -> bytes | None:
        if pid not in self.props:
            return None
        ptype, dw = self.props[pid]
        if ptype in _FIXED_INLINE:
            return struct.pack("<I", dw)
        return self._hnid_bytes(dw)


def decode_value(ptype: int, dw: int, fetch) -> object:
    if ptype == PT_LONG:
        return dw - 0x100000000 if dw & 0x80000000 else dw
    if ptype == PT_SHORT:
        v = dw & 0xFFFF
        return v - 0x10000 if v & 0x8000 else v
    if ptype == PT_BOOLEAN:
        return bool(dw & 0xFF)
    if ptype == PT_FLOAT:
        return struct.unpack("<f", struct.pack("<I", dw))[0]
    data = fetch(dw)
    if ptype == PT_UNICODE:
        return data.decode("utf-16-le", errors="replace")
    if ptype == PT_STRING8:
        return data.decode("cp1252", errors="replace")
    if ptype == PT_BINARY or ptype == PT_CLSID:
        return data
    if ptype == PT_SYSTIME:
        if len(data) < 8:
            return None
        return filetime_to_dt(struct.unpack("<Q", data[:8])[0])
    if ptype == PT_DOUBLE:
        return struct.unpack("<d", data[:8])[0] if len(data) >= 8 else None
    if ptype == PT_APPTIME:
        return struct.unpack("<d", data[:8])[0] if len(data) >= 8 else None
    if ptype == PT_I8:
        return struct.unpack("<q", data[:8])[0] if len(data) >= 8 else None
    if ptype == PT_MV_LONG:
        n = len(data) // 4
        return list(struct.unpack(f"<{n}i", data[: 4 * n]))
    if ptype in (PT_MV_UNICODE, PT_MV_BINARY):
        if len(data) < 4:
            return []
        (count,) = struct.unpack_from("<I", data, 0)
        offs = list(struct.unpack_from(f"<{count}I", data, 4)) + [len(data)]
        items = [data[offs[i] : offs[i + 1]] for i in range(count)]
        if ptype == PT_MV_UNICODE:
            return [b.decode("utf-16-le", errors="replace") for b in items]
        return items
    return data  # unknown type: raw bytes


class TableContext:
    """TC ([MS-PST] §2.3.4): TCINFO + row-index BTH + row matrix."""

    def __init__(self, pst: PstFile, bid_data: int, bid_sub: int):
        self._pst = pst
        self.heap = Heap(pst.read_data(bid_data))
        if self.heap.b_client_sig != 0x7C:
            raise PstError(f"not a TC heap (sig {self.heap.b_client_sig:#x})")
        self._sub = pst.read_subnodes(bid_sub)
        info = self.heap.item(self.heap.hid_user_root)
        btype, c_cols = struct.unpack_from("<BB", info, 0)
        if btype != 0x7C:
            raise PstError(f"TCINFO btype {btype:#x} != 0x7C")
        self.rgib = struct.unpack_from("<4H", info, 2)  # ends of 4/2/1-byte/CEB groups
        self.hid_row_index, self.hnid_rows = struct.unpack_from("<II", info, 10)
        self.cols: list[tuple[int, int, int, int]] = []  # (tag, ib, cb, iBit)
        for i in range(c_cols):
            tag, ib, cb, ibit = struct.unpack_from("<IHBB", info, 22 + 8 * i)
            self.cols.append((tag, ib, cb, ibit))
        self.row_width = self.rgib[3]
        self._rows_data = self._load_rows()

    def _load_rows(self) -> list[bytes]:
        if self.hnid_rows == 0:
            return []
        if self.hnid_rows & 0x1F == 0:  # heap-resident rows
            data = self.heap.item(self.hnid_rows)
            blocks = [data]
        else:
            bd, _bs = self._sub[self.hnid_rows]
            blocks = self._pst.read_data(bd)
        rows: list[bytes] = []
        for blk in blocks:  # rows never cross block boundaries (§2.3.4.4)
            for off in range(0, len(blk) - self.row_width + 1, self.row_width):
                rows.append(blk[off : off + self.row_width])
        n = len(Bth(self.heap, self.hid_row_index).records)
        return rows[:n]

    def row_ids(self) -> list[int]:
        return [struct.unpack_from("<I", r, 0)[0] for r in self._rows_data]

    def rows(self) -> list[dict[int, object]]:
        """Decoded rows: {proptag: value} with CEB-missing cells → absent."""
        ceb_start = self.rgib[2]
        out = []
        for r in self._rows_data:
            row: dict[int, object] = {}
            for tag, ib, cb, ibit in self.cols:
                try:
                    if ceb_start + ibit // 8 >= len(r):
                        continue
                    if not (r[ceb_start + ibit // 8] >> (7 - ibit % 8)) & 1:
                        continue
                    ptype = tag & 0xFFFF
                    cell = r[ib : ib + cb]
                    if cb == 4:
                        (dw,) = struct.unpack("<I", cell)
                    elif cb == 2:
                        (dw,) = struct.unpack("<H", cell)
                    elif cb == 1:
                        dw = cell[0]
                    else:
                        (dw,) = struct.unpack("<I", cell[:4])
                    row[tag >> 16] = decode_value(ptype, dw, self._fetch)
                except Exception:
                    # per-cell tolerance — the reference NULLs and logs
                    # (row_serializer.cpp:1252-1263)
                    continue
            out.append(row)
        return out

    def _fetch(self, hnid: int) -> bytes:
        if hnid == 0:
            return b""
        if hnid & 0x1F == 0:
            return self.heap.item(hnid)
        bd, _bs = self._sub[hnid]
        return b"".join(self._pst.read_data(bd))
