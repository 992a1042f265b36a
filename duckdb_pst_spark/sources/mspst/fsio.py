"""Remote/object-store IO for the PST reader — A2 parity.

The reference reads PSTs through DuckDB's virtual FileSystem, so any
registered filesystem works unchanged: local disk, or ``httpfs`` range
reads straight off a web server (its README demos querying a remote
``unittest.pst`` over https; file shim at
/root/reference/src/pst/duckdb_filesystem.cpp:12-36, demo
/root/reference/README.md:58-69).

Spark-side equivalent: ``open_pst(path)`` returns a seekable binary
file for

- plain local paths / ``file://`` — ``open(path, "rb")``
- ``http(s)://`` — :class:`HttpRangeFile`, stdlib ranged GETs with an
  LRU block cache (the httpfs analog; falls back to one whole-file GET
  when the server ignores ``Range``)
- any other scheme (``s3://``, ``gs://``, ``hdfs://``, ...) —
  ``pyarrow.fs.FileSystem.from_uri`` → ``open_input_file`` (already
  seekable)

The NDB layer does many small header/page reads, so the HTTP path
fetches aligned 256 KiB blocks and serves reads from cache — one GET
covers ~500 btree pages.  Partition planning and per-task reads both go
through this one entry point, so ``spark.read.format("pst")`` accepts a
URL anywhere it accepts a path.
"""

from __future__ import annotations

import io
import urllib.error
import urllib.request
from collections import OrderedDict

_BLOCK = 256 * 1024
_MAX_BLOCKS = 64  # 16 MiB cache per open file


class HttpRangeFile(io.RawIOBase):
    """Seekable read-only view of an ``http(s)://`` URL via ranged GETs.

    If the server answers a ``Range`` request with 200 (no range
    support), the whole body is cached and served from memory — same
    behavior as a filesystem that can only stream.
    """

    def __init__(self, url: str, block_size: int = _BLOCK, max_blocks: int = _MAX_BLOCKS):
        self.url = url
        self._pos = 0
        self._block_size = block_size
        self._max_blocks = max_blocks
        self._blocks: OrderedDict[int, bytes] = OrderedDict()
        self._whole: bytes | None = None
        self._size = self._probe_size()

    # ------------------------------------------------------------- http
    def _probe_size(self) -> int:
        req = urllib.request.Request(self.url, method="HEAD")
        try:
            with urllib.request.urlopen(req) as r:
                n = r.headers.get("Content-Length")
                if n is not None:
                    return int(n)
        except urllib.error.HTTPError:
            pass  # HEAD not allowed → fall through to full GET
        with urllib.request.urlopen(self.url) as r:
            self._whole = r.read()
        return len(self._whole)

    def _fetch(self, start: int, end: int) -> bytes:
        """GET bytes [start, end); may flip into whole-body mode."""
        req = urllib.request.Request(
            self.url, headers={"Range": f"bytes={start}-{end - 1}"}
        )
        with urllib.request.urlopen(req) as r:
            data = r.read()
        if len(data) > end - start:  # server ignored Range → whole body
            self._whole = data
            return data[start:end]
        return data

    def _block(self, idx: int) -> bytes:
        blk = self._blocks.get(idx)
        if blk is not None:
            self._blocks.move_to_end(idx)
            return blk
        start = idx * self._block_size
        blk = self._fetch(start, min(start + self._block_size, self._size))
        if self._whole is not None:
            return self._whole[start : start + self._block_size]
        self._blocks[idx] = blk
        if len(self._blocks) > self._max_blocks:
            self._blocks.popitem(last=False)
        return blk

    # ------------------------------------------------------ file protocol
    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, pos: int, whence: int = io.SEEK_SET) -> int:
        if whence == io.SEEK_SET:
            self._pos = pos
        elif whence == io.SEEK_CUR:
            self._pos += pos
        elif whence == io.SEEK_END:
            self._pos = self._size + pos
        else:
            raise ValueError(f"bad whence {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if n == 0:
            return b""
        if self._whole is not None:
            out = self._whole[self._pos : self._pos + n]
            self._pos += len(out)
            return out
        first = self._pos // self._block_size
        last = (self._pos + n - 1) // self._block_size
        out = b"".join(self._block(i) for i in range(first, last + 1))
        off = self._pos - first * self._block_size
        out = out[off : off + n]
        self._pos += len(out)
        return out


def split_scheme(path: str) -> str | None:
    """URI scheme of ``path`` (lowercase), or None for a plain path."""
    if "://" not in path:
        return None
    return path.split("://", 1)[0].lower()


def open_pst(path: str):
    """Open ``path`` for seekable binary reads, whatever filesystem it
    lives on (the DuckDB-virtual-FileSystem analog)."""
    scheme = split_scheme(path)
    if scheme is None:
        return open(path, "rb")
    if scheme == "file":
        return open(path[len("file://") :], "rb")
    if scheme in ("http", "https"):
        return HttpRangeFile(path)
    import pyarrow.fs as pafs

    fs, rel = pafs.FileSystem.from_uri(path)
    return fs.open_input_file(rel)


def expand_paths(path: str) -> list[str]:
    """A1 glob expansion across filesystems.

    Local paths glob on disk (table_function.cpp:48-61 expands via the
    DuckDB FS the same way).  ``http(s)`` has no listing protocol →
    verbatim.  Other pyarrow filesystems list the parent directory and
    fnmatch the basename when the path has wildcards.
    """
    scheme = split_scheme(path)
    if scheme is None or scheme == "file":
        import glob as globmod

        local = path[len("file://") :] if scheme == "file" else path
        hits = sorted(globmod.glob(local))
        return [f"file://{h}" for h in hits] if scheme == "file" else hits
    if scheme in ("http", "https") or not any(c in path for c in "*?["):
        return [path]
    import fnmatch
    import posixpath

    import pyarrow.fs as pafs

    fs, rel = pafs.FileSystem.from_uri(path)
    parent, pattern = posixpath.split(rel)
    infos = fs.get_file_info(pafs.FileSelector(parent, allow_not_found=True))
    names = sorted(
        fi.path for fi in infos if fnmatch.fnmatch(posixpath.basename(fi.path), pattern)
    )
    # rebuild URIs: for bucket-rooted stores (s3/gs) fi.path carries the
    # bucket, so scheme:// + path round-trips
    return [f"{scheme}://{p}" for p in names]


def expand_batch_paths(path: str) -> list[str]:
    """``expand_paths`` for a batch read. As with Spark's file sources, a
    local or ``file://`` path with no glob characters that does not
    exist raises ``FileNotFoundError``; an unmatched glob stays empty
    (the reference skips what it cannot read, A18)."""
    files = expand_paths(path)
    literal = not any(c in path for c in "*?[")
    if not files and literal and split_scheme(path) in (None, "file"):
        raise FileNotFoundError(f"PST path does not exist: {path}")
    return files
