"""Dependency-free 7z (.7z) container reader (SURVEY.md §2.1 S1).

The reference streams 7z-compressed Wikipedia history dumps through
py7zr readers (misc/seven_zip_reader.py:1-120,
s01_wikipedia_clean_and_tokenize.py:75-97). This container image has
no 7z library, so the container format is parsed directly — the
format is public (7zFormat.txt in the 7-Zip source distribution) —
and streams decode through the stdlib ``lzma``/``bz2`` raw
decompressors.

Supported (everything Wikimedia dump .7z parts use):
  * LZMA1, LZMA2, BZip2 and copy coders, single-coder folders
  * encoded (compressed) metadata headers
  * multiple files per archive, empty files, UTF-16 names
Not supported (raise ``NotImplementedError``): multi-coder chains
(BCJ2 filters), AES encryption, multi-volume archives.

Scale posture: one Spark task per .7z part file (the format is not
splittable), which is exactly the reference's process-per-file
parallelism (60 worker processes ≈ 60 dump parts). Decompression is
chunk-streamed — the decompressed text never materializes whole.
"""

from __future__ import annotations

import bz2
import io
import lzma
from dataclasses import dataclass, field
from typing import BinaryIO, Iterator

__all__ = ["SevenZArchive", "read_text_7z"]

MAGIC = b"7z\xbc\xaf\x27\x1c"

# property ids (7zFormat.txt)
_K_END = 0x00
_K_HEADER = 0x01
_K_MAIN_STREAMS = 0x04
_K_FILES_INFO = 0x05
_K_PACK_INFO = 0x06
_K_UNPACK_INFO = 0x07
_K_SUBSTREAMS_INFO = 0x08
_K_SIZE = 0x09
_K_CRC = 0x0A
_K_FOLDER = 0x0B
_K_CODERS_UNPACK_SIZE = 0x0C
_K_NUM_UNPACK_STREAM = 0x0D
_K_EMPTY_STREAM = 0x0E
_K_EMPTY_FILE = 0x0F
_K_NAMES = 0x11
_K_ENCODED_HEADER = 0x17

# coder ids
_CODER_COPY = b"\x00"
_CODER_LZMA2 = b"\x21"
_CODER_LZMA1 = b"\x03\x01\x01"
_CODER_BZIP2 = b"\x04\x02\x02"


def _read_number(f: BinaryIO) -> int:
    """7z variable-length unsigned integer (NUMBER in 7zFormat.txt)."""
    first = f.read(1)[0]
    n_extra, mask = 0, 0x80
    while n_extra < 8 and (first & mask):
        n_extra += 1
        mask >>= 1
    value = int.from_bytes(f.read(n_extra), "little")
    if n_extra < 8:
        value |= (first & (mask - 1)) << (8 * n_extra)
    return value


def _read_bit_vector(f: BinaryIO, n: int) -> list[bool]:
    data = f.read((n + 7) // 8)
    return [bool(data[i // 8] & (0x80 >> (i % 8))) for i in range(n)]


def _read_optional_bit_vector(f: BinaryIO, n: int) -> list[bool]:
    all_defined = f.read(1)[0]
    if all_defined:
        return [True] * n
    return _read_bit_vector(f, n)


class _ChainedBz2:
    """bz2 with stream re-chaining: 7z's multithreaded BZip2 coder
    concatenates several independent .bz2 streams in one folder, and
    ``BZ2Decompressor`` raises EOFError past the first one."""

    def __init__(self):
        self._dec = bz2.BZ2Decompressor()

    def decompress(self, data: bytes) -> bytes:
        out = []
        while data:
            out.append(self._dec.decompress(data))
            if not self._dec.eof:
                break
            data = self._dec.unused_data
            self._dec = bz2.BZ2Decompressor()
        return b"".join(out)


@dataclass
class _Folder:
    coder_id: bytes = b""
    props: bytes = b""
    unpack_size: int = 0
    crc_defined: bool = False
    num_substreams: int = 1
    substream_sizes: list[int] = field(default_factory=list)

    def decompressor(self):
        cid = self.coder_id
        if cid == _CODER_COPY:
            class _Copy:
                def decompress(self, b: bytes) -> bytes:
                    return b

            return _Copy()
        if cid == _CODER_BZIP2:
            return _ChainedBz2()
        if cid == _CODER_LZMA2:
            filt = _lzma_filter(lzma.FILTER_LZMA2, self.props)
            return lzma.LZMADecompressor(lzma.FORMAT_RAW, filters=[filt])
        if cid == _CODER_LZMA1:
            filt = _lzma_filter(lzma.FILTER_LZMA1, self.props)
            return lzma.LZMADecompressor(lzma.FORMAT_RAW, filters=[filt])
        raise NotImplementedError(f"7z coder id {cid.hex()} not supported")


def _lzma_filter(filter_id: int, props: bytes) -> dict:
    """Coder props bytes → lzma raw-filter dict.

    CPython exposes the exact translation as
    ``lzma._decode_filter_properties`` (used by every Python 7z
    library); fall back to the documented byte layout if absent."""
    try:
        return lzma._decode_filter_properties(filter_id, props)  # noqa: SLF001
    except AttributeError:
        pass
    if filter_id == lzma.FILTER_LZMA1:
        b0 = props[0]
        lc, rest = b0 % 9, b0 // 9
        return {
            "id": filter_id, "lc": lc, "lp": rest % 5, "pb": rest // 5,
            "dict_size": int.from_bytes(props[1:5], "little"),
        }
    d = props[0]  # LZMA2: one dict-size byte
    dict_size = 0xFFFFFFFF if d == 40 else (2 | (d & 1)) << (d // 2 + 11)
    return {"id": filter_id, "dict_size": dict_size}


@dataclass
class _StreamsInfo:
    pack_pos: int = 0
    pack_sizes: list[int] = field(default_factory=list)
    folders: list[_Folder] = field(default_factory=list)


def _parse_folder(f: BinaryIO) -> _Folder:
    num_coders = _read_number(f)
    if num_coders != 1:
        raise NotImplementedError(
            f"7z folders with {num_coders} chained coders (BCJ2/delta "
            "chains) are not supported — re-pack with plain LZMA2"
        )
    flags = f.read(1)[0]
    id_size = flags & 0x0F
    coder_id = f.read(id_size)
    n_in = n_out = 1
    if flags & 0x10:  # complex coder
        n_in, n_out = _read_number(f), _read_number(f)
    props = b""
    if flags & 0x20:
        props = f.read(_read_number(f))
    if flags & 0x80:
        raise NotImplementedError("7z alternative coder methods not supported")
    if n_in != 1 or n_out != 1:
        raise NotImplementedError("7z multi-stream coders not supported")
    return _Folder(coder_id=coder_id, props=props)


def _parse_streams_info(f: BinaryIO) -> _StreamsInfo:
    info = _StreamsInfo()
    while True:
        pid = _read_number(f)
        if pid == _K_END:
            return info
        if pid == _K_PACK_INFO:
            info.pack_pos = _read_number(f)
            n = _read_number(f)
            while True:
                sub = _read_number(f)
                if sub == _K_END:
                    break
                if sub == _K_SIZE:
                    info.pack_sizes = [_read_number(f) for _ in range(n)]
                elif sub == _K_CRC:
                    _skip_crcs(f, n)
                else:
                    raise ValueError(f"unexpected PackInfo property {sub:#x}")
        elif pid == _K_UNPACK_INFO:
            fid = _read_number(f)
            if fid != _K_FOLDER:
                raise ValueError("UnpackInfo must start with kFolder")
            n_folders = _read_number(f)
            if f.read(1)[0] != 0:
                raise NotImplementedError("external folder definitions not supported")
            info.folders = [_parse_folder(f) for _ in range(n_folders)]
            if _read_number(f) != _K_CODERS_UNPACK_SIZE:
                raise ValueError("expected kCodersUnpackSize")
            for folder in info.folders:
                folder.unpack_size = _read_number(f)  # single out-stream
            while True:
                sub = _read_number(f)
                if sub == _K_END:
                    break
                if sub == _K_CRC:
                    # folder-level digests: remember which folders have
                    # one — SubStreamsInfo's kCRC then EXCLUDES their
                    # single substream (7zFormat.txt digest rule)
                    defined = _read_optional_bit_vector(f, n_folders)
                    f.read(4 * sum(defined))
                    for folder, d in zip(info.folders, defined):
                        folder.crc_defined = d
                else:
                    raise ValueError(f"unexpected UnpackInfo property {sub:#x}")
        elif pid == _K_SUBSTREAMS_INFO:
            _parse_substreams_info(f, info)
        else:
            raise ValueError(f"unexpected StreamsInfo property {pid:#x}")


def _skip_crcs(f: BinaryIO, n: int) -> None:
    defined = _read_optional_bit_vector(f, n)
    f.read(4 * sum(defined))


def _parse_substreams_info(f: BinaryIO, info: _StreamsInfo) -> None:
    pid = _read_number(f)
    if pid == _K_NUM_UNPACK_STREAM:
        for folder in info.folders:
            folder.num_substreams = _read_number(f)
        pid = _read_number(f)
    for folder in info.folders:
        if folder.num_substreams == 1:
            folder.substream_sizes = [folder.unpack_size]
    if pid == _K_SIZE:
        # sizes for every substream EXCEPT the last of each folder
        for folder in info.folders:
            if folder.num_substreams == 1:
                continue
            sizes = [_read_number(f) for _ in range(folder.num_substreams - 1)]
            folder.substream_sizes = [*sizes, folder.unpack_size - sum(sizes)]
        pid = _read_number(f)
    # digests are stored only for substreams whose CRC isn't already
    # known from UnpackInfo (= single-substream folders with a
    # folder-level digest)
    n_digests = sum(
        0 if (fo.num_substreams == 1 and fo.crc_defined) else fo.num_substreams
        for fo in info.folders
    )
    while pid != _K_END:
        if pid == _K_CRC:
            _skip_crcs(f, n_digests)
        else:
            raise ValueError(f"unexpected SubStreamsInfo property {pid:#x}")
        pid = _read_number(f)


@dataclass
class _FileEntry:
    name: str
    has_stream: bool = True
    size: int = 0


class SevenZArchive:
    """Minimal random-access reader over one .7z archive.

    ``data`` may be bytes or a seekable binary file object. Archive
    metadata parses eagerly; member content decodes lazily and
    chunk-streamed via :meth:`iter_chunks` / :meth:`iter_lines`."""

    def __init__(self, data: bytes | BinaryIO):
        self._f = io.BytesIO(data) if isinstance(data, (bytes, bytearray)) else data
        f = self._f
        f.seek(0)
        if f.read(6) != MAGIC:
            raise ValueError("not a 7z archive (bad signature)")
        f.read(2 + 4)  # version + start-header CRC
        next_off = int.from_bytes(f.read(8), "little")
        next_size = int.from_bytes(f.read(8), "little")
        f.read(4)  # next-header CRC
        self._base = 32  # packed streams start right after the signature header
        f.seek(self._base + next_off)
        header = io.BytesIO(f.read(next_size))
        pid = _read_number(header)
        if pid == _K_ENCODED_HEADER:
            # the metadata itself is one compressed folder
            meta = _parse_streams_info(header)
            raw = self._decode_folder_bytes(meta, 0)
            header = io.BytesIO(raw)
            pid = _read_number(header)
        if pid != _K_HEADER:
            raise ValueError(f"expected kHeader, got {pid:#x}")
        self._streams = _StreamsInfo()
        self._files: list[_FileEntry] = []
        self._parse_header(header)

    # -- metadata ------------------------------------------------------
    def _parse_header(self, f: BinaryIO) -> None:
        while True:
            pid = _read_number(f)
            if pid == _K_END:
                break
            if pid == _K_MAIN_STREAMS:
                self._streams = _parse_streams_info(f)
            elif pid == _K_FILES_INFO:
                self._parse_files_info(f)
            else:
                raise NotImplementedError(f"7z header property {pid:#x} not supported")
        # attach substream sizes to files in order
        sizes = [
            s for fo in self._streams.folders for s in (fo.substream_sizes or [fo.unpack_size])
        ]
        it = iter(sizes)
        for entry in self._files:
            if entry.has_stream:
                entry.size = next(it)

    def _parse_files_info(self, f: BinaryIO) -> None:
        n_files = _read_number(f)
        names: list[str] = []
        empty_stream = [False] * n_files
        while True:
            pid = _read_number(f)
            if pid == _K_END:
                break
            size = _read_number(f)
            block = io.BytesIO(f.read(size))
            if pid == _K_NAMES:
                if block.read(1)[0] != 0:
                    raise NotImplementedError("external names not supported")
                raw = block.read()
                names = raw.decode("utf-16-le").split("\x00")[:-1]
            elif pid == _K_EMPTY_STREAM:
                empty_stream = _read_bit_vector(block, n_files)
            # every other property (times, attributes, kEmptyFile …)
            # is skipped by the size read above
        if not names:
            names = [f"member{i}" for i in range(n_files)]
        self._files = [
            _FileEntry(name=names[i], has_stream=not empty_stream[i])
            for i in range(n_files)
        ]

    # -- content -------------------------------------------------------
    def namelist(self) -> list[str]:
        return [e.name for e in self._files]

    def _folder_pack_offset(self, folder_idx: int) -> tuple[int, int]:
        # single-coder folders consume exactly one packed stream each
        off = self._base + self._streams.pack_pos
        for i in range(folder_idx):
            off += self._streams.pack_sizes[i]
        return off, self._streams.pack_sizes[folder_idx]

    def _decode_folder_bytes(self, info: _StreamsInfo, folder_idx: int) -> bytes:
        off = self._base + info.pack_pos + sum(info.pack_sizes[:folder_idx])
        self._f.seek(off)
        packed = self._f.read(info.pack_sizes[folder_idx])
        folder = info.folders[folder_idx]
        out = folder.decompressor().decompress(packed)
        return out[: folder.unpack_size]

    def _iter_folder_chunks(self, folder_idx: int, chunk: int) -> Iterator[bytes]:
        off, packed_size = self._folder_pack_offset(folder_idx)
        folder = self._streams.folders[folder_idx]
        dec = folder.decompressor()
        self._f.seek(off)
        remaining_packed = packed_size
        produced = 0
        while remaining_packed > 0 and produced < folder.unpack_size:
            block = self._f.read(min(chunk, remaining_packed))
            remaining_packed -= len(block)
            out = dec.decompress(block)
            if produced + len(out) > folder.unpack_size:
                out = out[: folder.unpack_size - produced]
            produced += len(out)
            if out:
                yield out

    def iter_chunks(self, name: str | int, chunk: int = 1 << 20) -> Iterator[bytes]:
        """Stream one member's decompressed bytes without materializing
        the whole member (the reader's hot path for multi-GB dumps).

        `name` may be an int member index: duplicate member names are
        legal in 7z, and name lookup resolves to the FIRST match — use
        the index form (positions per `namelist()`) to reach the rest."""
        idx = name if isinstance(name, int) else self.namelist().index(name)
        entry = self._files[idx]
        if not entry.has_stream:
            return
        # substream position = count of streamed entries before idx
        # (positional, not value-equality — entries can compare equal)
        pos = sum(1 for e in self._files[:idx] if e.has_stream)
        folder_idx, start = 0, 0
        for fo in self._streams.folders:
            if pos < fo.num_substreams:
                start = sum(fo.substream_sizes[:pos])
                break
            pos -= fo.num_substreams
            folder_idx += 1
        end = start + entry.size
        seen = 0
        for block in self._iter_folder_chunks(folder_idx, chunk):
            lo, hi = seen, seen + len(block)
            seen = hi
            if hi <= start:
                continue
            if lo >= end:
                return
            yield block[max(0, start - lo): min(len(block), end - lo)]

    def read(self, name: str | int) -> bytes:
        return b"".join(self.iter_chunks(name))

    def iter_all(self, chunk: int = 1 << 20) -> Iterator[tuple[str, bytes]]:
        """(member_name, chunk) pairs across ALL members, decompressing
        each folder exactly once — the bulk path for solid archives,
        where per-member iter_chunks would redo the folder prefix per
        member (O(members × folder size))."""
        stream_files = [e for e in self._files if e.has_stream]
        fi = 0
        for folder_idx, folder in enumerate(self._streams.folders):
            members = stream_files[fi: fi + folder.num_substreams]
            fi += folder.num_substreams
            bounds = []
            pos = 0
            for m in members:
                bounds.append((m.name, pos, pos + m.size))
                pos += m.size
            bi = 0
            seen = 0
            for block in self._iter_folder_chunks(folder_idx, chunk):
                lo, hi = seen, seen + len(block)
                seen = hi
                while bi < len(bounds) and bounds[bi][2] <= lo:
                    bi += 1
                j = bi
                while j < len(bounds) and bounds[j][1] < hi:
                    name, start, end = bounds[j]
                    piece = block[max(0, start - lo): min(len(block), end - lo)]
                    if piece:
                        yield name, piece
                    j += 1
        # empty members still announce themselves once
        for e in self._files:
            if not e.has_stream:
                yield e.name, b""

    def iter_lines(self, name: str, encoding: str = "utf-8") -> Iterator[str]:
        """Line iterator over a member — the reference's
        SevenZFile.readlines contract (misc/seven_zip_reader.py:36-53),
        but streaming instead of whole-member decode."""
        tail = b""
        for block in self.iter_chunks(name):
            buf = tail + block
            lines = buf.split(b"\n")
            tail = lines.pop()
            for ln in lines:
                yield ln.decode(encoding, errors="replace") + "\n"
        if tail:
            yield tail.decode(encoding, errors="replace")


def read_text_7z(spark, path: str):
    """All text lines of every .7z file under ``path`` as a DataFrame
    (file string, member string, line string).

    One task per archive file — the 7z container is not splittable, so
    per-file parallelism is the correct (and the reference's) shape:
    its 60 reader processes each own one dump part. Lines stream out
    of the raw decompressor in bounded chunks."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    cols = ["file", "member", "line"]

    def gen(batches):
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                ar = SevenZArchive(bytes(content))
                rows: list[tuple] = []
                tails: dict[str, bytes] = {}
                # single decompression pass over every folder; lines
                # split on BYTES so multi-byte UTF-8 never straddles a
                # decode boundary, and rows flush in bounded batches
                for name, block in ar.iter_all():
                    buf = tails.get(name, b"") + block
                    lines = buf.split(b"\n")
                    tails[name] = lines.pop()
                    rows.extend(
                        (fpath, name, ln.decode("utf-8", errors="replace").rstrip("\r"))
                        for ln in lines
                    )
                    if len(rows) >= 5000:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                for name, tail in tails.items():
                    if tail:
                        rows.append((fpath, name, tail.decode("utf-8", errors="replace")))
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, "file string, member string, line string")
