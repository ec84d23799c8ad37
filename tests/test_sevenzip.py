"""7z container reader (S1) — parser proven against hand-built
archives (no 7z library exists in the image to create fixtures, so
the test builds the container bytes from the public format spec;
round-tripping through the reader proves both directions)."""

from __future__ import annotations

import io
import lzma
import os
import tempfile
import zlib

import pytest

from tempel_spark.sources.sevenzip import MAGIC, SevenZArchive


def _num(n: int) -> bytes:
    """7z NUMBER encoding (small-value forms exercise the reader's
    variable-length path; the 8-byte form its full path)."""
    if n < 0x80:
        return bytes([n])
    if n < 0x4000:
        return bytes([0x80 | (n >> 8), n & 0xFF])
    return b"\xff" + n.to_bytes(8, "little")


def _lzma1_pack(data: bytes) -> tuple[bytes, bytes]:
    """(props, raw packed stream) via the stdlib .lzma container."""
    alone = lzma.compress(data, format=lzma.FORMAT_ALONE)
    return alone[:5], alone[13:]


def _folder_bytes(coder_id: bytes, props: bytes) -> bytes:
    flags = len(coder_id) | (0x20 if props else 0)
    out = _num(1) + bytes([flags]) + coder_id
    if props:
        out += _num(len(props)) + props
    return out


def _names_block(names: list[str]) -> bytes:
    raw = b"\x00" + "".join(n + "\x00" for n in names).encode("utf-16-le")
    return _num(0x11) + _num(len(raw)) + raw


def _streams_info(
    pack_pos: int, pack_sizes: list[int], folder: bytes, unpack_size: int,
    substream_sizes: list[int] | None = None,
) -> bytes:
    out = _num(0x06) + _num(pack_pos) + _num(len(pack_sizes)) + _num(0x09)
    for s in pack_sizes:
        out += _num(s)
    out += _num(0x00)
    out += (
        _num(0x07) + _num(0x0B) + _num(1) + b"\x00" + folder
        + _num(0x0C) + _num(unpack_size) + _num(0x00)
    )
    if substream_sizes is not None:
        out += _num(0x08) + _num(0x0D) + _num(len(substream_sizes)) + _num(0x09)
        for s in substream_sizes[:-1]:  # last is implied
            out += _num(s)
        out += _num(0x00)  # end of SubStreamsInfo
    out += _num(0x00)
    return out


def _wrap(packed: bytes, header: bytes) -> bytes:
    start = (
        len(packed).to_bytes(8, "little")
        + len(header).to_bytes(8, "little")
        + zlib.crc32(header).to_bytes(4, "little")
    )
    return (
        MAGIC + b"\x00\x04" + zlib.crc32(start).to_bytes(4, "little")
        + start + packed + header
    )


def build_7z(
    members: dict[str, bytes] | list[tuple[str, bytes]],
    encoded_header: bool = False,
) -> bytes:
    """Single-folder LZMA1 archive with N members (substreams).
    A list of (name, bytes) pairs allows duplicate member names,
    which are legal in 7z."""
    items = list(members.items()) if isinstance(members, dict) else list(members)
    payload = b"".join(v for _, v in items)
    props, packed = _lzma1_pack(payload)
    folder = _folder_bytes(b"\x03\x01\x01", props)
    sizes = [len(v) for _, v in items]
    header = (
        _num(0x01)
        + _num(0x04)
        + _streams_info(0, [len(packed)], folder, len(payload),
                        substream_sizes=sizes if len(sizes) > 1 else None)
        + _num(0x05) + _num(len(items)) + _names_block([n for n, _ in items])
        + _num(0x00)
        + _num(0x00)
    )
    if not encoded_header:
        return _wrap(packed, header)
    hprops, hpacked = _lzma1_pack(header)
    hfolder = _folder_bytes(b"\x03\x01\x01", hprops)
    enc = _num(0x17) + _streams_info(len(packed), [len(hpacked)], hfolder, len(header))
    return _wrap(packed + hpacked, enc)


PAGE = (
    "<page><title>Falcon</title><ns>0</ns><id>11</id>"
    "<revision><id>7</id><timestamp>2014-02-01T00:00:00Z</timestamp>"
    "<text>[[Falcon Krypton|Falcon]] text body</text></revision></page>"
)


def test_roundtrip_single_member():
    data = ("line one\nline two\n" + PAGE).encode()
    ar = SevenZArchive(build_7z({"dump.xml": data}))
    assert ar.namelist() == ["dump.xml"]
    assert ar.read("dump.xml") == data
    lines = list(ar.iter_lines("dump.xml"))
    assert lines[0] == "line one\n"
    assert "".join(lines) == data.decode()


def test_roundtrip_multi_member_substreams():
    members = {"a.txt": b"alpha\nbeta\n", "b.txt": b"gamma " * 4000}
    ar = SevenZArchive(build_7z(members))
    assert ar.namelist() == ["a.txt", "b.txt"]
    for name, val in members.items():
        assert ar.read(name) == val
    # tiny chunk size forces the substream slicing across chunks
    got = b"".join(ar.iter_chunks("b.txt", chunk=7))
    assert got == members["b.txt"]


def test_duplicate_member_names_index_access():
    # duplicate names are legal in 7z; name lookup hits the first,
    # the positional form reaches every entry
    members = [("dump.xml", b"first copy\n"), ("dump.xml", b"second copy, different\n")]
    ar = SevenZArchive(build_7z(members))
    assert ar.namelist() == ["dump.xml", "dump.xml"]
    assert ar.read("dump.xml") == b"first copy\n"
    assert ar.read(0) == b"first copy\n"
    assert ar.read(1) == b"second copy, different\n"
    assert b"".join(ar.iter_chunks(1, chunk=5)) == b"second copy, different\n"


def test_encoded_header():
    data = b"payload under an LZMA-compressed metadata header\n" * 50
    ar = SevenZArchive(build_7z({"x": data}, encoded_header=True))
    assert ar.read("x") == data


def test_lzma2_and_bzip2_coders():
    data = b"zeta " * 1000
    raw = lzma.compress(
        data, format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "preset": 6}],
    )
    props = lzma._encode_filter_properties(  # noqa: SLF001 — stdlib private, same one 7z libs use
        {"id": lzma.FILTER_LZMA2, "preset": 6}
    )
    folder = _folder_bytes(b"\x21", props)
    header = (
        _num(0x01) + _num(0x04)
        + _streams_info(0, [len(raw)], folder, len(data))
        + _num(0x05) + _num(1) + _names_block(["z"]) + _num(0x00)
        + _num(0x00)
    )
    ar = SevenZArchive(_wrap(raw, header))
    assert ar.read("z") == data

    import bz2

    bpacked = bz2.compress(data)
    bheader = (
        _num(0x01) + _num(0x04)
        + _streams_info(0, [len(bpacked)], _folder_bytes(b"\x04\x02\x02", b""), len(data))
        + _num(0x05) + _num(1) + _names_block(["b"]) + _num(0x00)
        + _num(0x00)
    )
    ar2 = SevenZArchive(_wrap(bpacked, bheader))
    assert ar2.read("b") == data


def test_unsupported_coder_raises():
    header = (
        _num(0x01) + _num(0x04)
        + _streams_info(0, [4], _folder_bytes(b"\x06\xf1\x07\x01", b""), 4)  # AES id
        + _num(0x05) + _num(1) + _names_block(["s"]) + _num(0x00)
        + _num(0x00)
    )
    ar = SevenZArchive(_wrap(b"\x00\x00\x00\x00", header))
    with pytest.raises(NotImplementedError):
        ar.read("s")


def test_bad_magic_rejected():
    with pytest.raises(ValueError):
        SevenZArchive(b"PK\x03\x04 not a seven zip")


def test_iter_all_single_folder_pass_and_utf8_boundaries():
    """iter_all slices every member out of ONE folder decompression,
    and byte-level consumers survive multi-byte UTF-8 characters
    straddling any chunk boundary (chunk=1 forces every straddle)."""
    members = {"a.xml": "héllo wörld é".encode(), "b.xml": "çafé".encode()}
    ar = SevenZArchive(build_7z(members))
    got: dict[str, bytes] = {}
    for name, piece in ar.iter_all(chunk=1):
        got[name] = got.get(name, b"") + piece
    assert got == members


def test_chained_bzip2_streams():
    """7z multithreaded BZip2 folders concatenate independent bz2
    streams; the decompressor must re-chain at each stream end."""
    import bz2

    part1, part2 = b"alpha " * 200, b"omega " * 300
    packed = bz2.compress(part1) + bz2.compress(part2)
    data = part1 + part2
    header = (
        _num(0x01) + _num(0x04)
        + _streams_info(0, [len(packed)], _folder_bytes(b"\x04\x02\x02", b""), len(data))
        + _num(0x05) + _num(1) + _names_block(["m"]) + _num(0x00)
        + _num(0x00)
    )
    ar = SevenZArchive(_wrap(packed, header))
    assert ar.read("m") == data


def test_substream_crc_excludes_folder_digest_streams():
    """7zFormat.txt digest rule: SubStreamsInfo kCRC stores digests
    only for substreams whose CRC is not already known from a
    folder-level digest. Two folders — one single-substream with a
    folder CRC, one with three substreams — must parse with exactly
    3 digests, not 4."""
    import io

    from tempel_spark.sources.sevenzip import _parse_streams_info

    folder = _folder_bytes(b"\x00", b"")  # copy coder
    blob = (
        # PackInfo: two packed streams of 10 and 30 bytes
        _num(0x06) + _num(0) + _num(2) + _num(0x09) + _num(10) + _num(30) + _num(0x00)
        # UnpackInfo: 2 folders + folder-level CRC defined ONLY for folder 0
        + _num(0x07) + _num(0x0B) + _num(2) + b"\x00" + folder + folder
        + _num(0x0C) + _num(10) + _num(30)
        + _num(0x0A) + b"\x00" + b"\x80" + b"\xde\xad\xbe\xef"  # bit vector 10 → 1 digest
        + _num(0x00)
        # SubStreamsInfo: folder0 → 1 substream, folder1 → 3; sizes for
        # folder1's first two; kCRC with 3 digests (folder1's only)
        + _num(0x08)
        + _num(0x0D) + _num(1) + _num(3)
        + _num(0x09) + _num(5) + _num(10)
        + _num(0x0A) + b"\x01" + b"\x01\x02\x03\x04" * 3  # allDefined + 3 digests
        + _num(0x00)
        + _num(0x00)
    )
    info = _parse_streams_info(io.BytesIO(blob))
    assert [f.num_substreams for f in info.folders] == [1, 3]
    assert info.folders[0].crc_defined and not info.folders[1].crc_defined
    assert info.folders[1].substream_sizes == [5, 10, 15]


PAGE2 = (
    "<page><title>Krypton</title><ns>0</ns><id>12</id>"
    "<revision><id>8</id><timestamp>2015-03-01T00:00:00Z</timestamp>"
    "<text>body two</text></revision>"
    "<revision><id>9</id><timestamp>2015-04-01T00:00:00Z</timestamp>"
    "<text>body three</text></revision></page>"
)


def test_read_revision_history_7z(spark, tmp_path):
    from tempel_spark.sources.xml_history import read_revision_history_7z

    blob = build_7z({"part1.xml": ("<mediawiki>" + PAGE + PAGE2 + "</mediawiki>").encode()})
    (tmp_path / "dump.7z").write_bytes(blob)
    rows = read_revision_history_7z(spark, str(tmp_path / "dump.7z")).collect()
    assert {(r.title, r.rev_id) for r in rows} == {("Falcon", 7), ("Krypton", 8), ("Krypton", 9)}
    assert all(r.page_id in (11, 12) for r in rows)


def test_read_text_7z(spark, tmp_path):
    from tempel_spark.sources.sevenzip import read_text_7z

    blob = build_7z({"a.txt": b"alpha\nbeta", "b.txt": b"gamma\n"})
    (tmp_path / "x.7z").write_bytes(blob)
    rows = read_text_7z(spark, str(tmp_path / "x.7z")).collect()
    got = {(r.member, r.line) for r in rows}
    assert got == {("a.txt", "alpha"), ("a.txt", "beta"), ("b.txt", "gamma")}


def _build_7z_two_folders(bz_members, lzma2_members):
    """Real-dump-layout container: folder 0 = chained BZip2 streams
    (the multithreaded-bzip2 layout of enwiki exports), folder 1 =
    LZMA2; members are substreams of their folder, FilesInfo lists
    them in folder order."""
    import bz2

    bz_payload = b"".join(v for _, v in bz_members)
    bz_packed = b"".join(bz2.compress(v) for _, v in bz_members)
    l_payload = b"".join(v for _, v in lzma2_members)
    filt = [{"id": lzma.FILTER_LZMA2, "preset": 6}]
    l_packed = lzma.compress(l_payload, format=lzma.FORMAT_RAW, filters=filt)
    l_props = lzma._encode_filter_properties(filt[0])  # noqa: SLF001

    si = _num(0x06) + _num(0) + _num(2) + _num(0x09)
    si += _num(len(bz_packed)) + _num(len(l_packed)) + _num(0x00)
    si += _num(0x07) + _num(0x0B) + _num(2) + b"\x00"
    si += _folder_bytes(b"\x04\x02\x02", b"") + _folder_bytes(b"\x21", l_props)
    si += _num(0x0C) + _num(len(bz_payload)) + _num(len(l_payload)) + _num(0x00)
    si += _num(0x08) + _num(0x0D) + _num(len(bz_members)) + _num(len(lzma2_members))
    si += _num(0x09)
    for _, v in bz_members[:-1]:
        si += _num(len(v))
    for _, v in lzma2_members[:-1]:
        si += _num(len(v))
    si += _num(0x00)
    si += _num(0x00)
    names = [n for n, _ in bz_members] + [n for n, _ in lzma2_members]
    header = (
        _num(0x01) + _num(0x04) + si
        + _num(0x05) + _num(len(names)) + _names_block(names)
        + _num(0x00) + _num(0x00)
    )
    return _wrap(bz_packed + l_packed, header)


def _mw(body: str) -> bytes:
    return (
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" xml:lang="en">\n'
        "  <siteinfo><sitename>Wikipedia</sitename><dbname>enwiki</dbname></siteinfo>\n"
        + body + "\n</mediawiki>\n"
    ).encode()


def _rev(rid, ts, text):
    return (
        f"<revision><id>{rid}</id><parentid>0</parentid>"
        f"<timestamp>{ts}</timestamp>"
        f"<contributor><username>Ed</username><id>1</id></contributor>"
        f"<comment>edit</comment><model>wikitext</model><format>text/x-wiki</format>"
        f'<text bytes="{len(text)}" xml:space="preserve">{text}</text>'
        f"<sha1>deadbeef</sha1></revision>"
    )


def test_enwiki_layout_dump_end_to_end(spark):
    """r2 VERDICT #6: S1 beyond hand-built container bytes — an
    archive in the actual enwiki-history export layout (multi-page,
    multi-revision, chained-BZip2 AND LZMA2 folders, siteinfo
    preamble, <redirect> elements, contributor/sha1 revision fields,
    UTF-8 text, a non-article namespace page) driven through
    read_revision_history_7z → redirect/ns filters → as-of stable
    fold → wikitext clean (convert expansion) → mention extraction,
    asserting the final (page, cut, mention) rows."""
    from pyspark.sql import functions as F

    from tempel_spark.functions.mentions import extract_mentions
    from tempel_spark.functions.text import clean_wikitext_udf
    from tempel_spark.operators.asof import asof_stable_version
    from tempel_spark.sources.xml_history import read_revision_history_7z

    falcon = "<page><title>Falcon</title><ns>0</ns><id>11</id>" + _rev(
        101, "2013-05-01T00:00:00Z",
        "The [[Peregrine Falcon|peregrine]] dives at {{convert|389|km/h|mph}} speed.",
    ) + _rev(
        102, "2014-06-01T00:00:00Z",
        "The [[Peregrine Falcon|peregrine]] and [[Kestrel]] soar.",
    ) + _rev(
        103, "2014-12-28T23:00:00Z", "Vandalized [[Junk]] text",
    ) + "</page>"
    duck = (
        '<page><title>Duck Hawk</title><ns>0</ns><id>12</id>'
        '<redirect title="Falcon"/>'
        + _rev(201, "2013-02-01T00:00:00Z", "#REDIRECT [[Falcon]]") + "</page>"
    )
    krypton = "<page><title>Krypton</title><ns>0</ns><id>13</id>" + _rev(
        301, "2013-03-01T00:00:00Z", "A [[Noble gas|noble]] gaß element.",
    ) + _rev(
        302, "2014-03-15T00:00:00Z", "[[Noble gas]] and [[Xenon]] mixes.",
    ) + "</page>"
    template = "<page><title>Template:Foo</title><ns>10</ns><id>14</id>" + _rev(
        401, "2013-01-15T00:00:00Z", "[[ShouldNotAppear]]",
    ) + "</page>"

    blob = _build_7z_two_folders(
        bz_members=[
            ("enwiki-part1.xml", _mw(falcon)),
            ("enwiki-part2.xml", _mw(duck)),
        ],
        lzma2_members=[("enwiki-part3.xml", _mw(krypton + template))],
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "enwiki-history.7z")
        with open(path, "wb") as fh:
            fh.write(blob)

        revs = read_revision_history_7z(spark, path).cache()
        # reader fidelity: every revision of every member surfaced,
        # redirect attribute captured, namespaces intact
        assert {(r.page_id, r.rev_id) for r in revs.collect()} == {
            (11, 101), (11, 102), (11, 103), (12, 201), (13, 301), (13, 302), (14, 401),
        }
        assert {r.redirect for r in revs.filter("page_id = 12").collect()} == {"Falcon"}

        # the reference's processing chain (s01:400-513): redirect +
        # namespace filters, then the W5 stable fold per cut
        articles = revs.filter((F.col("ns") == 0) & (F.col("redirect") == ""))
        folded = asof_stable_version(
            articles.withColumn("rev_ts", F.to_timestamp("rev_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")),
            key_cols=["page_id"],
            snapshots=["2014-01-01 00:00:00", "2015-01-01 00:00:00"],
        )
        picked = {(r.page_id, str(r.snapshot_ts)): r.rev_id for r in folded.collect()}
        assert picked == {
            (11, "2014-01-01 00:00:00"): 101,   # aged past look-back
            (11, "2015-01-01 00:00:00"): 102,   # 103 too fresh → demoted
            (13, "2014-01-01 00:00:00"): 301,
            (13, "2015-01-01 00:00:00"): 302,   # already old at cut (292 d)
        }

        # clean: the convert template EXPANDS (389 km/h → 242 mph)
        cleaned = folded.select("page_id", "snapshot_ts", clean_wikitext_udf("rev_text").alias("c"))
        c14 = {r.page_id: r.c for r in cleaned.filter("snapshot_ts = '2014-01-01'").collect()}
        assert "389 kilometres per hour (242 mph)" in c14[11]
        assert "gaß" in c14[13]  # UTF-8 survived byte-level chunk splits

        # mention extraction on the stable source (s01:458-462)
        m = extract_mentions(
            folded.select(
                F.col("page_id").cast("string").alias("conv_id"),
                F.col("rev_id").alias("turn_idx"),
                "snapshot_ts",
                F.col("rev_text").alias("text"),
            )
        )
        got = {(r.conv_id, str(r.snapshot_ts), r.target_id) for r in m.collect()}
        assert got == {
            ("11", "2014-01-01 00:00:00", "Peregrine_Falcon"),
            ("11", "2015-01-01 00:00:00", "Peregrine_Falcon"),
            ("11", "2015-01-01 00:00:00", "Kestrel"),
            ("13", "2014-01-01 00:00:00", "Noble_gas"),
            ("13", "2015-01-01 00:00:00", "Noble_gas"),
            ("13", "2015-01-01 00:00:00", "Xenon"),
        }
