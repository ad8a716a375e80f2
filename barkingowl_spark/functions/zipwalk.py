"""ZIP container walk — late r5: archive introspection for crawled
payloads (office documents, data dumps and jars are all ZIP
containers; a crawler that sniffs `application/zip` should be able
to say what is inside without trusting the transport). Hand-rolled
on the family convention: stdlib struct + zlib only, deterministic
output, ValueError for corrupt input, NotImplementedError for
valid-but-unsupported member compression methods.

  * list_zip_members: locate the end-of-central-directory record
    (scan the final 64 KiB + 22 bytes for PK\\x05\\x06, rightmost
    match wins — the comment field makes the tail variable), walk
    the central directory (PK\\x01\\x02 entries: name, method,
    sizes, CRC-32, local-header offset), then for each member walk
    its local header (PK\\x03\\x04, skipping the local name/extra
    fields, which may differ from the central ones), decompress
    (method 0 = stored, 8 = raw deflate via zlib, wbits=-15) and
    verify BOTH the declared uncompressed size and the CRC-32 —
    crc_ok is computed from the actual bytes, never trusted from
    the directory. Methods other than 0/8 (implode, bzip2, lzma,
    AES) raise NotImplementedError.
  * ZIP64 (r5 third session — the 4 GiB / 65535-member design point
    a 100 TB crawl actually hits): 0xFFFF / 0xFFFFFFFF markers in
    the EOCD route through the EOCD64 locator to the 64-bit record,
    and marker-carrying central entries resolve their real values
    from the 0x0001 extra field in APPNOTE's fixed subset order.
    Multi-disk archives (classic or ZIP64) stay NotImplementedError.
  * build_zip / build_zip64: the fixture writers — stored or
    deflated members with real central/local headers (build_zip64
    forces the full ZIP64 shape at any size, exactly what large
    writers emit past 4 GiB, exercisable without a 4 GiB file), so
    every walk path is exercised by round-trip.

Spark surface: operators/multimodal.zip_members — mapInPandas over
the payload column (one Arrow pass, bytes never row-at-a-time), one
output row per member. Driver query zip_members pins the whole walk
against a DuckDB oracle that recomputes the expected member table
from the fixture formula (crc_ok TRUE is the load-bearing bit: a
decompress or CRC bug cannot hide).
"""

from __future__ import annotations

import struct
import zlib

ZIP_EOCD = b"PK\x05\x06"
ZIP_EOCD64 = b"PK\x06\x06"
ZIP_EOCD64_LOC = b"PK\x06\x07"
ZIP_CDE = b"PK\x01\x02"
ZIP_LOCAL = b"PK\x03\x04"


def list_zip_members(
    payload: bytes,
) -> list[tuple[str, int, int, int, bool]]:
    """payload -> [(name, method, usize, csize, crc_ok)] in central
    directory order. ValueError on corrupt containers."""
    try:
        return _walk_checked(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt ZIP: {e}") from e


def _zip64_extra(extra: bytes, usize: int, csize: int,
                 lho: int) -> tuple[int, int, int]:
    """Resolve 0xFFFFFFFF markers from the 0x0001 ZIP64 extra
    field. APPNOTE 4.5.3: the 8-byte values appear in fixed order
    (usize, csize, lho, disk) but ONLY for the fields whose 32-bit
    slots carry the marker."""
    pos = 0
    while pos + 4 <= len(extra):
        (hid, hlen) = struct.unpack("<HH", extra[pos:pos + 4])
        body = extra[pos + 4:pos + 4 + hlen]
        pos += 4 + hlen
        if hid != 0x0001:
            continue
        bp = 0

        def take(n: int) -> int:
            nonlocal bp
            if bp + n > len(body):
                raise ValueError("short ZIP64 extra field")
            v = int.from_bytes(body[bp:bp + n], "little")
            bp += n
            return v

        if usize == 0xFFFFFFFF:
            usize = take(8)
        if csize == 0xFFFFFFFF:
            csize = take(8)
        if lho == 0xFFFFFFFF:
            lho = take(8)
        return usize, csize, lho
    if 0xFFFFFFFF in (usize, csize, lho):
        raise ValueError("ZIP64 marker without a 0x0001 extra field")
    return usize, csize, lho


def _walk_checked(
    payload: bytes,
) -> list[tuple[str, int, int, int, bool]]:
    tail_start = max(0, len(payload) - 65536 - 22)
    eocd = payload.rfind(ZIP_EOCD, tail_start)
    if eocd < 0:
        raise ValueError("no ZIP end-of-central-directory record")
    if eocd + 22 > len(payload):
        raise ValueError("truncated EOCD record")
    (n_disk, n_total, cd_size, cd_off) = struct.unpack(
        "<HHII", payload[eocd + 8:eocd + 20])
    if (n_total == 0xFFFF or cd_off == 0xFFFFFFFF
            or cd_size == 0xFFFFFFFF):
        # ZIP64: the EOCD64 locator sits immediately before the EOCD
        loc = eocd - 20
        if loc < 0 or payload[loc:loc + 4] != ZIP_EOCD64_LOC:
            raise ValueError("ZIP64 markers without an EOCD64 locator")
        (l_disk, e64_off, l_total) = struct.unpack(
            "<IQI", payload[loc + 4:loc + 20])
        if l_disk != 0 or l_total != 1:
            raise NotImplementedError("multi-disk ZIP64 archive")
        if payload[e64_off:e64_off + 4] != ZIP_EOCD64:
            raise ValueError("bad EOCD64 record signature")
        (d_this, d_cd, n_this, n_total, cd_size, cd_off) = (
            struct.unpack("<IIQQQQ", payload[e64_off + 16:
                                             e64_off + 56]))
        if d_this != d_cd or n_this != n_total:
            raise NotImplementedError("multi-disk ZIP64 archive")
    elif n_disk != n_total:
        raise NotImplementedError("multi-disk ZIP archive")
    if cd_off + cd_size > len(payload):
        raise ValueError("central directory outside file")

    out = []
    pos = cd_off
    for _ in range(n_total):
        if payload[pos:pos + 4] != ZIP_CDE:
            raise ValueError("bad central directory signature")
        # fixed CD fields from offset 10: method, dos time+date
        # (skipped), crc, csize, usize, name/extra/comment lengths,
        # disk + internal attrs (skipped), external attrs (skipped),
        # local header offset
        (method, crc, csize, usize, nlen, elen, clen, lho) = (
            struct.unpack(
                "<H4xIIIHHH2x2x4xI", payload[pos + 10:pos + 46]))
        name = payload[pos + 46:pos + 46 + nlen].decode(
            "utf-8", "replace")
        extra = payload[pos + 46 + nlen:pos + 46 + nlen + elen]
        pos += 46 + nlen + elen + clen
        if 0xFFFFFFFF in (csize, usize, lho):
            usize, csize, lho = _zip64_extra(extra, usize, csize, lho)
        if method not in (0, 8):
            raise NotImplementedError(
                f"ZIP compression method {method} (stored/deflate)")
        # local header walk: its name/extra lengths may differ from
        # the central ones, so re-read them here
        if payload[lho:lho + 4] != ZIP_LOCAL:
            raise ValueError("bad local header signature")
        (lnlen, lelen) = struct.unpack(
            "<HH", payload[lho + 26:lho + 30])
        data_off = lho + 30 + lnlen + lelen
        raw = payload[data_off:data_off + csize]
        if len(raw) != csize:
            raise ValueError("member data outside file")
        if method == 0:
            data = raw
        else:
            try:
                data = zlib.decompress(raw, wbits=-15)
            except zlib.error as e:
                raise ValueError(f"bad deflate member: {e}") from e
        crc_ok = len(data) == usize and zlib.crc32(data) == crc
        out.append((name, method, usize, csize, crc_ok))
    return out


def read_zip_member(payload: bytes, name: str) -> bytes:
    """Decompressed bytes of the named member (first match in
    central-directory order), CRC-verified — ValueError if absent
    or failing its checksum (or corrupt). The random-access
    primitive the office-document extractors build on."""
    try:
        return _read_member(payload, name)
    except (struct.error, IndexError, zlib.error) as e:
        raise ValueError(f"corrupt ZIP: {e}") from e


def _read_member(payload: bytes, name: str) -> bytes:
    tail_start = max(0, len(payload) - 65536 - 22)
    eocd = payload.rfind(ZIP_EOCD, tail_start)
    if eocd < 0:
        raise ValueError("no ZIP end-of-central-directory record")
    (n_disk, n_total, cd_size, cd_off) = struct.unpack(
        "<HHII", payload[eocd + 8:eocd + 20])
    if (n_total == 0xFFFF or cd_off == 0xFFFFFFFF
            or cd_size == 0xFFFFFFFF):
        loc = eocd - 20
        if loc < 0 or payload[loc:loc + 4] != ZIP_EOCD64_LOC:
            raise ValueError("ZIP64 markers without an EOCD64 locator")
        (_d, e64_off, _t) = struct.unpack(
            "<IQI", payload[loc + 4:loc + 20])
        (n_total, cd_off) = struct.unpack(
            "<QQ", payload[e64_off + 32:e64_off + 40]
            + payload[e64_off + 48:e64_off + 56])
    pos = cd_off
    target = name.encode("utf-8")
    for _ in range(n_total):
        if payload[pos:pos + 4] != ZIP_CDE:
            raise ValueError("bad central directory signature")
        (method, crc, csize, usize, nlen, elen, clen, lho) = (
            struct.unpack(
                "<H4xIIIHHH2x2x4xI", payload[pos + 10:pos + 46]))
        mname = payload[pos + 46:pos + 46 + nlen]
        extra = payload[pos + 46 + nlen:pos + 46 + nlen + elen]
        pos += 46 + nlen + elen + clen
        if mname != target:
            continue
        if 0xFFFFFFFF in (csize, usize, lho):
            usize, csize, lho = _zip64_extra(extra, usize, csize, lho)
        if method not in (0, 8):
            raise NotImplementedError(
                f"ZIP compression method {method} (stored/deflate)")
        (lnlen, lelen) = struct.unpack(
            "<HH", payload[lho + 26:lho + 30])
        data_off = lho + 30 + lnlen + lelen
        raw = payload[data_off:data_off + csize]
        if len(raw) != csize:
            raise ValueError("member data outside file")
        data = raw if method == 0 else zlib.decompress(raw, wbits=-15)
        if len(data) != usize or zlib.crc32(data) != crc:
            raise ValueError(f"ZIP member {name} fails its CRC")
        return data
    raise ValueError(f"ZIP member {name} not found")


def build_zip(
    members: list[tuple[str, bytes, int]],
) -> bytes:
    """[(name, data, method 0|8)] -> ZIP bytes with real local +
    central headers (the fixture writer)."""
    locals_blob = bytearray()
    cd_blob = bytearray()
    offsets = []
    for name, data, method in members:
        if method not in (0, 8):
            raise ValueError("method must be 0 (store) or 8")
        nb = name.encode("utf-8")
        raw = (data if method == 0
               else zlib.compress(data, 6)[2:-4])  # raw deflate
        crc = zlib.crc32(data)
        offsets.append(len(locals_blob))
        locals_blob += (ZIP_LOCAL
                        + struct.pack("<HHHHHIIIHH", 20, 0, method,
                                      0, 0, crc, len(raw), len(data),
                                      len(nb), 0)
                        + nb + raw)
    for (name, data, method), off in zip(members, offsets):
        nb = name.encode("utf-8")
        raw_len = (len(data) if method == 0
                   else len(zlib.compress(data, 6)) - 6)
        cd_blob += (ZIP_CDE
                    + struct.pack("<HHHHHHIIIHHHHHII", 20, 20, 0,
                                  method, 0, 0, zlib.crc32(data),
                                  raw_len, len(data), len(nb), 0, 0,
                                  0, 0, 0, off)
                    + nb)
    eocd = (ZIP_EOCD
            + struct.pack("<HHHHIIH", 0, 0, len(members),
                          len(members), len(cd_blob),
                          len(locals_blob), 0))
    return bytes(locals_blob + cd_blob + eocd)


def build_zip64(
    members: list[tuple[str, bytes, int]],
) -> bytes:
    """[(name, data, method 0|8)] -> ZIP64 bytes: every 32-bit
    size/offset slot carries the 0xFFFFFFFF marker with the real
    value in a 0x0001 extra field, EOCD64 + locator precede an
    all-markers EOCD (the forced-ZIP64 shape, exactly what large
    writers emit past 4 GiB — exercisable without a 4 GiB file)."""
    locals_blob = bytearray()
    cd_blob = bytearray()
    metas = []
    for name, data, method in members:
        if method not in (0, 8):
            raise ValueError("method must be 0 (store) or 8")
        nb = name.encode("utf-8")
        raw = (data if method == 0
               else zlib.compress(data, 6)[2:-4])
        crc = zlib.crc32(data)
        lho = len(locals_blob)
        lextra = struct.pack("<HHQQ", 0x0001, 16, len(data), len(raw))
        locals_blob += (ZIP_LOCAL
                        + struct.pack("<HHHHHIIIHH", 45, 0, method,
                                      0, 0, crc, 0xFFFFFFFF,
                                      0xFFFFFFFF, len(nb),
                                      len(lextra))
                        + nb + lextra + raw)
        metas.append((nb, crc, len(raw), len(data), lho, method))
    for nb, crc, clen, ulen, lho, method in metas:
        cextra = struct.pack("<HHQQQ", 0x0001, 24, ulen, clen, lho)
        cd_blob += (ZIP_CDE
                    + struct.pack("<HHHHHHIIIHHHHHII", 45, 45, 0,
                                  method,
                                  0, 0, crc, 0xFFFFFFFF, 0xFFFFFFFF,
                                  len(nb), len(cextra), 0, 0, 0, 0,
                                  0xFFFFFFFF)
                    + nb + cextra)
    cd_off = len(locals_blob)
    e64_off = cd_off + len(cd_blob)
    eocd64 = (ZIP_EOCD64
              + struct.pack("<QHHIIQQQQ", 44, 45, 45, 0, 0,
                            len(members), len(members),
                            len(cd_blob), cd_off))
    loc = ZIP_EOCD64_LOC + struct.pack("<IQI", 0, e64_off, 1)
    eocd = (ZIP_EOCD
            + struct.pack("<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF,
                          0xFFFFFFFF, 0xFFFFFFFF, 0))
    return bytes(locals_blob + cd_blob + eocd64 + loc + eocd)
