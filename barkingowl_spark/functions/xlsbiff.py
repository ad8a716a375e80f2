"""Legacy Excel `.xls` (BIFF8 over MS-CFB) cell extraction — r5
third session: the spreadsheet half of the legacy office pair
(.doc landed with functions/doctext.py; crawled archives carry
.xls in the same era's volume). Built on functions/cfbwalk.py;
stdlib struct only, ValueError for corrupt input,
NotImplementedError for valid-but-unsupported shapes.

The deterministically-parseable BIFF8 core:

  * the Workbook (or legacy Book) CFB stream as a flat record walk
    — (u16 id, u16 length) headers; the globals and worksheet
    substreams are concatenated, so one linear scan sees both (BOF
    records are checked for the BIFF8 version, EOFs end
    substreams);
  * SST (0x00FC): cUnique XLUnicodeRichExtendedString entries —
    compressed (latin-1-per-byte) and uncompressed (UTF-16LE)
    strings, rich-run counts and ext-block sizes skipped per
    flags; an SST spilling into CONTINUE records is the declared
    seam (fixture strings stay under one record);
  * cells: LABELSST (0x00FD, isst into the SST), NUMBER (0x0203,
    IEEE double), RK (0x027E, the packed 30-bit form: fInt >> 2 or
    the high-30-bits double, both with the optional /100) and
    MULRK (0x00BD, a run of RKs sharing a row);
  * output (ref, kind, value) matching extract_xlsx_cells' shape —
    refs in A1 form, numbers rendered integer-exactly when
    integral (the oracle convention).
  * build_xls: the fixture writer — a real globals substream (BOF +
    SST + EOF) followed by a worksheet substream with
    LABELSST/NUMBER/RK records, wrapped in build_cfb.

Spark surface: operators/multimodal.xls_cells; driver query
xls_cells pins the whole CFB -> record walk -> SST chain.
"""

from __future__ import annotations

import struct

from barkingowl_spark.functions.cfbwalk import (
    build_cfb,
    read_cfb_stream,
)

_BOF = 0x0809
_EOF = 0x000A
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD


def _col_ref(col: int) -> str:
    out = ""
    col += 1
    while col:
        col, rem = divmod(col - 1, 26)
        out = chr(65 + rem) + out
    return out


def _rk_value(rk: int) -> float:
    v: float
    if rk & 2:  # fInt: signed 30-bit integer
        v = float((rk >> 2) - (1 << 30) if rk & 0x80000000
                  else rk >> 2)
    else:
        (v,) = struct.unpack("<d", struct.pack(
            "<Q", (rk & 0xFFFFFFFC) << 32))
    return v / 100 if rk & 1 else v


def _num_str(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(v)


def _parse_sst(body: bytes) -> list[str]:
    (_total, unique) = struct.unpack("<ii", body[:8])
    pos = 8
    out: list[str] = []
    for _ in range(unique):
        if pos + 3 > len(body):
            raise ValueError("truncated SST entry")
        (cch,) = struct.unpack("<H", body[pos:pos + 2])
        flags = body[pos + 2]
        pos += 3
        if flags & 0xF2:
            pass  # rich/ext bits handled below; others reserved
        runs = 0
        ext = 0
        if flags & 0x08:  # fRichSt
            (runs,) = struct.unpack("<H", body[pos:pos + 2])
            pos += 2
        if flags & 0x04:  # fExtSt
            (ext,) = struct.unpack("<I", body[pos:pos + 4])
            pos += 4
        if flags & 0x01:  # fHighByte: UTF-16LE
            raw = body[pos:pos + 2 * cch]
            if len(raw) != 2 * cch:
                raise NotImplementedError(
                    "SST spilling into CONTINUE records")
            out.append(raw.decode("utf-16-le"))
            pos += 2 * cch
        else:  # compressed: one latin-1 byte per char
            raw = body[pos:pos + cch]
            if len(raw) != cch:
                raise NotImplementedError(
                    "SST spilling into CONTINUE records")
            out.append(raw.decode("latin-1"))
            pos += cch
        pos += 4 * runs + ext
    return out


def extract_xls_cells(
    payload: bytes,
) -> list[tuple[str, str, str]]:
    """payload -> [(cell_ref, kind, value)] in record order; kind
    's' for SST labels, 'n' for NUMBER/RK/MULRK. ValueError on
    corrupt input, truncated records included."""
    try:
        return _xls_cells(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt XLS: {e}") from e


def _xls_cells(payload: bytes) -> list[tuple[str, str, str]]:
    try:
        stream = read_cfb_stream(payload, "Workbook")
    except ValueError:
        stream = read_cfb_stream(payload, "Book")
    pos = 0
    sst: list[str] = []
    out: list[tuple[str, str, str]] = []
    saw_bof = False
    while pos + 4 <= len(stream):
        (rid, rlen) = struct.unpack("<HH", stream[pos:pos + 4])
        body = stream[pos + 4:pos + 4 + rlen]
        if len(body) != rlen:
            raise ValueError("BIFF record outside stream")
        pos += 4 + rlen
        if rid == _BOF:
            (vers,) = struct.unpack("<H", body[:2])
            if vers != 0x0600:
                raise NotImplementedError(
                    f"BIFF version {vers:#x} (BIFF8 only)")
            saw_bof = True
        elif rid == _SST:
            sst = _parse_sst(body)
        elif rid == _CONTINUE and not out and sst:
            raise NotImplementedError(
                "SST spilling into CONTINUE records")
        elif rid == _LABELSST:
            row, col, _ixfe, isst = struct.unpack("<HHHI", body[:10])
            if not 0 <= isst < len(sst):
                raise ValueError(f"SST index {isst} out of range")
            out.append((f"{_col_ref(col)}{row + 1}", "s",
                        sst[isst]))
        elif rid == _NUMBER:
            row, col, _ixfe = struct.unpack("<HHH", body[:6])
            (v,) = struct.unpack("<d", body[6:14])
            out.append((f"{_col_ref(col)}{row + 1}", "n",
                        _num_str(v)))
        elif rid == _RK:
            row, col, _ixfe, rk = struct.unpack("<HHHI", body[:10])
            out.append((f"{_col_ref(col)}{row + 1}", "n",
                        _num_str(_rk_value(rk))))
        elif rid == _MULRK:
            (row, col0) = struct.unpack("<HH", body[:4])
            (col_last,) = struct.unpack("<H", body[-2:])
            n = col_last - col0 + 1
            if len(body) != 6 + 6 * n:
                raise ValueError("bad MULRK length")
            for i in range(n):
                (rk,) = struct.unpack(
                    "<I", body[4 + 6 * i + 2:4 + 6 * i + 6])
                out.append((f"{_col_ref(col0 + i)}{row + 1}", "n",
                            _num_str(_rk_value(rk))))
    if not saw_bof:
        raise ValueError("Workbook stream without a BIFF8 BOF")
    return out


def build_xls(cells: list[tuple[str, object]]) -> bytes:
    """[(ref, value)] -> .xls bytes: strings through a real SST
    (every second one UTF-16; every third rich-run-flagged),
    integers under 2^29 as RK fInt records, other numbers as
    NUMBER doubles. refs must be single-letter columns (the
    fixture domain)."""
    def rec(rid: int, body: bytes) -> bytes:
        return struct.pack("<HH", rid, len(body)) + body

    sst: list[str] = []
    cellrecs: list[bytes] = []
    for ref, val in cells:
        col = ord(ref[0]) - 65
        row = int(ref[1:]) - 1
        if isinstance(val, str):
            isst = len(sst)
            sst.append(val)
            cellrecs.append(rec(_LABELSST, struct.pack(
                "<HHHI", row, col, 0, isst)))
        elif isinstance(val, int) and abs(val) < (1 << 29):
            rk = ((val & ((1 << 30) - 1)) << 2) | 2
            cellrecs.append(rec(_RK, struct.pack(
                "<HHHI", row, col, 0, rk)))
        else:
            cellrecs.append(rec(_NUMBER, struct.pack(
                "<HHHd", row, col, 0, float(val))))
    entries = bytearray()
    for i, s in enumerate(sst):
        wide = i % 2 == 1 or any(ord(c) > 255 for c in s)
        rich = i % 3 == 2
        flags = (1 if wide else 0) | (8 if rich else 0)
        entries += struct.pack("<HB", len(s), flags)
        if rich:
            entries += struct.pack("<H", 1)  # one format run
        entries += (s.encode("utf-16-le") if wide
                    else s.encode("latin-1"))
        if rich:
            entries += b"\x00\x00\x00\x00"  # the run itself
    sst_body = struct.pack("<ii", len(sst), len(sst)) + entries
    bof = struct.pack("<HHHHIIH", 0x0600, 0x0005, 0x0DBB, 0x07CC,
                      0, 0, 0)[:16]
    bof_ws = struct.pack("<HHHHIIH", 0x0600, 0x0010, 0x0DBB,
                         0x07CC, 0, 0, 0)[:16]
    stream = (rec(_BOF, bof) + rec(_SST, sst_body) + rec(_EOF, b"")
              + rec(_BOF, bof_ws) + b"".join(cellrecs)
              + rec(_EOF, b""))
    return build_cfb([("Workbook", stream)])


# ---- PowerPoint 97 (.ppt): the third leg of the legacy trio -------------
#
# The PPT97 format is a tree of atoms, but its TEXT lives in exactly
# two leaf types whose payloads are self-contained, so a flat scan of
# the "PowerPoint Document" stream recovers the deck text without the
# PersistDirectory machinery: TextCharsAtom (0x0FA0, UTF-16LE) and
# TextBytesAtom (0x0FA8, one latin-1-compatible byte per char). Atom
# headers are (u16 verAndInstance, u16 recType, u32 recLen);
# container atoms (recVer 0xF) hold children in their payload, so the
# scan recurses into containers and takes leaves in document order —
# exactly the order the deck renders.

_PPT_CONTAINER_VER = 0x0F
_PPT_TEXTCHARS = 0x0FA0
_PPT_TEXTBYTES = 0x0FA8


def _ppt_scan(blob: bytes, out: list[str], depth: int = 0) -> None:
    if depth > 32:
        raise ValueError("PPT atom nesting too deep")
    pos = 0
    while pos + 8 <= len(blob):
        (vi, rtype, rlen) = struct.unpack(
            "<HHI", blob[pos:pos + 8])
        body = blob[pos + 8:pos + 8 + rlen]
        if len(body) != rlen:
            raise ValueError("PPT atom outside stream")
        pos += 8 + rlen
        if vi & 0x000F == _PPT_CONTAINER_VER:
            _ppt_scan(body, out, depth + 1)
        elif rtype == _PPT_TEXTCHARS:
            if rlen % 2:
                raise ValueError("odd TextCharsAtom length")
            out.append(body.decode("utf-16-le"))
        elif rtype == _PPT_TEXTBYTES:
            out.append(body.decode("latin-1"))


def extract_ppt_text(payload: bytes) -> tuple[int, str]:
    """CFB payload -> (n_texts, text): every TextCharsAtom /
    TextBytesAtom of the PowerPoint Document stream in document
    order, runs joined with newline (PPT's \\r paragraph marks
    mapped to \\n, the doctext convention)."""
    stream = read_cfb_stream(payload, "PowerPoint Document")
    out: list[str] = []
    _ppt_scan(stream, out)
    return len(out), "\n".join(t.replace("\r", "\n") for t in out)


def build_ppt(texts: list[str]) -> bytes:
    """Text runs -> a minimal .ppt: a Document container atom
    holding one TextCharsAtom or TextBytesAtom per run (UTF-16 when
    non-latin-1 or on odd indices, bytes otherwise), wrapped in
    build_cfb under the spec stream name."""
    atoms = bytearray()
    for i, t in enumerate(texts):
        wide = i % 2 == 1 or any(ord(c) > 255 for c in t)
        if wide:
            body = t.encode("utf-16-le")
            atoms += struct.pack("<HHI", 0x0000, _PPT_TEXTCHARS,
                                 len(body)) + body
        else:
            body = t.encode("latin-1")
            atoms += struct.pack("<HHI", 0x0000, _PPT_TEXTBYTES,
                                 len(body)) + body
    doc = struct.pack("<HHI", 0x000F, 0x03E8, len(atoms)) + atoms
    return build_cfb([("PowerPoint Document", bytes(doc))])
