"""Legacy Word `.doc` text extraction (MS-DOC over MS-CFB) — r5
third session: THE doc-type BarkingOwl was named for. Built on
functions/cfbwalk.py; stdlib struct only, ValueError for corrupt
input, NotImplementedError for valid-but-unsupported shapes.

The deterministically-parseable core of the Word 97+ binary format:

  * FIB in the WordDocument stream: wIdent 0xA5EC checked, the
    fWhichTblStm bit (0x0200 at offset 0x0A) selects the 0Table /
    1Table stream, ccpText (main-document character count) at
    offset 0x4C, fcClx/lcbClx at 0x1A2/0x1A6 (the FibRgFcLcb97
    slot that locates the piece table).
  * Clx in the table stream: Prc property blocks (clxt 0x01)
    skipped, Pcdt (clxt 0x02) -> PlcPcd: n+1 CPs then n 8-byte
    PCDs; each PCD's fc carries the fCompressed bit (0x40000000) —
    set means CP1252 single-byte text at fc/2, clear means UTF-16LE
    at fc — exactly how Word mixes 8-bit and 16-bit pieces in one
    document.
  * Main-document text = the first ccpText characters across the
    pieces in CP order; paragraph marks (\\r) map to \\n. Encrypted
    documents (fEncrypted bit 0x0100) raise NotImplementedError;
    fast-saved complexity is exactly what the piece table encodes,
    so it needs no special casing.
  * build_doc: the fixture writer — a real FIB + piece table with
    caller-chosen per-piece encodings; CP ranges and fc offsets are
    absolute ground truth the strict reader re-verifies.

Spark surface: doc_texts rows join office_texts' container tier;
driver query doc_texts pins the whole FIB -> Clx -> piece chain
against a DuckDB text-formula oracle.
"""

from __future__ import annotations

import struct

from barkingowl_spark.functions.cfbwalk import (
    build_cfb,
    read_cfb_stream,
)

_WIDENT = 0xA5EC


def extract_doc_text(payload: bytes) -> tuple[int, str]:
    """CFB payload -> (n_chars, text) of the main document. ValueError
    on corrupt input, a truncated Clx included."""
    try:
        return _doc_text(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt DOC: {e}") from e


def _doc_text(payload: bytes) -> tuple[int, str]:
    word = read_cfb_stream(payload, "WordDocument")
    if len(word) < 0x200:
        raise ValueError("WordDocument stream too short for a FIB")
    (wident,) = struct.unpack("<H", word[0:2])
    if wident != _WIDENT:
        raise ValueError("WordDocument stream missing FIB magic")
    (flags,) = struct.unpack("<H", word[0x0A:0x0C])
    if flags & 0x0100:
        raise NotImplementedError("encrypted .doc")
    table_name = "1Table" if flags & 0x0200 else "0Table"
    (ccp_text,) = struct.unpack("<i", word[0x4C:0x50])
    if ccp_text < 0:
        raise ValueError("negative ccpText")
    (fc_clx, lcb_clx) = struct.unpack("<II", word[0x1A2:0x1AA])
    table = read_cfb_stream(payload, table_name)
    clx = table[fc_clx:fc_clx + lcb_clx]
    if len(clx) != lcb_clx:
        raise ValueError("Clx outside table stream")

    # walk Prc blocks to the Pcdt
    pos = 0
    while pos < len(clx) and clx[pos] == 0x01:
        (cb,) = struct.unpack("<H", clx[pos + 1:pos + 3])
        pos += 3 + cb
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError("Clx missing Pcdt")
    (lcb_plc,) = struct.unpack("<I", clx[pos + 1:pos + 5])
    plc = clx[pos + 5:pos + 5 + lcb_plc]
    if len(plc) != lcb_plc:
        raise ValueError("PlcPcd outside Clx")
    if (len(plc) - 4) % 12:
        raise ValueError("PlcPcd size is not 4 + 12k")
    n = (len(plc) - 4) // 12
    cps = struct.unpack(f"<{n + 1}i", plc[:4 * (n + 1)])
    out: list[str] = []
    remaining = ccp_text
    for i in range(n):
        if remaining <= 0:
            break
        count = min(cps[i + 1] - cps[i], remaining)
        if count < 0:
            raise ValueError("PlcPcd CPs not ascending")
        pcd = plc[4 * (n + 1) + 8 * i:4 * (n + 1) + 8 * (i + 1)]
        (fc_raw,) = struct.unpack("<I", pcd[2:6])
        if fc_raw & 0x40000000:  # fCompressed: CP1252 bytes
            off = (fc_raw & 0x3FFFFFFF) // 2
            raw = word[off:off + count]
            if len(raw) != count:
                raise ValueError(".doc text piece outside stream")
            out.append(raw.decode("cp1252"))
        else:
            off = fc_raw
            raw = word[off:off + 2 * count]
            if len(raw) != 2 * count:
                raise ValueError(".doc text piece outside stream")
            out.append(raw.decode("utf-16-le"))
        remaining -= count
    if remaining > 0:
        raise ValueError("piece table shorter than ccpText")
    return ccp_text, "".join(out).replace("\r", "\n")


def build_doc(pieces: list[tuple[str, bool]]) -> bytes:
    """[(text, compressed)] -> a real .doc CFB: FIB + piece table,
    text pieces at absolute offsets, CP1252 pieces validated to be
    representable. The fixture domain covers both encodings and
    multi-piece (fast-save-shaped) layouts."""
    fib = bytearray(0x400)
    struct.pack_into("<H", fib, 0, _WIDENT)
    struct.pack_into("<H", fib, 2, 0x00C1)  # nFib: Word 97
    struct.pack_into("<H", fib, 0x0A, 0x0200)  # fWhichTblStm -> 1Table
    total_cp = sum(len(t) for t, _ in pieces)
    struct.pack_into("<i", fib, 0x4C, total_cp)

    word = bytearray(fib)
    cps = [0]
    pcds = []
    for text, compressed in pieces:
        off = len(word)
        if compressed:
            enc = text.encode("cp1252")  # raises if unrepresentable
            fc_raw = (off * 2) | 0x40000000
        else:
            enc = text.encode("utf-16-le")
            fc_raw = off
        word += enc
        cps.append(cps[-1] + len(text))
        pcds.append(struct.pack("<HIH", 0, fc_raw, 0))

    plc = b"".join(struct.pack("<i", c) for c in cps) + b"".join(pcds)
    pcdt = b"\x02" + struct.pack("<I", len(plc)) + plc
    # a Prc block ahead of the Pcdt exercises the skip path
    clx = b"\x01" + struct.pack("<H", 4) + b"\x00" * 4 + pcdt
    table = b"\x00" * 16 + clx  # fcClx != 0: offsets are real
    struct.pack_into("<II", word, 0x1A2, 16, len(clx))
    return build_cfb([("WordDocument", bytes(word)),
                      ("1Table", table)])
