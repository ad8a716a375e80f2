"""Truncated records inside otherwise well-formed legacy office
containers (.xls BIFF records, the .doc Clx, .docx ZIP members) must
surface as ValueError — the only corruption signal the Spark operators
catch — never as struct.error / IndexError / zlib.error, which would
fail the whole task for one bad document."""

from __future__ import annotations

import struct
import zlib

import pytest

from barkingowl_spark.functions.cfbwalk import build_cfb, read_cfb_stream
from barkingowl_spark.functions.doctext import build_doc, extract_doc_text
from barkingowl_spark.functions.officetext import extract_docx_text
from barkingowl_spark.functions.xlsbiff import build_xls, extract_xls_cells
from barkingowl_spark.functions.zipwalk import (
    ZIP_EOCD,
    build_zip,
    read_zip_member,
)


def _xls_with(rid: int, body: bytes) -> bytes:
    """A valid one-cell workbook with one extra record spliced in
    before the final EOF."""
    stream = read_cfb_stream(build_xls([("A1", "x")]), "Workbook")
    rec = struct.pack("<HH", rid, len(body)) + body
    return build_cfb([("Workbook", stream[:-4] + rec + stream[-4:])])


@pytest.mark.parametrize("rid,body", [
    (0x00FD, b"\x00" * 4),  # LABELSST cut before its SST index
    (0x0203, b"\x00" * 8),  # NUMBER cut inside its double
    (0x027E, b"\x00" * 6),  # RK cut before the rk value
    (0x00BD, b""),          # MULRK with no body at all
    (0x0809, b"\x06"),      # BOF cut inside its version field
    (0x00FC, b"\x01\x00"),  # SST cut inside its header
], ids=["labelsst", "number", "rk", "mulrk", "bof", "sst"])
def test_xls_truncated_record_is_value_error(rid, body):
    with pytest.raises(ValueError, match="corrupt XLS"):
        extract_xls_cells(_xls_with(rid, body))


def _doc_with_clx_len(lcb_clx: int) -> bytes:
    p = build_doc([("some text\r", True)])
    word = read_cfb_stream(p, "WordDocument")
    i = p.find(word[:16])
    buf = bytearray(p)
    struct.pack_into("<I", buf, i + 0x1A6, lcb_clx)
    assert struct.unpack(
        "<I", read_cfb_stream(bytes(buf), "WordDocument")[0x1A6:0x1AA]
    ) == (lcb_clx,)
    return bytes(buf)


@pytest.mark.parametrize("lcb_clx", [
    1,      # Prc marker with its cb field cut off
    7 + 3,  # one whole Prc block, then a Pcdt cut inside lcb
], ids=["prc", "pcdt"])
def test_doc_truncated_clx_is_value_error(lcb_clx):
    with pytest.raises(ValueError, match="corrupt DOC"):
        extract_doc_text(_doc_with_clx_len(lcb_clx))


def _docx() -> bytes:
    xml = (b'<?xml version="1.0"?><w:document><w:body><w:p><w:r>'
           b"<w:t>hello</w:t></w:r></w:p></w:body></w:document>")
    return build_zip([("word/document.xml", xml, 8)])


def test_docx_fixture_reads():
    assert extract_docx_text(_docx())[1] == "hello"


def test_zip_member_truncated_eocd_is_value_error():
    p = _docx()
    cut = p[:p.rindex(ZIP_EOCD) + 10]  # EOCD cut inside its counts
    with pytest.raises(ValueError, match="corrupt ZIP"):
        read_zip_member(cut, "word/document.xml")
    with pytest.raises(ValueError):
        extract_docx_text(cut)


def test_zip_member_local_header_outside_file_is_value_error():
    p = bytearray(_docx())
    cde = p.index(b"PK\x01\x02")
    struct.pack_into("<I", p, cde + 42, len(p) + 100)  # local header offset
    with pytest.raises(ValueError, match="corrupt ZIP"):
        read_zip_member(bytes(p), "word/document.xml")


def test_zip_member_bad_deflate_is_value_error():
    p = bytearray(_docx())
    data_off = 30 + len(b"word/document.xml")
    p[data_off:data_off + 4] = b"\xff\xff\xff\xff"  # invalid block type
    with pytest.raises(zlib.error):
        zlib.decompress(bytes(p[data_off:]), wbits=-15)
    with pytest.raises(ValueError, match="corrupt ZIP"):
        read_zip_member(bytes(p), "word/document.xml")


def test_document_texts_survives_truncated_documents(spark):
    """One task, three documents: the two truncated ones come back
    as null rows and the good one keeps its text."""
    from barkingowl_spark.operators.multimodal import document_texts

    good = build_doc([("kept text", True)])
    bad_docx = _docx()
    bad_docx = bad_docx[:bad_docx.rindex(ZIP_EOCD) + 10]
    rows = [(1, bytearray(_doc_with_clx_len(1))),
            (2, bytearray(bad_docx)),
            (3, bytearray(good))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["text"]
           for r in document_texts(df.coalesce(1)).collect()}
    assert got == {1: None, 2: None, 3: "kept text"}
