"""CFF parser tests (SURVEY.md §2.8 C10, reference pdffont.py:174-723).

Two layers:

* synthetic fonts built byte-by-byte exercise every structure (INDEX
  with 1/2-byte offsets and the empty form, DICT operand encodings incl.
  packed reals and 12-x escapes, charset/encoding formats 0/1/2,
  supplemental encodings, truncation hostility);
* a corpus differential: every embedded Type1C (FontFile3) stream in the
  reference samples must parse, and wherever the reference's own CFFFont
  is spec-correct (format-0 charsets/encodings) the maps must be equal.
  (The reference's format-1 range reader swaps gid and sid/code roles vs
  the Adobe spec — dead code there; we follow the spec, so format-1
  tables are excluded from map equality and sanity-checked instead.)
"""

import io
import struct
import sys

import pytest

from tests.conftest import requires_reference

SAMPLES = "/root/reference/samples"
CFF_PDFS = [
    f"{SAMPLES}/contrib/issue-1061-colour-space-stack.pdf",
    f"{SAMPLES}/contrib/pr-00530-ml-lines.pdf",
    f"{SAMPLES}/contrib/issue-00352-asw-oct96-p41.pdf",
    f"{SAMPLES}/nonfree/nlp2004slides.pdf",
    f"{SAMPLES}/nonfree/kampo.pdf",
    f"{SAMPLES}/nonfree/i1040nr.pdf",
    f"{SAMPLES}/zen_of_python_corrupted.pdf",
]


# ---------------------------------------------------------------------------
# synthetic font builder


def make_index(items):
    if not items:
        return struct.pack(">H", 0)
    data = b"".join(items)
    offsize = 1 if len(data) < 250 else 2
    offs, pos = [], 1
    for it in items:
        offs.append(pos)
        pos += len(it)
    offs.append(pos)
    packed = b"".join(
        o.to_bytes(offsize, "big") for o in offs
    )
    return struct.pack(">HB", len(items), offsize) + packed + data


def op5(value, op):
    """operator with one fixed-width 32-bit operand (layout-stable)."""
    return b"\x1d" + struct.pack(">i", value) + bytes([op])


def build_font(
    glyph_sids=(391, 1, 15),  # custom, 'space', 'period'
    charset_fmt=0,
    encoding=None,  # None -> embedded format 0; int 0/1 -> predefined
    strings=(b"MyGlyph",),
):
    """Minimal single-font CFF: header, name/topdict/string/gsubr indexes,
    charstrings, charset, optional embedded encoding."""
    nglyphs = len(glyph_sids) + 1  # + .notdef
    header = bytes([1, 0, 4, 1])
    name_index = make_index([b"TestFont"])
    string_index = make_index(list(strings))
    gsubr_index = make_index([])
    charstrings = make_index([b"\x0e"] * nglyphs)  # endchar per glyph

    if charset_fmt == 0:
        charset = b"\x00" + b"".join(struct.pack(">H", s) for s in glyph_sids)
    elif charset_fmt == 1:
        # one range: first sid, nLeft — requires consecutive sids
        charset = b"\x01" + struct.pack(
            ">HB", glyph_sids[0], len(glyph_sids) - 1
        )
    else:  # format 2: 16-bit nLeft
        charset = b"\x02" + struct.pack(
            ">HH", glyph_sids[0], len(glyph_sids) - 1
        )

    if encoding is None:
        # embedded format 0: codes 65.. for glyphs 1..n
        enc = b"\x00" + bytes([len(glyph_sids)]) + bytes(
            65 + k for k in range(len(glyph_sids))
        )
    else:
        enc = b""

    # top dict with fixed-width offsets: compute layout in one pass
    def topdict(cs_pos, charset_pos, enc_pos):
        d = op5(charset_pos, 15)
        d += op5(enc_pos if encoding is None else encoding, 16)
        d += op5(cs_pos, 17)
        return d

    probe = make_index([topdict(0, 0, 0)])
    prefix_len = len(header) + len(name_index) + len(probe) + len(
        string_index
    ) + len(gsubr_index)
    cs_pos = prefix_len
    charset_pos = cs_pos + len(charstrings)
    enc_pos = charset_pos + len(charset)
    dict_index = make_index([topdict(cs_pos, charset_pos, enc_pos)])
    assert len(dict_index) == len(probe)
    return (
        header + name_index + dict_index + string_index + gsubr_index
        + charstrings + charset + enc
    )


# ---------------------------------------------------------------------------
# unit tests


def test_parse_dict_operand_encodings():
    from pdfminer_six_spark.core.cff import parse_dict

    # one-byte, two-byte, 28/29 fixed ints, packed real, 12-escape
    data = (
        bytes([139 + 5])            # 5
        + bytes([247, 0])           # 108
        + bytes([251, 0])           # -108
        + b"\x1c\xff\xfe"           # 28: -2
        + b"\x1d\x00\x01\x00\x00"   # 29: 65536
        + bytes([17])               # op 17
        + b"\x1e\x1a\x25\xff"       # real: 1.25 -> nibbles 1 . 2 5 f
        + bytes([12, 7])            # escaped op 1207
    )
    d = parse_dict(data)
    assert d[17] == [5, 108, -108, -2, 65536]
    assert d[1207] == [1.25]


def test_parse_dict_negative_real_exponent():
    from pdfminer_six_spark.core.cff import parse_dict

    # -2.5e-3 -> nibbles: e(-) 2 . 5 c(e-) 3 f
    data = b"\x1e\xe2\xa5\xc3\xff" + bytes([0])
    assert parse_dict(data)[0] == [-0.0025]


def test_parse_index_forms():
    from pdfminer_six_spark.core.cff import parse_index

    assert parse_index(io.BytesIO(make_index([]))) == []
    items = [b"alpha", b"", b"beta"]
    assert parse_index(io.BytesIO(make_index(items))) == items
    big = [bytes([k % 256]) * 40 for k in range(10)]  # forces offsize 2
    assert parse_index(io.BytesIO(make_index(big))) == big


def test_synthetic_font_charset_and_encoding_formats():
    from pdfminer_six_spark.core.cff import CFFFont

    f0 = CFFFont("t", io.BytesIO(build_font(charset_fmt=0)))
    assert f0.name_index == [b"TestFont"]
    assert f0.nglyphs == 4
    assert f0.gid2name == {1: b"MyGlyph", 2: "space", 3: "period"}
    assert f0.name2gid["space"] == 2
    assert f0.code2gid == {65: 1, 66: 2, 67: 3}
    assert f0.getstr(0) == ".notdef" and f0.getstr(391) == b"MyGlyph"

    # format 1/2 ranges: sids consecutive from 'space' (1,2,3)
    for fmt in (1, 2):
        f = CFFFont(
            "t", io.BytesIO(build_font(glyph_sids=(1, 2, 3), charset_fmt=fmt))
        )
        assert f.gid2name == {1: "space", 2: "exclam", 3: "quotedbl"}


def test_synthetic_font_predefined_standard_encoding():
    from pdfminer_six_spark.core.cff import CFFFont

    # encoding operand 0 = Standard: 'space' must sit at code 32
    f = CFFFont("t", io.BytesIO(build_font(glyph_sids=(1, 15), encoding=0)))
    assert f.code2gid.get(32) == 1
    assert f.code2gid.get(ord(".")) == 2


def test_truncated_fonts_raise_cfferror():
    from pdfminer_six_spark.core.cff import CFFError, CFFFont

    blob = build_font()
    for cut in (0, 3, 7, 20, len(blob) // 2, len(blob) - 3):
        with pytest.raises(CFFError):
            CFFFont("t", io.BytesIO(blob[:cut]))


# ---------------------------------------------------------------------------
# corpus differential vs the reference implementation


def _type1c_streams(path):
    from pdfminer_six_spark.core.document import Document
    from pdfminer_six_spark.core.objects import (
        StreamObject,
        name_str,
        resolve1,
    )

    with open(path, "rb") as f:
        doc = Document(f.read())
    out, seen = [], set()
    for xref in doc.xrefs:
        for objid in xref.get_objids():
            if objid in seen:
                continue
            seen.add(objid)
            try:
                obj = resolve1(doc.getobj(objid))
            except Exception:
                continue
            if isinstance(obj, StreamObject):
                st = resolve1(obj.attrs.get("Subtype"))
                if st is not None and name_str(st) == "Type1C":
                    out.append(obj.get_data())
    return out


@requires_reference("pdfminer", *CFF_PDFS)
def test_corpus_differential_against_reference():
    from pdfminer_six_spark.core.cff import CFFFont

    sys.path.insert(0, "/root/reference")
    try:
        from pdfminer.pdffont import CFFFont as RefCFF
    finally:
        sys.path.remove("/root/reference")

    total = compared = 0
    for pdf in CFF_PDFS:
        for data in _type1c_streams(pdf):
            total += 1
            ours = CFFFont("x", io.BytesIO(data))  # must never fail
            assert ours.nglyphs > 0
            try:
                ref = RefCFF("x", io.BytesIO(data))
            except Exception:
                continue  # reference is allowed to fail; we are not
            assert ours.nglyphs == ref.nglyphs
            charset_pos = int(ours.top_dict.get(15, [0])[0])
            if charset_pos > 2 and data[charset_pos] == 0:
                # format-0 charset: reference is spec-correct here
                compared += 1
                assert ours.gid2name == ref.gid2name
                assert ours.name2gid == ref.name2gid
            # encodings are excluded from map equality: the reference's
            # reader swaps code/gid roles even in format 0 (the spec's
            # code[i] array lists the CODE of gid i+1; pdffont.py:666-671
            # reads it as the GID of code i).  Sanity-check ours instead:
            # every code is a byte and every gid is a real glyph.
            assert all(
                0 <= c <= 255 and 0 < g < ours.nglyphs
                for c, g in ours.code2gid.items()
            )
    assert total >= 50, total
    assert compared > 0, "no format-0 charsets in corpus?"
