"""Unit tests mirroring the reference's layout/converter/font-size suites
(reference tests/test_layout.py, tests/test_converter.py:11-299,
tests/test_font_size.py)."""

import os

import pytest

from pdfminer_six_spark.core.device import LayoutDevice
from pdfminer_six_spark.core.interp import GraphicState
from pdfminer_six_spark.core.layout import (
    LAParams,
    LTChar,
    LTCurve,
    LTLine,
    LTRect,
    LTTextLineHorizontal,
    Plane,
)
from tests.conftest import SAMPLES, reference_available, requires_reference


def _paint(path, ctm=(1, 0, 0, 1, 0, 0)):
    dev = LayoutDevice()
    dev.set_ctm(ctm)

    class Item:
        def __init__(self):
            self.added = []

        def add(self, o):
            self.added.append(o)

    dev.cur_item = Item()
    dev.paint_path(GraphicState(), False, False, False, path)
    return dev.cur_item.added


def test_paint_path_line():
    (item,) = _paint([("m", 6, 7), ("l", 7, 7)])
    assert isinstance(item, LTLine)


def test_paint_path_rect():
    # 're' expands to mlllh; closed square loop -> LTRect
    (item,) = _paint(
        [("m", 10, 90), ("l", 90, 90), ("l", 90, 10), ("l", 10, 10), ("h",)]
    )
    assert isinstance(item, LTRect)


def test_paint_path_nonrect_quad():
    (item,) = _paint(
        [("m", 110, 90), ("l", 90, 10), ("l", 10, 10), ("l", 10, 90), ("h",)]
    )
    assert isinstance(item, LTCurve) and not isinstance(item, LTRect)


def test_paint_path_multiple_subpaths():
    items = _paint(
        [("m", 6, 7), ("l", 7, 7), ("m", 60, 70), ("l", 70, 70)]
    )
    assert len(items) == 2
    assert all(isinstance(i, LTLine) for i in items)


def test_paint_path_bezier():
    (item,) = _paint([("m", 0, 0), ("c", 1, 1, 2, 2, 3, 3)])
    assert isinstance(item, LTCurve)


def test_paint_path_closed_lh_dedup():
    # trailing 'lh' returning to start is collapsed (reference
    # converter.py:162-166) -> still an LTRect
    (item,) = _paint(
        [
            ("m", 10, 90), ("l", 90, 90), ("l", 90, 10), ("l", 10, 10),
            ("l", 10, 90), ("h",),
        ]
    )
    assert isinstance(item, LTRect)


@pytest.mark.skipif(not reference_available(), reason="corpus absent")
def test_font_size_equals_rendered_digit():
    """reference tests/test_font_size.py: each digit's LTChar.size equals
    the font size it is rendered at."""
    from pdfminer_six_spark.core.extract import extract_pages
    from pdfminer_six_spark.core.layout import LTTextBox, LTTextLine

    data = open(os.path.join(SAMPLES, "font-size-test.pdf"), "rb").read()
    checked = 0
    for page in extract_pages(data):
        for box in page:
            if not isinstance(box, LTTextBox):
                continue
            for line in box:
                if not isinstance(line, LTTextLine):
                    continue
                label = line.get_text().strip()
                if label.isdigit():
                    for ch in line:
                        if isinstance(ch, LTChar):
                            assert round(ch.size) == int(label)
                            checked += 1
    assert checked > 10


def _mkline(x0, y0, x1, y1):
    line = LTTextLineHorizontal(0.1)
    line.set_bbox((x0, y0, x1, y1))
    return line


def test_find_neighbors_alignment():
    """reference tests/test_layout.py:36-112 semantics: same height and
    left/right/center aligned within tolerance."""
    plane = Plane((0, 0, 500, 500))
    base = _mkline(100, 100, 200, 110)
    aligned_left = _mkline(100, 112, 190, 122)
    aligned_right = _mkline(110, 86, 200, 96)
    wrong_height = _mkline(100, 124, 200, 164)
    far_away = _mkline(100, 300, 200, 310)
    not_aligned = _mkline(150, 86, 250, 96)
    for ln in (base, aligned_left, aligned_right, wrong_height, far_away,
               not_aligned):
        plane.add(ln)
    got = set(base.find_neighbors(plane, 0.5))
    assert base in got and aligned_left in got and aligned_right in got
    assert wrong_height not in got and far_away not in got
    # 'not_aligned' is center-aligned? centers: base 150, other 200 -> no
    assert not_aligned not in got


def test_two_separated_boxes():
    """reference tests/test_layout.py:17-32: lines far apart -> 2 boxes."""
    from pdfminer_six_spark.core.layout import LTLayoutContainer

    container = LTLayoutContainer((0, 0, 100, 100))
    l1 = _mkline(10, 90, 90, 95)
    l2 = _mkline(10, 10, 90, 15)
    boxes = list(container.group_textlines(LAParams(), [l1, l2]))
    assert len(boxes) == 2


def test_find_neighbors_exact_reference_cases():
    """The reference's exact horizontal + vertical neighbor fixtures
    (tests/test_layout.py:36-112 there)."""
    from pdfminer_six_spark.core.layout import LTTextLineVertical

    laparams = LAParams()
    plane = Plane((0, 0, 50, 50))
    line = _mkline(10, 4, 20, 6)
    left_aligned_above = _mkline(10, 6, 15, 8)
    right_aligned_below = _mkline(15, 2, 20, 4)
    centrally_aligned_overlapping = _mkline(13, 5, 17, 7)
    not_aligned = _mkline(0, 6, 5, 8)
    wrong_height = _mkline(10, 6, 15, 10)
    for ln in (line, left_aligned_above, right_aligned_below,
               centrally_aligned_overlapping, not_aligned, wrong_height):
        plane.add(ln)
    got = line.find_neighbors(plane, laparams.line_margin)
    assert sorted(map(id, got)) == sorted(
        map(id, [line, left_aligned_above, right_aligned_below,
                 centrally_aligned_overlapping])
    )

    def mkvline(x0, y0, x1, y1):
        ln = LTTextLineVertical(laparams.word_margin)
        ln.set_bbox((x0, y0, x1, y1))
        return ln

    vplane = Plane((0, 0, 50, 50))
    vline = mkvline(4, 10, 6, 20)
    bottom_aligned_right = mkvline(6, 10, 8, 15)
    top_aligned_left = mkvline(2, 15, 4, 20)
    centrally_overlapping = mkvline(5, 13, 7, 17)
    v_not_aligned = mkvline(6, 0, 8, 5)
    wrong_width = mkvline(6, 10, 10, 15)
    for ln in (vline, bottom_aligned_right, top_aligned_left,
               centrally_overlapping, v_not_aligned, wrong_width):
        vplane.add(ln)
    got_v = vline.find_neighbors(vplane, laparams.line_margin)
    assert sorted(map(id, got_v)) == sorted(
        map(id, [vline, bottom_aligned_right, top_aligned_left,
                 centrally_overlapping])
    )


@requires_reference(
    "samples/contrib/issue-449-horizontal.pdf",
    "samples/contrib/issue-449-vertical.pdf",
)
def test_issue_449_empty_characters_box_counts():
    """issue #449 (PR #689 there): explicit space chars between lines must
    not merge the boxes — 3 horizontal / 3 vertical boxes."""
    from pdfminer_six_spark.core.extract import extract_pages
    from pdfminer_six_spark.core.layout import (
        LTTextBoxHorizontal,
        LTTextBoxVertical,
    )

    with open(os.path.join(SAMPLES, "contrib/issue-449-horizontal.pdf"), "rb") as f:
        page = next(extract_pages(f.read()))
    assert sum(isinstance(b, LTTextBoxHorizontal) for b in page) == 3

    with open(os.path.join(SAMPLES, "contrib/issue-449-vertical.pdf"), "rb") as f:
        page = next(
            extract_pages(f.read(), laparams=LAParams(detect_vertical=True))
        )
    assert sum(isinstance(b, LTTextBoxVertical) for b in page) == 3


def test_safe_float_edge_cases():
    """Reference casting semantics (its tests/test_casting.py): strings
    parse, None/objects/overlarge ints return None."""
    from pdfminer_six_spark.core.interp import safe_float

    assert safe_float(0) == 0.0
    assert safe_float("1.5") == 1.5
    assert safe_float(None) is None
    assert safe_float(object()) is None
    assert safe_float(2**1024) is None  # OverflowError path


def test_huge_int_operand_does_not_crash_turn():
    """A content stream with an int too large for float must extract like
    the reference (operator ignored), not error the turn."""
    from pdfminer_six_spark.core.extract import extract_text

    content = b"BT /F1 12 Tf 72 720 Td " + b"9" * 400 + b" g (hi) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
        b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
        b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>endobj\n"
        b"4 0 obj<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>endobj\n"
        b"5 0 obj<</Length " + str(len(content)).encode() + b">>stream\n"
        + content + b"\nendstream endobj\n"
        b"trailer<</Root 1 0 R>>\n"
    )
    assert "hi" in extract_text(pdf)


@requires_reference("pdfminer/_saslprep.py")
def test_saslprep_differential():
    """RFC 4013 SASLprep for r6 unicode passwords: agree with the
    reference on 1500 random unicode strings (output or rejection);
    where mapping empties the string the reference IndexErrors and we
    return the empty string."""
    import random
    import sys

    from pdfminer_six_spark.core.crypto import EncryptionError, saslprep

    sys.path.insert(0, "/root/reference")
    from pdfminer._saslprep import saslprep as ref_saslprep
    from pdfminer.pdfexceptions import PDFValueError

    rng = random.Random(7)
    pools = [range(0x20, 0x7F), range(0xA0, 0x300), range(0x590, 0x700),
             range(0x2000, 0x2070),
             [0xAD, 0x200B, 0x200E, 0x202E, 0xFEFF, 0xE000, 0x1A, 0x3000]]
    for _ in range(1500):
        s = "".join(
            chr(rng.choice(list(rng.choice(pools))))
            for _ in range(rng.randint(1, 12))
        )
        try:
            a = ("ok", saslprep(s))
        except EncryptionError:
            a = ("err",)
        try:
            b = ("ok", ref_saslprep(s))
        except PDFValueError:
            b = ("err",)
        except IndexError:
            b = ("ok", "")  # reference crashes on empty-after-map
        assert a == b, repr(s)
    # known mappings: NBSP -> space, soft hyphen -> removed
    assert saslprep("a b") == "a b"
    assert saslprep("a­b") == "ab"


def test_plane_reference_cases():
    """The reference's Plane unit fixtures (tests/test_utils.py:45-78)."""
    from pdfminer_six_spark.core.layout import LTComponent

    def mk(object_size=50, gridsize=50):
        plane = Plane((0, 0, 100, 100), gridsize)
        obj = LTComponent((0, 0, object_size, object_size))
        plane.add(obj)
        return plane, obj

    plane, _ = mk()
    assert list(plane.find((50, 50, 100, 100))) == []
    plane, obj = mk()
    plane.remove(obj)
    assert list(plane.find((0, 0, 100, 100))) == []
    plane, obj = mk()
    assert list(plane.find((0, 0, 100, 100))) == [obj]
    plane, obj = mk(object_size=1, gridsize=100)
    assert list(plane.find((0, 0, 100, 100))) == [obj]
    plane, obj = mk(object_size=100, gridsize=10)
    assert list(plane.find((0, 0, 100, 100))) == [obj]


def test_text_sink_drops_lone_surrogates():
    """The text sink drops each code point UTF-8 cannot encode (a lone
    surrogate from a broken ToUnicode map), as the reference's utf-8
    encode/ignore round trip does, and keeps everything around it."""
    from pdfminer_six_spark.core.device import TextDevice
    from pdfminer_six_spark.core.layout import LTPage

    class Font:
        fontname = "F"

        def is_vertical(self):
            return False

        def get_descent(self):
            return 0.0

    page = LTPage(1, (0, 0, 100, 100))
    for i, text in enumerate(["a", "\ud800", "b", "\udfff", "é"]):
        page.add(LTChar((1, 0, 0, 1, 10 + 5 * i, 50), Font(), 10, 1, 0,
                        text, 0.5, None))
    page.analyze(LAParams())
    sink = TextDevice()
    sink.receive_layout(page)
    sink.receive_layout(page)
    assert sink.get_text() == "abé\n\n\f" * 2
