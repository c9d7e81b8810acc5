"""Differentials that pin the layout fast paths to the plain formulations
they replace, on inputs where ties and edge values are common:

* L5 ``group_textboxes`` against ``_group_textboxes_heap`` (every pair on
  one heap, as the reference does it) on integer-coordinate box sets;
* L1 ``group_objects`` against the predicate-method formulation below;
* L3 ``group_textlines`` against the formulation that fills every box it
  makes;
* ``LayoutDevice``'s inlined horizontal glyph placement against
  ``Device._render_horizontal`` + ``render_char`` + ``LTChar.__init__``.
"""

from __future__ import annotations

import math
import random
from typing import Iterator, Optional

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfminer_six_spark.core.device import Device, LayoutDevice
from pdfminer_six_spark.core.document import get_pages
from pdfminer_six_spark.core.interp import Interpreter, ResourceManager
from pdfminer_six_spark.core.layout import (
    LAParams,
    LTAnno,
    LTChar,
    LTComponent,
    LTContainer,
    LTExpandableContainer,
    LTPage,
    LTTextBoxHorizontal,
    LTTextBoxVertical,
    LTTextGroup,
    LTTextLine,
    LTTextLineHorizontal,
    LTTextLineVertical,
    Plane,
    next_seq,
)
from pdfminer_six_spark.datagen.transcripts import (
    _WORDS,
    _pdf_file,
    synth_cid_pdf,
    synth_pdf,
    synth_rich_pdf,
)

# ---------------------------------------------------------------- L5


def _boxes(spec):
    boxes = []
    for x0, y0, w, h, vertical in spec:
        box = LTTextBoxVertical() if vertical else LTTextBoxHorizontal()
        box.set_bbox((x0, y0, x0 + w, y0 + h))
        boxes.append(box)
    return boxes


def _group_tree(item, index):
    if isinstance(item, LTTextGroup):
        return (type(item).__name__, item.bbox,
                tuple(_group_tree(c, index) for c in item))
    return index[id(item)]


def _same_groups(page, boxes):
    index = {id(b): i for i, b in enumerate(boxes)}
    got = page.group_textboxes(LAParams(), boxes)
    want = page._group_textboxes_heap(LAParams(), boxes)
    assert [_group_tree(g, index) for g in got] == [
        _group_tree(g, index) for g in want
    ]


@settings(max_examples=2_500, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**32 - 1), st.sampled_from([0.0, 0.2, 1.0]),
       st.sampled_from([1, 0.1]),
       st.sampled_from([(0, 0, 50, 50), (0, 0, 612, 792), (-20, 10, 40, 70)]))
def test_l5_merge_order_equals_heap(seed, p_vertical, unit, page_bbox):
    """10,000 box sets, four per example.  Coordinates on a small grid
    make equal distances, nested and overlapping boxes (``isany`` skips)
    and boxes outside the page (which the plane never finds) common; on
    the 0.1 grid equal distances come out of the float arithmetic a few
    ulps apart, so the operation order of each distance shows.
    Hypothesis draws the seed of the box sets: drawing every coordinate
    through it costs more than the check."""
    rng = random.Random(seed)
    for n in (rng.randint(0, 6), rng.randint(0, 12), rng.randint(6, 18),
              rng.randint(12, 24)):
        spec = [(rng.randint(-10, 60) * unit, rng.randint(-10, 60) * unit,
                 rng.randint(0, 25) * unit, rng.randint(0, 25) * unit,
                 rng.random() < p_vertical)
                for _ in range(n)]
        _same_groups(LTPage(1, page_bbox), _boxes(spec))


def test_l5_merge_order_equals_heap_on_many_boxes():
    rng = random.Random(5)
    for n in (60, 150):
        spec = [(rng.randint(0, 600), rng.randint(-200, 800), rng.randint(0, 90),
                 rng.randint(0, 14), rng.random() < 0.2) for _ in range(n)]
        _same_groups(LTPage(1, (0, 0, 612, 792)), _boxes(spec))


def test_l5_non_finite_page_keeps_the_heap(monkeypatch):
    calls = []
    heap = LTPage._group_textboxes_heap

    def spy(self, laparams, boxes):
        calls.append(len(boxes))
        return heap(self, laparams, boxes)

    monkeypatch.setattr(LTPage, "_group_textboxes_heap", spy)
    for bad in (float("nan"), float("inf"), -float("inf"), 1e200):
        boxes = _boxes([(0, 0, 10, 5, False), (20, 0, 10, 5, False),
                        (0, 30, 10, 5, True)])
        boxes[1].set_bbox((bad, 0, 30, 5))
        calls.clear()
        LTPage(1, (0, 0, 100, 100)).group_textboxes(LAParams(), boxes)
        assert calls == [3]
    calls.clear()
    _same_groups(LTPage(1, (0, 0, 100, 100)),
                 _boxes([(0, 0, 10, 5, False), (20, 0, 10, 5, False)]))
    assert calls == [2]  # the oracle's own call only


# ---------------------------------------------------------------- L1


def _add(line, obj) -> None:
    """``LTTextLine*.add`` as the reference writes it: the word-margin
    test, then one bbox update per object."""
    if isinstance(obj, LTChar) and line.word_margin:
        margin = line.word_margin * max(obj.width, obj.height)
        if isinstance(line, LTTextLineHorizontal):
            gap = line._x1 < obj.x0 - margin
        else:
            gap = obj.y1 + margin < line._y0
        if gap:
            LTContainer.add(line, LTAnno(" "))
    if isinstance(line, LTTextLineHorizontal):
        line._x1 = obj.x1
    else:
        line._y0 = obj.y0
    LTExpandableContainer.add(line, obj)


def _group_objects_predicates(laparams, objs) -> Iterator[LTTextLine]:
    """L1 as the reference writes it, with LTComponent's predicates."""
    obj0 = None
    line: Optional[LTTextLine] = None
    for obj1 in objs:
        if obj0 is not None:
            halign = (
                obj0.is_voverlap(obj1)
                and min(obj0.height, obj1.height) * laparams.line_overlap
                < obj0.voverlap(obj1)
                and obj0.hdistance(obj1)
                < max(obj0.width, obj1.width) * laparams.char_margin
            )
            valign = (
                laparams.detect_vertical
                and obj0.is_hoverlap(obj1)
                and min(obj0.width, obj1.width) * laparams.line_overlap
                < obj0.hoverlap(obj1)
                and obj0.vdistance(obj1)
                < max(obj0.height, obj1.height) * laparams.char_margin
            )
            if (halign and isinstance(line, LTTextLineHorizontal)) or (
                valign and isinstance(line, LTTextLineVertical)
            ):
                _add(line, obj1)
            elif line is not None:
                yield line
                line = None
            elif valign and not halign:
                line = LTTextLineVertical(laparams.word_margin)
                _add(line, obj0)
                _add(line, obj1)
            elif halign and not valign:
                line = LTTextLineHorizontal(laparams.word_margin)
                _add(line, obj0)
                _add(line, obj1)
            else:
                line = LTTextLineHorizontal(laparams.word_margin)
                _add(line, obj0)
                yield line
                line = None
        obj0 = obj1
    if line is None:
        line = LTTextLineHorizontal(laparams.word_margin)
        _add(line, obj0)
    yield line


def _char(bbox) -> LTChar:
    ch = object.__new__(LTChar)
    LTComponent.__init__(ch, bbox)
    ch._text = "x"
    return ch


def _line_dump(line, index):
    return (
        type(line).__name__, repr(line.bbox), repr(line.width), repr(line.height),
        repr(getattr(line, "_x1", None)), repr(getattr(line, "_y0", None)),
        [index[id(o)] if isinstance(o, LTChar) else repr(o.get_text())
         for o in line._objs],
    )


_EDGE = (0.0, -0.0, 0.5, 1e-9, float("inf"), -float("inf"), float("nan"))


@settings(max_examples=1_500, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**32 - 1), st.integers(1, 30),
       st.sampled_from([0.1, 0.0, 1.5]), st.sampled_from([0.0, 0.1]))
def test_l1_lines_equal_predicate_formulation(seed, n, word_margin, p_edge):
    """Chars on a small integer grid (so overlaps and distances tie), each
    coordinate replaced by -0.0, NaN or an infinity at rate ``p_edge``;
    each set is grouped with ``detect_vertical`` off and on."""
    rng = random.Random(seed)

    def edge(v):
        return rng.choice(_EDGE) if rng.random() < p_edge else v

    chars = []
    for _ in range(n):
        x0, y0 = rng.randint(-5, 40), rng.randint(-5, 40)
        x1, y1 = x0 + rng.randint(0, 12), y0 + rng.randint(0, 12)
        chars.append(_char((edge(x0), edge(y0), edge(x1), edge(y1))))
    index = {id(c): i for i, c in enumerate(chars)}
    page = LTPage(1, (0, 0, 50, 50))
    for detect_vertical in (False, True):
        la = LAParams(detect_vertical=detect_vertical, word_margin=word_margin)
        got = [_line_dump(ln, index) for ln in page.group_objects(la, chars)]
        want = [_line_dump(ln, index)
                for ln in _group_objects_predicates(la, chars)]
        assert got == want


# ---------------------------------------------------------------- L3


def _group_textlines_rebuilding(page, laparams, lines):
    """L3 as the reference writes it: every new box adds all its lines."""
    plane = Plane(page.bbox)
    plane.extend(lines)
    boxes = {}
    for line in lines:
        neighbors = line.find_neighbors(plane, laparams.line_margin)
        members = [line]
        for obj1 in neighbors:
            members.append(obj1)
            if obj1 in boxes:
                members.extend(boxes.pop(obj1))
        if isinstance(line, LTTextLineHorizontal):
            box = LTTextBoxHorizontal()
        else:
            box = LTTextBoxVertical()
        for obj in dict.fromkeys(members):
            box.add(obj)
            boxes[obj] = box
    done = set()
    for line in lines:
        if line not in boxes:
            continue
        box = boxes[line]
        if id(box) in done:
            continue
        done.add(id(box))
        if not box.is_empty():
            yield box


def _box_dump(boxes, index):
    seq0 = next_seq()
    return [
        (type(b).__name__, repr(b.bbox), seq0 - b.seq,
         [index[id(o)] for o in b])
        for b in boxes
    ]


@settings(max_examples=1_500, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**32 - 1), st.integers(1, 40),
       st.sampled_from([0.0, 0.3, 1.0]), st.sampled_from([1, 0.5]))
def test_l3_boxes_equal_rebuilding_formulation(seed, n, p_vertical, unit):
    """Lines on a grid, so that alignments and neighbour distances tie,
    some of them zero-sized or off the page; the same boxes, bboxes, lines
    and box creation count."""
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        vertical = rng.random() < p_vertical
        line = (LTTextLineVertical if vertical else LTTextLineHorizontal)(0.1)
        x0, y0 = rng.randint(-5, 60) * unit, rng.randint(-5, 60) * unit
        w, h = rng.randint(0, 30) * unit, rng.randint(0, 12) * unit
        line.set_bbox((x0, y0, x0 + (h if vertical else w),
                       y0 + (w if vertical else h)))
        lines.append(line)
    index = {id(ln): i for i, ln in enumerate(lines)}
    page = LTPage(1, (0, 0, 50, 50))
    la = LAParams(line_margin=rng.choice([0.5, 0.0, 2.0]))
    want = _box_dump(list(_group_textlines_rebuilding(page, la, lines)), index)
    got = _box_dump(list(page.group_textlines(la, lines)), index)
    assert got == want


# ---------------------------------------------------------------- glyphs


class _PlainLayoutDevice(LayoutDevice):
    """Places glyphs through render_char and LTChar.__init__."""

    _render_horizontal = Device._render_horizontal


def _chars(pdf: bytes, device_cls):
    out = []
    for page in get_pages(pdf):
        dev = device_cls(laparams=None)
        Interpreter(ResourceManager(), dev).process_page(page)
        stack = [dev.get_result()]
        while stack:
            item = stack.pop()
            if isinstance(item, LTChar):
                out.append(item)
            elif hasattr(item, "_objs"):
                stack.extend(reversed(item._objs))
    seq0 = out[0].seq if out else 0
    return [
        (type(c).__name__, c.get_text(), c.fontname, repr(c.matrix),
         repr(c.bbox), repr((c.x0, c.y0, c.x1, c.y1, c.width, c.height)),
         repr(c.adv), repr(c.size), c.upright,
         getattr(c.ncs, "name", None),
         repr(getattr(c.graphicstate, "ncolor", None)), c.seq - seq0)
        for c in out
    ]


def _skewed_pdf(seed: int) -> bytes:
    """Text under rotated, skewed and scaled text matrices with irregular
    coefficients, kerning, char/word spacing, horizontal scaling and rise:
    glyph boxes whose float arithmetic shows any change of operation
    order."""
    rng = random.Random(seed)
    fonts = ("Helvetica", "Times-Roman", "Courier-Bold")
    ops = []
    for _ in range(12):
        t = rng.uniform(-3.2, 3.2)
        sx, sy, k = rng.uniform(0.3, 2.5), rng.uniform(0.3, 2.5), rng.uniform(-0.7, 0.7)
        words = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 4)))
                 for _ in range(3)]
        ops.append(
            b"BT /F%d %.4f Tf %.3f Tc %.3f Tw %.2f Tz %.3f Ts "
            b"%.6f %.6f %.6f %.6f %.3f %.3f Tm [(%s) %.2f (%s) %.2f (%s)] TJ "
            b"%.3f %.3f TD (%s) Tj ET" % (
                rng.randint(1, 3), rng.uniform(4, 30), rng.uniform(-1, 2),
                rng.uniform(-1, 3), rng.uniform(50, 150), rng.uniform(-4, 4),
                sx * math.cos(t), sx * math.sin(t) + k, -sy * math.sin(t),
                sy * math.cos(t), rng.uniform(0, 600), rng.uniform(0, 800),
                words[0].encode(), rng.uniform(-300, 300), words[1].encode(),
                rng.uniform(-300, 300), words[2].encode(),
                rng.uniform(-20, 20), rng.uniform(-20, 20), words[0].encode(),
            ))
    # a 300-digit font size: glyph corners overflow to inf and their
    # differences to NaN, where only the comparison order decides a bbox
    ops.append(b"BT /F2 1%s Tf 9999999999 0.5 -9999999999 9999999999 10 10 Tm "
               b"(big) Tj ET" % (b"0" * 300))
    content = b"\n".join(ops)
    return _pdf_file([
        *(b"<< /Type /Font /Subtype /Type1 /BaseFont /%s >>" % f.encode()
          for f in fonts),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Page /Parent 6 0 R /MediaBox [0 0 612 792] /Resources "
        b"<< /Font << /F1 1 0 R /F2 2 0 R /F3 3 0 R >> >> /Contents 4 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 6 0 R >>",
    ], 7)


def test_inlined_glyph_placement_equals_render_char():
    rng = random.Random(11)
    pdfs = [_skewed_pdf(s) for s in range(20)]
    pdfs += [synth_rich_pdf(s, max_pages=3) for s in range(40)]
    pdfs += [synth_cid_pdf(s) for s in range(12)]
    pdfs.append(synth_pdf([[" ".join(rng.choice(_WORDS) for _ in range(8))
                            for _ in range(30)]]))
    n = 0
    for pdf in pdfs:
        want = _chars(pdf, _PlainLayoutDevice)
        assert _chars(pdf, LayoutDevice) == want
        n += len(want)
    assert n > 10_000
