"""Path-painting classification and color-state parity — the reference's
tests/test_converter.py cases re-asserted against our device/interpreter
(reference converter.py:107-230 paint_path, pdfinterp.py:936-1010 scn)."""

import pytest

from pdfminer_six_spark.core.device import LayoutDevice
from pdfminer_six_spark.core.extract import extract_pages
from pdfminer_six_spark.core.interp import GraphicState
from pdfminer_six_spark.core.layout import (
    LTChar,
    LTContainer,
    LTCurve,
    LTLine,
    LTRect,
)
from tests.conftest import requires_reference

SAMPLES = "/root/reference/samples/"


def _analyzer():
    device = LayoutDevice(laparams=None)
    device.set_ctm((1, 0, 0, 1, 0, 0))
    device.cur_item = LTContainer((0, 100, 0, 100))
    return device


def _parse(path, bbox=(0, 1000, 0, 1000), dash=None):
    device = LayoutDevice(laparams=None)
    device.set_ctm((1, 0, 0, 1, 0, 0))
    device.cur_item = LTContainer(bbox)
    gs = GraphicState()
    if dash is not None:
        gs.dash = dash
    device.paint_path(gs, False, False, False, path)
    return device.cur_item._objs


def _types(path):
    return list(map(type, _parse(path)))


def test_paint_path_basic():
    assert len(_parse([("m", 6, 7), ("l", 7, 7)], bbox=(0, 100, 0, 100))) == 1
    assert (
        len(
            _parse(
                [("m", 6, 7), ("l", 7, 7), ("l", 7, 91), ("l", 6, 91), ("h",)],
                bbox=(0, 100, 0, 100),
            )
        )
        == 1
    )


def test_paint_path_multiple_mlllh():
    path = [
        ("m", 6, 7), ("l", 7, 7), ("l", 7, 91), ("l", 6, 91), ("h",),
        ("m", 4, 7), ("l", 6, 7), ("l", 6, 91), ("l", 4, 91), ("h",),
        ("m", 67, 2), ("l", 68, 2), ("l", 68, 3), ("l", 67, 3), ("h",),
    ]
    assert len(_parse(path, bbox=(0, 100, 0, 100))) == 3


def test_paint_path_quadrilaterals():
    rect = [("m", 10, 90), ("l", 90, 90), ("l", 90, 10), ("l", 10, 10), ("h",)]
    assert _types(rect) == [LTRect]
    mllll = [("m", 10, 90), ("l", 90, 90), ("l", 90, 10), ("l", 10, 10),
             ("l", 10, 90)]
    assert _types(mllll) == [LTRect]
    assert _types(mllll + [("h",)]) == [LTRect]
    bowtie = [("m", 110, 90), ("l", 190, 10), ("l", 190, 90), ("l", 110, 10),
              ("h",)]
    assert _types(bowtie) == [LTCurve]
    slanted = [("m", 210, 90), ("l", 290, 60), ("l", 290, 10), ("l", 210, 10),
               ("h",)]
    assert _types(slanted) == [LTCurve]
    two_rects = [
        ("m", 310, 90), ("l", 350, 90), ("l", 350, 10), ("l", 310, 10), ("h",),
        ("m", 350, 90), ("l", 390, 90), ("l", 390, 10), ("l", 350, 10), ("h",),
    ]
    assert _types(two_rects) == [LTRect, LTRect]
    rect_and_pentagon = [
        ("m", 410, 90), ("l", 445, 90), ("l", 445, 10), ("l", 410, 10), ("h",),
        ("m", 455, 70), ("l", 475, 90), ("l", 490, 70), ("l", 490, 10),
        ("l", 455, 10), ("h",),
    ]
    assert _types(rect_and_pentagon) == [LTRect, LTCurve]
    three_lines = [
        ("m", 10, 30), ("l", 10, 40), ("h",),
        ("m", 10, 50), ("l", 70, 50), ("h",),
        ("m", 10, 10), ("l", 30, 30), ("h",),
    ]
    assert _types(three_lines) == [LTLine, LTLine, LTLine]
    ml_lines = [
        ("m", 10, 30), ("l", 10, 40),
        ("m", 10, 50), ("l", 70, 50),
        ("m", 10, 10), ("l", 30, 30),
    ]
    assert _types(ml_lines) == [LTLine, LTLine, LTLine]


@requires_reference("samples/contrib/pr-00530-ml-lines.pdf")
def test_ml_lines_pdf():
    pages = extract_pages(
        open(SAMPLES + "contrib/pr-00530-ml-lines.pdf", "rb").read()
    )
    page = next(iter(pages))
    assert sum(type(item) is LTLine for item in page) == 6


def test_paint_path_beziers():
    c = _parse(
        [("m", 72.41, 433.89), ("c", 72.41, 434.45, 71.96, 434.89, 71.41, 434.89)]
    )
    assert c[0].pts == [(72.41, 433.89), (71.41, 434.89)]
    v = _parse([("m", 72.41, 433.89), ("v", 71.96, 434.89, 71.41, 434.89)])
    assert v[0].pts == [(72.41, 433.89), (71.41, 434.89)]
    y = _parse([("m", 72.41, 433.89), ("y", 72.41, 434.45, 71.41, 434.89)])
    assert y[0].pts == [(72.41, 433.89), (71.41, 434.89)]
    assert c[0].original_path == [
        ("m", (72.41, 433.89)),
        ("c", (72.41, 434.45), (71.96, 434.89), (71.41, 434.89)),
    ]


def test_paint_path_dashed():
    objs = _parse(
        [("m", 72.41, 433.89), ("c", 72.41, 434.45, 71.96, 434.89, 71.41, 434.89)],
        dash=([1, 1], 0),
    )
    assert objs[0].dashing_style == ([1, 1], 0)


def test_paint_path_without_starting_m():
    device = _analyzer()
    for path in ([("h",)], [("l", 72.41, 433.89), ("l", 82.41, 433.89), ("h",)]):
        device.paint_path(GraphicState(), False, False, False, path)
    assert len(device.cur_item._objs) == 0


@requires_reference("samples/contrib/issue_1165_linewidth.pdf")
def test_linewidth_pdf():
    pages = extract_pages(
        open(SAMPLES + "contrib/issue_1165_linewidth.pdf", "rb").read()
    )
    page = next(iter(pages))
    lines = sorted(
        (item for item in page if type(item) is LTLine),
        key=lambda ln: ln.linewidth,
    )
    assert len(lines) == 2
    assert lines[0].linewidth == 2.83465
    assert lines[1].linewidth == 2 * 2.83465


def _chars(el):
    if isinstance(el, LTContainer):
        for item in el:
            yield from _chars(item)
    elif isinstance(el, LTChar):
        yield el


@requires_reference("samples/contrib/issue-00352-hash-twos-complement.pdf")
def test_color_types_by_space():
    data = open(
        SAMPLES + "contrib/issue-00352-hash-twos-complement.pdf", "rb"
    ).read()
    seen = set()
    for page in extract_pages(data):
        for char in _chars(page):
            cs = char.ncs.name
            color = char.graphicstate.ncolor
            seen.add(cs)
            if cs == "DeviceGray":
                assert isinstance(color, (float, int))
            elif cs == "DeviceRGB":
                assert len(color) == 3
            elif cs == "DeviceCMYK":
                assert len(color) == 4
            elif cs == "Pattern":
                assert isinstance(color, str) and color.startswith("P")
    assert seen


@requires_reference("samples/test_pattern_colors.pdf")
def test_pattern_colors_pdf():
    data = open(SAMPLES + "test_pattern_colors.pdf", "rb").read()
    found = 0
    for page in extract_pages(data):
        for item in page:
            if isinstance(item, LTCurve):
                for color in (item.stroking_color, item.non_stroking_color):
                    if isinstance(color, str):
                        assert color.startswith("P")
                        found += 1
                    elif isinstance(color, tuple) and len(color) == 2 and isinstance(
                        color[1], str
                    ):
                        assert color[1].startswith("P")
                        found += 1
    assert found > 0
