"""Output devices: glyph placement + layout aggregation + text sink
(SURVEY.md §2.7 G1-G5, §2.1 S6/S12).

Semantics per the reference (pdfminer.six pdfdevice.py:99-239 render_string
horizontal/vertical with kerning & wordspace, converter.py:62-380
layout-analyzer device, LTChar emission, paint_path shape classification,
TextConverter tree walk with "\\n" per box and "\\f" per page).
"""

from __future__ import annotations

import re
from typing import Any, List, Optional, Sequence

from pdfminer_six_spark.core.fonts import Font, UnicodeNotDefined
from pdfminer_six_spark.core.layout import (
    LAParams,
    LTChar,
    LTContainer,
    LTCurve,
    LTFigure,
    LTImage,
    LTLine,
    LTPage,
    LTRect,
    LTText,
    LTTextBox,
    Matrix,
    Point,
    apply_matrix_pt,
    apply_matrix_rect,
    mult_matrix,
    next_seq,
    translate_matrix,
)


class Device:
    """Abstract device — the engine's extension surface (§2.10)."""

    def __init__(self) -> None:
        self.ctm: Optional[Matrix] = None

    def set_ctm(self, ctm: Matrix) -> None:
        self.ctm = ctm

    def begin_page(self, page, ctm: Matrix) -> None: ...
    def end_page(self, page) -> None: ...
    def begin_figure(self, name: str, bbox, matrix: Matrix) -> None: ...
    def end_figure(self, name: str) -> None: ...
    def begin_tag(self, tag, props=None) -> None: ...
    def end_tag(self) -> None: ...
    def do_tag(self, tag, props=None) -> None: ...
    def paint_path(self, gstate, stroke, fill, evenodd, path) -> None: ...
    def render_image(self, name: str, stream) -> None: ...

    def render_string(self, textstate, seq, ncs, graphicstate) -> None:
        """Place a TJ/Tj sequence (reference pdfdevice.py:99-147)."""
        assert self.ctm is not None
        matrix = mult_matrix(textstate.matrix, self.ctm)
        font = textstate.font
        fontsize = textstate.fontsize
        scaling = textstate.scaling * 0.01
        charspace = textstate.charspace * scaling
        wordspace = textstate.wordspace * scaling
        rise = textstate.rise
        if font.is_multibyte():
            wordspace = 0
        dxscale = 0.001 * fontsize * scaling
        args = (
            seq, matrix, textstate.linematrix, font, fontsize,
            scaling, charspace, wordspace, rise, dxscale, ncs, graphicstate,
        )
        if font.is_vertical():
            textstate.linematrix = self._render_vertical(*args)
        else:
            textstate.linematrix = self._render_horizontal(*args)

    def _render_horizontal(
        self, seq, matrix, pos, font, fontsize, scaling, charspace,
        wordspace, rise, dxscale, ncs, graphicstate,
    ) -> Point:
        x, y = pos
        needcharspace = False
        for obj in seq:
            if isinstance(obj, (int, float)):
                x -= obj * dxscale
                needcharspace = True
            elif isinstance(obj, bytes):
                for cid in font.decode(obj):
                    if needcharspace:
                        x += charspace
                    x += self.render_char(
                        translate_matrix(matrix, (x, y)),
                        font, fontsize, scaling, rise, cid, ncs, graphicstate,
                    )
                    if cid == 32 and wordspace:
                        x += wordspace
                    needcharspace = True
        return (x, y)

    def _render_vertical(
        self, seq, matrix, pos, font, fontsize, scaling, charspace,
        wordspace, rise, dxscale, ncs, graphicstate,
    ) -> Point:
        x, y = pos
        needcharspace = False
        for obj in seq:
            if isinstance(obj, (int, float)):
                y -= obj * dxscale
                needcharspace = True
            elif isinstance(obj, bytes):
                for cid in font.decode(obj):
                    if needcharspace:
                        y += charspace
                    y += self.render_char(
                        translate_matrix(matrix, (x, y)),
                        font, fontsize, scaling, rise, cid, ncs, graphicstate,
                    )
                    if cid == 32 and wordspace:
                        y += wordspace
                    needcharspace = True
        return (x, y)

    def render_char(
        self, matrix, font: Font, fontsize, scaling, rise, cid, ncs, graphicstate
    ) -> float:
        return 0


class LayoutDevice(Device):
    """Builds the LTPage tree and runs LAParams analysis
    (reference converter.py:62-289)."""

    def __init__(self, laparams: Optional[LAParams] = None, pageno: int = 1) -> None:
        super().__init__()
        self.laparams = laparams
        self.pageno = pageno
        self._stack: List[Any] = []
        self.cur_item: Any = None
        self.result: Optional[LTPage] = None

    def begin_page(self, page, ctm: Matrix) -> None:
        x0, y0, x1, y1 = apply_matrix_rect(ctm, page.mediabox)
        mediabox = (0, 0, abs(x0 - x1), abs(y0 - y1))
        self.cur_item = LTPage(self.pageno, mediabox)

    def end_page(self, page) -> None:
        assert not self._stack
        assert isinstance(self.cur_item, LTPage)
        if self.laparams is not None:
            self.cur_item.analyze(self.laparams)
        self.pageno += 1
        self.receive_layout(self.cur_item)

    def begin_figure(self, name: str, bbox, matrix: Matrix) -> None:
        self._stack.append(self.cur_item)
        self.cur_item = LTFigure(name, bbox, mult_matrix(matrix, self.ctm))

    def end_figure(self, _: str) -> None:
        fig = self.cur_item
        self.cur_item = self._stack.pop()
        self.cur_item.add(fig)

    def render_image(self, name: str, stream) -> None:
        if not isinstance(self.cur_item, LTFigure):
            return
        self.cur_item.add(
            LTImage(
                name,
                stream,
                (
                    self.cur_item.x0, self.cur_item.y0,
                    self.cur_item.x1, self.cur_item.y1,
                ),
            )
        )

    def paint_path(self, gstate, stroke, fill, evenodd, path) -> None:
        """Classify painted paths into LTLine/LTRect/LTCurve
        (reference converter.py:108-231)."""
        shape = "".join(x[0] for x in path)
        if shape[:1] != "m":
            return
        if shape.count("m") > 1:
            for m in re.finditer(r"m[^m]+", shape):
                self.paint_path(gstate, stroke, fill, evenodd, path[m.start(0) : m.end(0)])
            return
        raw_pts = [(p[-2:] if p[0] != "h" else path[0][-2:]) for p in path]
        pts = [apply_matrix_pt(self.ctm, pt) for pt in raw_pts]
        operators = [str(p[0]) for p in path]
        transformed = [
            [
                apply_matrix_pt(self.ctm, (float(a), float(b)))
                for a, b in zip(p[1::2], p[2::2])
            ]
            for p in path
        ]
        transformed_path = [(o, *pp) for o, pp in zip(operators, transformed)]
        if len(shape) > 3 and shape[-2:] == "lh" and pts[-2] == pts[0]:
            shape = shape[:-2] + "h"
            pts.pop()
        common = dict(
            stroking_color=gstate.scolor,
            non_stroking_color=gstate.ncolor,
            original_path=transformed_path,
            dashing_style=gstate.dash,
        )
        if shape in ("mlh", "ml"):
            self.cur_item.add(
                LTLine(
                    gstate.linewidth, pts[0], pts[1],
                    stroke=stroke, fill=fill, evenodd=evenodd, **common,
                )
            )
        elif shape in ("mlllh", "mllll"):
            (x0, y0), (x1, y1), (x2, y2), (x3, y3), _ = pts
            is_closed = pts[0] == pts[4]
            is_square = (
                x0 == x1 and y1 == y2 and x2 == x3 and y3 == y0
            ) or (y0 == y1 and x1 == x2 and y2 == y3 and x3 == x0)
            if is_closed and is_square:
                self.cur_item.add(
                    LTRect(
                        gstate.linewidth, (*pts[0], *pts[2]),
                        stroke=stroke, fill=fill, evenodd=evenodd, **common,
                    )
                )
            else:
                self.cur_item.add(
                    LTCurve(
                        gstate.linewidth, pts,
                        stroke=stroke, fill=fill, evenodd=evenodd, **common,
                    )
                )
        else:
            self.cur_item.add(
                LTCurve(
                    gstate.linewidth, pts,
                    stroke=stroke, fill=fill, evenodd=evenodd, **common,
                )
            )

    def _render_horizontal(
        self, seq, matrix, pos, font, fontsize, scaling, charspace,
        wordspace, rise, dxscale, ncs, graphicstate,
    ) -> Point:
        """:meth:`Device._render_horizontal` with :meth:`render_char` and
        ``LTChar.__init__`` written out.  What every char of the string
        shares is computed once, at its first char: the matrix's ``a b c
        d``, their products with the glyph box's fixed corners (x 0, y
        descent + rise and descent + rise + fontsize), and ``upright``.
        Each char's matrix (``translate_matrix``), bbox
        (``apply_matrix_rect``), ``adv`` and ``size`` come from the same
        float operations and comparisons in the same order."""
        x, y = pos
        a, b, c, d, e, f = matrix
        # the shared values are computed at the first char, where
        # LTChar.__init__ computed them: a bad font raises at the same point
        shared = False
        fontname = font.fontname
        to_unichr = font.to_unichr
        char_width = font.char_width
        add = self.cur_item.add
        new = object.__new__
        needcharspace = False
        for obj in seq:
            if isinstance(obj, (int, float)):
                x -= obj * dxscale
                needcharspace = True
            elif isinstance(obj, bytes):
                for cid in font.decode(obj):
                    if needcharspace:
                        x += charspace
                    try:
                        text = to_unichr(cid)
                    except UnicodeNotDefined:
                        text = self.handle_undefined_char(font, cid)
                    adv = char_width(cid) * fontsize * scaling
                    if not shared:
                        shared = True
                        yc, yd = y * c, y * d
                        upright = a * d * scaling > 0 and b * c <= 0
                        by0 = font.get_descent() * fontsize + rise
                        by1 = by0 + fontsize
                        cy0, dy0, cy1, dy1 = c * by0, d * by0, c * by1, d * by1
                        px0, py0 = a * 0 + cy0, b * 0 + dy0
                        px2, py2 = a * 0 + cy1, b * 0 + dy1
                    e1 = x * a + yc + e
                    f1 = x * b + yd + f
                    ax, bx = a * adv, b * adv
                    qx0, qy0 = px0 + e1, py0 + f1
                    qx1, qy1 = ax + cy0 + e1, bx + dy0 + f1
                    qx2, qy2 = px2 + e1, py2 + f1
                    qx3, qy3 = ax + cy1 + e1, bx + dy1 + f1
                    # min()/max() of the four corners, compared in the
                    # same order without the builtins' call overhead
                    x0 = qx1 if qx1 < qx0 else qx0
                    x0 = qx2 if qx2 < x0 else x0
                    x0 = qx3 if qx3 < x0 else x0
                    y0 = qy1 if qy1 < qy0 else qy0
                    y0 = qy2 if qy2 < y0 else y0
                    y0 = qy3 if qy3 < y0 else y0
                    x1 = qx1 if qx1 > qx0 else qx0
                    x1 = qx2 if qx2 > x1 else x1
                    x1 = qx3 if qx3 > x1 else x1
                    y1 = qy1 if qy1 > qy0 else qy0
                    y1 = qy2 if qy2 > y1 else y1
                    y1 = qy3 if qy3 > y1 else y1
                    item = new(LTChar)
                    item._text = text
                    item.matrix = (a, b, c, d, e1, f1)
                    item.fontname = fontname
                    item.ncs = ncs
                    item.graphicstate = graphicstate
                    item.adv = adv
                    item.upright = upright
                    item.seq = next_seq()
                    item.x0 = x0
                    item.y0 = y0
                    item.x1 = x1
                    item.y1 = y1
                    item.width = x1 - x0
                    item.height = item.size = y1 - y0
                    item.bbox = (x0, y0, x1, y1)
                    add(item)
                    x += adv
                    if cid == 32 and wordspace:
                        x += wordspace
                    needcharspace = True
        return (x, y)

    def render_char(
        self, matrix, font: Font, fontsize, scaling, rise, cid, ncs, graphicstate
    ) -> float:
        try:
            text = font.to_unichr(cid)
        except UnicodeNotDefined:
            text = self.handle_undefined_char(font, cid)
        textwidth = font.char_width(cid)
        textdisp = font.char_disp(cid)
        item = LTChar(
            matrix, font, fontsize, scaling, rise, text,
            textwidth, textdisp, ncs, graphicstate,
        )
        self.cur_item.add(item)
        return item.adv

    def handle_undefined_char(self, font: Font, cid: int) -> str:
        return f"(cid:{cid})"

    def receive_layout(self, ltpage: LTPage) -> None:
        self.result = ltpage

    def get_result(self) -> LTPage:
        assert self.result is not None
        return self.result


class TextDevice(LayoutDevice):
    """Streams plain text: box texts + '\\n' per box + '\\f' per page
    (reference converter.py:147-380)."""

    def __init__(self, laparams: Optional[LAParams] = None) -> None:
        super().__init__(laparams=laparams)
        self.parts: List[str] = []

    def receive_layout(self, ltpage: LTPage) -> None:
        parts = self.parts

        def render(item) -> None:
            if isinstance(item, LTContainer):
                for child in item:
                    render(child)
            elif isinstance(item, LTText):
                parts.append(item.get_text())
            if isinstance(item, LTTextBox):
                parts.append("\n")

        render(ltpage)
        parts.append("\f")

    # text-only: skip recording paths/images (reference converter.py:365-380)
    def render_image(self, name: str, stream) -> None:
        pass

    def paint_path(self, gstate, stroke, fill, evenodd, path) -> None:
        pass

    def get_text(self) -> str:
        # the reference writes each text through a utf-8 encode/ignore
        # round trip; "ignore" drops each unencodable code point (a lone
        # surrogate) on its own, so one round trip over the joined text
        # removes the same ones
        return "".join(self.parts).encode("utf-8", "ignore").decode("utf-8")
