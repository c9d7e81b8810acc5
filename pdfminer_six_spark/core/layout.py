"""Layout model + LAParams clustering (SURVEY.md §2.9, the semantic heart).

Replicates the reference's layout analysis exactly (pdfminer.six layout.py:
overlap predicates :169-203, LTChar bbox math :347-393, word-space insertion
:498-574, char->line grouping :703-778, line->box grouping :780-812,
agglomerative box grouping :814-905, reading order :667-694 & :907-942;
utils.py:738-813 Plane grid index) with one deliberate change: heap
tie-breaking uses an explicit monotonically increasing creation sequence
instead of CPython ``id()`` (reference layout.py:827-830), making results
deterministic across processes — a requirement for distributed execution
where per-turn output must not depend on executor memory layout.

The output is the reference's; the work is cut where that is exact.  L5
(``group_textboxes``) reproduces the reference heap's merge order without
heaping all pairs, and keeps the heap (``_group_textboxes_heap``) only for
pages with a non-finite coordinate.  L1 (``group_objects``) writes the
overlap predicates out inline and sets each line's bbox once.
"""

from __future__ import annotations

import heapq
import itertools
from typing import Any, Dict, Iterable, Iterator, List, Optional, Set, Tuple, Union

INF = float("inf")

Matrix = Tuple[float, float, float, float, float, float]
Rect = Tuple[float, float, float, float]
Point = Tuple[float, float]

MATRIX_IDENTITY: Matrix = (1, 0, 0, 1, 0, 0)


def mult_matrix(m1: Matrix, m0: Matrix) -> Matrix:
    a1, b1, c1, d1, e1, f1 = m1
    a0, b0, c0, d0, e0, f0 = m0
    return (
        a0 * a1 + c0 * b1,
        b0 * a1 + d0 * b1,
        a0 * c1 + c0 * d1,
        b0 * c1 + d0 * d1,
        a0 * e1 + c0 * f1 + e0,
        b0 * e1 + d0 * f1 + f0,
    )


def translate_matrix(m: Matrix, v: Point) -> Matrix:
    a, b, c, d, e, f = m
    x, y = v
    return (a, b, c, d, x * a + y * c + e, x * b + y * d + f)


def apply_matrix_pt(m: Matrix, v: Point) -> Point:
    a, b, c, d, e, f = m
    x, y = v
    return (a * x + c * y + e, b * x + d * y + f)


def apply_matrix_rect(m: Matrix, rect: Rect) -> Rect:
    # hot path (once per glyph): transform the 4 corners inline and take
    # min/max without building intermediate point tuples
    # An axis-aligned (b==0, c==0) fast path was A/B-tested here and
    # REVERTED: pinned best-of-7 over the 35-doc corpus showed no signal
    # above box noise (old 1.21-1.65s vs new 1.28-1.48s interleaved), and
    # skipping the c*y0/b*x0 terms diverges from the reference formula on
    # -0.0 and non-finite coords (0*inf = nan in the full expression).
    a, b, c, d, e, f = m
    x0, y0, x1, y1 = rect
    px0 = a * x0 + c * y0 + e
    py0 = b * x0 + d * y0 + f
    px1 = a * x1 + c * y0 + e
    py1 = b * x1 + d * y0 + f
    px2 = a * x0 + c * y1 + e
    py2 = b * x0 + d * y1 + f
    px3 = a * x1 + c * y1 + e
    py3 = b * x1 + d * y1 + f
    return (
        min(px0, px1, px2, px3),
        min(py0, py1, py2, py3),
        max(px0, px1, px2, px3),
        max(py0, py1, py2, py3),
    )


def uniq(objs):
    seen = set()
    for o in objs:
        if id(o) in seen:
            continue
        seen.add(id(o))
        yield o


class LAParams:
    """Layout-analysis knobs (reference layout.py:48-104 defaults)."""

    def __init__(
        self,
        line_overlap: float = 0.5,
        char_margin: float = 2.0,
        line_margin: float = 0.5,
        word_margin: float = 0.1,
        boxes_flow: Optional[float] = 0.5,
        detect_vertical: bool = False,
        all_texts: bool = False,
    ) -> None:
        self.line_overlap = line_overlap
        self.char_margin = char_margin
        self.line_margin = line_margin
        self.word_margin = word_margin
        self.boxes_flow = boxes_flow
        self.detect_vertical = detect_vertical
        self.all_texts = all_texts


# creation sequence: the deterministic tie-break of L5's merge order
next_seq = itertools.count(1).__next__


class LTItem:
    __slots__ = ()

    def analyze(self, laparams: LAParams) -> None:
        pass


class LTText:
    __slots__ = ()

    def get_text(self) -> str:
        raise NotImplementedError


class LTComponent(LTItem):
    """Anything with a bbox."""

    __slots__ = ("seq", "x0", "y0", "x1", "y1", "width", "height", "bbox")

    def __init__(self, bbox: Rect) -> None:
        self.seq = next_seq()  # deterministic heap tiebreak
        self.set_bbox(bbox)

    def set_bbox(self, bbox: Rect) -> None:
        x0, y0, x1, y1 = bbox
        self.x0 = x0
        self.y0 = y0
        self.x1 = x1
        self.y1 = y1
        self.width = x1 - x0
        self.height = y1 - y0
        self.bbox = bbox

    def is_empty(self) -> bool:
        return self.width <= 0 or self.height <= 0

    def is_hoverlap(self, other: "LTComponent") -> bool:
        return other.x0 <= self.x1 and self.x0 <= other.x1

    def hdistance(self, other: "LTComponent") -> float:
        if self.is_hoverlap(other):
            return 0
        return min(abs(self.x0 - other.x1), abs(self.x1 - other.x0))

    def hoverlap(self, other: "LTComponent") -> float:
        if self.is_hoverlap(other):
            return min(abs(self.x0 - other.x1), abs(self.x1 - other.x0))
        return 0

    def is_voverlap(self, other: "LTComponent") -> bool:
        return other.y0 <= self.y1 and self.y0 <= other.y1

    def vdistance(self, other: "LTComponent") -> float:
        if self.is_voverlap(other):
            return 0
        return min(abs(self.y0 - other.y1), abs(self.y1 - other.y0))

    def voverlap(self, other: "LTComponent") -> float:
        if self.is_voverlap(other):
            return min(abs(self.y0 - other.y1), abs(self.y1 - other.y0))
        return 0


class LTCurve(LTComponent):
    def __init__(
        self,
        linewidth: float,
        pts: List[Point],
        stroke: bool = False,
        fill: bool = False,
        evenodd: bool = False,
        stroking_color=None,
        non_stroking_color=None,
        original_path=None,
        dashing_style=None,
    ) -> None:
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        super().__init__((min(xs), min(ys), max(xs), max(ys)))
        self.pts = pts
        self.linewidth = linewidth
        self.stroke = stroke
        self.fill = fill
        self.evenodd = evenodd
        self.stroking_color = stroking_color
        self.non_stroking_color = non_stroking_color
        self.original_path = original_path
        self.dashing_style = dashing_style


class LTLine(LTCurve):
    def __init__(self, linewidth: float, p0: Point, p1: Point, **kw) -> None:
        super().__init__(linewidth, [p0, p1], **kw)


class LTRect(LTCurve):
    def __init__(self, linewidth: float, bbox: Rect, **kw) -> None:
        x0, y0, x1, y1 = bbox
        super().__init__(
            linewidth, [(x0, y0), (x1, y0), (x1, y1), (x0, y1)], **kw
        )


class LTImage(LTComponent):
    def __init__(self, name: str, stream, bbox: Rect) -> None:
        super().__init__(bbox)
        self.name = name
        self.stream = stream
        self.srcsize = (
            stream.get_any(("W", "Width")),
            stream.get_any(("H", "Height")),
        )
        self.imagemask = stream.get_any(("IM", "ImageMask"))
        self.bits = stream.get_any(("BPC", "BitsPerComponent"), 1)
        self.colorspace = stream.get_any(("CS", "ColorSpace"))
        if not isinstance(self.colorspace, list):
            self.colorspace = [self.colorspace]


class LTAnno(LTItem, LTText):
    """Virtual character (inserted space / newline)."""

    __slots__ = ("_text",)

    def __init__(self, text: str) -> None:
        self._text = text

    def get_text(self) -> str:
        return self._text


class LTChar(LTComponent, LTText):
    """A positioned glyph (reference layout.py:347-405)."""

    __slots__ = (
        "_text", "matrix", "fontname", "ncs", "graphicstate", "adv",
        "upright", "size",
    )

    def __init__(
        self,
        matrix: Matrix,
        font,
        fontsize: float,
        scaling: float,
        rise: float,
        text: str,
        textwidth: float,
        textdisp,
        ncs=None,
        graphicstate=None,
    ) -> None:
        self._text = text
        self.matrix = matrix
        self.fontname = font.fontname
        self.ncs = ncs
        self.graphicstate = graphicstate
        self.adv = textwidth * fontsize * scaling
        if font.is_vertical():
            vx, vy = textdisp
            vx = fontsize * 0.5 if vx is None else vx * fontsize * 0.001
            vy = (1000 - vy) * fontsize * 0.001
            bbox = (-vx, vy + rise + self.adv, -vx + fontsize, vy + rise)
        else:
            descent = font.get_descent() * fontsize
            bbox = (0, descent + rise, self.adv, descent + rise + fontsize)
        a, b, c, d, _e, _f = matrix
        self.upright = a * d * scaling > 0 and b * c <= 0
        # apply_matrix_rect returns min/max-ordered coords on both its
        # paths, so no re-ordering is needed here
        LTComponent.__init__(self, apply_matrix_rect(matrix, bbox))
        self.size = self.width if font.is_vertical() else self.height

    def get_text(self) -> str:
        return self._text


class LTContainer(LTComponent):
    def __init__(self, bbox: Rect) -> None:
        super().__init__(bbox)
        self._objs: List[Any] = []

    def __iter__(self):
        return iter(self._objs)

    def __len__(self):
        return len(self._objs)

    def add(self, obj) -> None:
        self._objs.append(obj)

    def extend(self, objs) -> None:
        for obj in objs:
            self.add(obj)

    def analyze(self, laparams: LAParams) -> None:
        for obj in self._objs:
            obj.analyze(laparams)


class LTExpandableContainer(LTContainer):
    def __init__(self) -> None:
        super().__init__((+INF, +INF, -INF, -INF))

    def add(self, obj: LTComponent) -> None:
        # hot path (once per child): merge bboxes without builtin-call or
        # tuple-build overhead
        self._objs.append(obj)
        ox0, oy0, ox1, oy1 = obj.x0, obj.y0, obj.x1, obj.y1
        self.set_bbox(
            (
                self.x0 if self.x0 < ox0 else ox0,
                self.y0 if self.y0 < oy0 else oy0,
                self.x1 if self.x1 > ox1 else ox1,
                self.y1 if self.y1 > oy1 else oy1,
            )
        )


class LTTextContainer(LTExpandableContainer, LTText):
    def get_text(self) -> str:
        return "".join(
            obj.get_text() for obj in self._objs if isinstance(obj, LTText)
        )


class LTTextLine(LTTextContainer):
    def __init__(self, word_margin: float) -> None:
        super().__init__()
        self.word_margin = word_margin

    def analyze(self, laparams: LAParams) -> None:
        super().analyze(laparams)
        LTContainer.add(self, LTAnno("\n"))

    def find_neighbors(self, plane: "Plane", ratio: float) -> List["LTTextLine"]:
        raise NotImplementedError

    def is_empty(self) -> bool:
        return super().is_empty() or self.get_text().isspace()


class LTTextLineHorizontal(LTTextLine):
    def __init__(self, word_margin: float) -> None:
        super().__init__(word_margin)
        self._x1: float = +INF

    def add(self, obj: LTComponent) -> None:
        self.extend((obj,))

    def extend(self, objs) -> None:
        """Add each object in turn: an ``LTAnno(" ")`` before a char that
        starts more than ``word_margin`` of its size after the previous
        object's end.  The bbox is set once, at the end, from the same
        min/max fold in the same order as one ``add`` at a time."""
        children = self._objs
        wm = self.word_margin
        x0, y0, x1, y1 = self.x0, self.y0, self.x1, self.y1
        last_x1 = self._x1
        for obj in objs:
            ox0, oy0, ox1, oy1 = obj.x0, obj.y0, obj.x1, obj.y1
            if wm and isinstance(obj, LTChar):
                w, h = obj.width, obj.height
                if last_x1 < ox0 - wm * (h if h > w else w):
                    children.append(LTAnno(" "))
            last_x1 = ox1
            children.append(obj)
            x0 = x0 if x0 < ox0 else ox0
            y0 = y0 if y0 < oy0 else oy0
            x1 = x1 if x1 > ox1 else ox1
            y1 = y1 if y1 > oy1 else oy1
        self._x1 = last_x1
        self.set_bbox((x0, y0, x1, y1))

    def find_neighbors(self, plane: "Plane", ratio: float) -> List[LTTextLine]:
        d = ratio * self.height
        objs = plane.find((self.x0, self.y0 - d, self.x1, self.y1 + d))
        return [
            obj
            for obj in objs
            if (
                isinstance(obj, LTTextLineHorizontal)
                and abs(obj.height - self.height) <= d
                and (
                    abs(obj.x0 - self.x0) <= d
                    or abs(obj.x1 - self.x1) <= d
                    or abs((obj.x0 + obj.x1) / 2 - (self.x0 + self.x1) / 2) <= d
                )
            )
        ]


class LTTextLineVertical(LTTextLine):
    def __init__(self, word_margin: float) -> None:
        super().__init__(word_margin)
        self._y0: float = -INF

    def add(self, obj: LTComponent) -> None:
        self.extend((obj,))

    def extend(self, objs) -> None:
        """:meth:`LTTextLineHorizontal.extend` down the y axis."""
        children = self._objs
        wm = self.word_margin
        x0, y0, x1, y1 = self.x0, self.y0, self.x1, self.y1
        last_y0 = self._y0
        for obj in objs:
            ox0, oy0, ox1, oy1 = obj.x0, obj.y0, obj.x1, obj.y1
            if wm and isinstance(obj, LTChar):
                w, h = obj.width, obj.height
                if oy1 + wm * (h if h > w else w) < last_y0:
                    children.append(LTAnno(" "))
            last_y0 = oy0
            children.append(obj)
            x0 = x0 if x0 < ox0 else ox0
            y0 = y0 if y0 < oy0 else oy0
            x1 = x1 if x1 > ox1 else ox1
            y1 = y1 if y1 > oy1 else oy1
        self._y0 = last_y0
        self.set_bbox((x0, y0, x1, y1))

    def find_neighbors(self, plane: "Plane", ratio: float) -> List[LTTextLine]:
        d = ratio * self.width
        objs = plane.find((self.x0 - d, self.y0, self.x1 + d, self.y1))
        return [
            obj
            for obj in objs
            if (
                isinstance(obj, LTTextLineVertical)
                and abs(obj.width - self.width) <= d
                and (
                    abs(obj.y0 - self.y0) <= d
                    or abs(obj.y1 - self.y1) <= d
                    or abs((obj.y0 + obj.y1) / 2 - (self.y0 + self.y1) / 2) <= d
                )
            )
        ]


class LTTextBox(LTTextContainer):
    def __init__(self) -> None:
        super().__init__()
        self.index: int = -1

    def get_writing_mode(self) -> str:
        raise NotImplementedError


class LTTextBoxHorizontal(LTTextBox):
    def analyze(self, laparams: LAParams) -> None:
        super().analyze(laparams)
        self._objs.sort(key=lambda obj: -obj.y1)

    def get_writing_mode(self) -> str:
        return "lr-tb"


class LTTextBoxVertical(LTTextBox):
    def analyze(self, laparams: LAParams) -> None:
        super().analyze(laparams)
        self._objs.sort(key=lambda obj: -obj.x1)

    def get_writing_mode(self) -> str:
        return "tb-rl"


class LTTextGroup(LTTextContainer):
    def __init__(self, objs) -> None:
        super().__init__()
        self.extend(objs)


class LTTextGroupLRTB(LTTextGroup):
    def analyze(self, laparams: LAParams) -> None:
        super().analyze(laparams)
        f = laparams.boxes_flow
        self._objs.sort(key=lambda obj: (1 - f) * obj.x0 - (1 + f) * (obj.y0 + obj.y1))


class LTTextGroupTBRL(LTTextGroup):
    def analyze(self, laparams: LAParams) -> None:
        super().analyze(laparams)
        f = laparams.boxes_flow
        self._objs.sort(
            key=lambda obj: -(1 + f) * (obj.x0 + obj.x1) - (1 - f) * obj.y1
        )


class IndexAssigner:
    def __init__(self) -> None:
        self.index = 0

    def run(self, obj) -> None:
        if isinstance(obj, LTTextBox):
            obj.index = self.index
            self.index += 1
        elif isinstance(obj, LTTextGroup):
            for x in obj:
                self.run(x)


def _drange(v0: float, v1: float, d: int) -> range:
    return range(int(v0) // d, int(v1 + d) // d)


class Plane:
    """Uniform 50pt grid spatial hash (reference utils.py:738-813)."""

    def __init__(self, bbox: Rect, gridsize: int = 50) -> None:
        self._seq: List[Any] = []
        self._objs: Set[Any] = set()
        self._grid: Dict[Tuple[int, int], List[Any]] = {}
        self.gridsize = gridsize
        (self.x0, self.y0, self.x1, self.y1) = bbox

    def __iter__(self):
        return (obj for obj in self._seq if obj in self._objs)

    def __len__(self):
        return len(self._objs)

    def __contains__(self, obj) -> bool:
        return obj in self._objs

    def _cells(self, bbox: Rect):
        # hot path: same cell keys as the _drange formulation, but returns
        # a sequence (no generator frame) with a 1-cell fast path — most
        # lines/chars span a single 50pt cell
        x0, y0, x1, y1 = bbox
        if x1 <= self.x0 or self.x1 <= x0 or y1 <= self.y0 or self.y1 <= y0:
            return ()
        gs = self.gridsize
        gx0 = int(x0 if x0 > self.x0 else self.x0) // gs
        gx1 = int((x1 if x1 < self.x1 else self.x1) + gs) // gs
        gy0 = int(y0 if y0 > self.y0 else self.y0) // gs
        gy1 = int((y1 if y1 < self.y1 else self.y1) + gs) // gs
        if gx1 - gx0 == 1 and gy1 - gy0 == 1:
            return ((gx0, gy0),)
        return [
            (gx, gy) for gy in range(gy0, gy1) for gx in range(gx0, gx1)
        ]

    def extend(self, objs) -> None:
        for obj in objs:
            self.add(obj)

    def add(self, obj) -> None:
        for k in self._cells((obj.x0, obj.y0, obj.x1, obj.y1)):
            self._grid.setdefault(k, []).append(obj)
        self._seq.append(obj)
        self._objs.add(obj)

    def remove(self, obj) -> None:
        for k in self._cells((obj.x0, obj.y0, obj.x1, obj.y1)):
            try:
                self._grid[k].remove(obj)
            except (KeyError, ValueError):
                pass
        self._objs.discard(obj)

    def find(self, bbox: Rect):
        x0, y0, x1, y1 = bbox
        cells = self._cells(bbox)
        if len(cells) == 1:  # single cell: no duplicates possible
            for obj in self._grid.get(cells[0], ()):
                if obj.x1 <= x0 or x1 <= obj.x0 or obj.y1 <= y0 or y1 <= obj.y0:
                    continue
                yield obj
            return
        done = set()
        for k in cells:
            for obj in self._grid.get(k, ()):
                if obj in done:
                    continue
                done.add(obj)
                if obj.x1 <= x0 or x1 <= obj.x0 or obj.y1 <= y0 or y1 <= obj.y0:
                    continue
                yield obj


# L5 takes the heap path when a coordinate is beyond this: areas of
# coordinates within it stay finite, so every distance compares totally
_COORD_LIMIT = 1e150


def _fsplit(pred, objs):
    t, f = [], []
    for o in objs:
        (t if pred(o) else f).append(o)
    return t, f


class LTLayoutContainer(LTContainer):
    def __init__(self, bbox: Rect) -> None:
        super().__init__(bbox)
        self.groups: Optional[List[LTTextGroup]] = None

    # L1: char -> line grouping, single pass in emission order
    def group_objects(self, laparams: LAParams, objs) -> List[LTTextLine]:
        """Group consecutive chars into lines.  Two neighbours share a
        horizontal line (``halign``) when they overlap vertically by more
        than ``line_overlap`` of the smaller height and lie closer than
        ``char_margin`` widths; ``valign`` is the same across the axes,
        under ``detect_vertical``.  The overlap/distance predicates of
        :class:`LTComponent` are written out inline with the same float
        operations in the same order (``b if b < a else a`` is exactly
        ``min(a, b)``), and each line gets its chars at once when it ends
        (:meth:`LTTextLineHorizontal.extend`).  ``objs`` are LTChars and
        not empty."""
        line_overlap = laparams.line_overlap
        char_margin = laparams.char_margin
        detect_vertical = laparams.detect_vertical
        word_margin = laparams.word_margin
        lines: List[LTTextLine] = []
        line: Optional[LTTextLine] = None
        vertical = False  # the kind of ``line`` while there is one
        chars: List[LTChar] = []
        it = iter(objs)
        obj0 = next(it)
        ax0, ay0, ax1, ay1 = obj0.x0, obj0.y0, obj0.x1, obj0.y1
        aw, ah = obj0.width, obj0.height
        for obj1 in it:
            bx0, by0, bx1, by1 = obj1.x0, obj1.y0, obj1.x1, obj1.y1
            bw, bh = obj1.width, obj1.height
            voverlaps = by0 <= ay1 and ay0 <= by1
            hoverlaps = bx0 <= ax1 and ax0 <= bx1
            halign = False
            if voverlaps:
                p, q = abs(ay0 - by1), abs(ay1 - by0)
                if (bh if bh < ah else ah) * line_overlap < (q if q < p else p):
                    if hoverlaps:
                        hdist = 0
                    else:
                        p, q = abs(ax0 - bx1), abs(ax1 - bx0)
                        hdist = q if q < p else p
                    halign = hdist < (bw if bw > aw else aw) * char_margin
            valign = detect_vertical
            if valign:
                valign = False
                if hoverlaps:
                    p, q = abs(ax0 - bx1), abs(ax1 - bx0)
                    if (bw if bw < aw else aw) * line_overlap < (q if q < p else p):
                        if voverlaps:
                            vdist = 0
                        else:
                            p, q = abs(ay0 - by1), abs(ay1 - by0)
                            vdist = q if q < p else p
                        valign = vdist < (bh if bh > ah else ah) * char_margin
            if line is not None and (valign if vertical else halign):
                chars.append(obj1)
            elif line is not None:
                line.extend(chars)
                lines.append(line)
                line = None
            elif valign and not halign:
                line = LTTextLineVertical(word_margin)
                vertical = True
                chars = [obj0, obj1]
            elif halign and not valign:
                line = LTTextLineHorizontal(word_margin)
                vertical = False
                chars = [obj0, obj1]
            else:
                line = LTTextLineHorizontal(word_margin)
                line.extend([obj0])
                lines.append(line)
                line = None
            obj0 = obj1
            ax0, ay0, ax1, ay1, aw, ah = bx0, by0, bx1, by1, bw, bh
        if line is None:
            line = LTTextLineHorizontal(word_margin)
            chars = [obj0]
        line.extend(chars)
        lines.append(line)
        return lines

    # L3: line -> box grouping via spatial neighbor search
    def group_textlines(self, laparams: LAParams, lines) -> Iterator[LTTextBox]:
        """Each line, with its neighbours and their boxes' lines, makes a
        new box, as in the reference; a box that a later line takes over
        is dropped.  Its lines are recorded as it is made and added only
        to the boxes that are kept, in the same order, so the bboxes come
        out the same without adding each line again at every take-over.
        Every box is still created (and numbered) when the reference
        creates it."""
        plane = Plane(self.bbox)
        plane.extend(lines)
        boxes: Dict[Any, Tuple[LTTextBox, List[LTTextLine]]] = {}
        for line in lines:
            neighbors = line.find_neighbors(plane, laparams.line_margin)
            members = [line]
            for obj1 in neighbors:
                members.append(obj1)
                if obj1 in boxes:
                    members.extend(boxes.pop(obj1)[1])
            box: LTTextBox
            if isinstance(line, LTTextLineHorizontal):
                box = LTTextBoxHorizontal()
            else:
                box = LTTextBoxVertical()
            # dedupe by identity preserving order (objects hash by id)
            entry = (box, list(dict.fromkeys(members)))
            for obj in entry[1]:
                boxes[obj] = entry
        done = set()
        for line in lines:
            if line not in boxes:
                continue
            box, members = boxes[line]
            if id(box) in done:
                continue
            done.add(id(box))
            box.extend(members)
            if not box.is_empty():
                yield box

    # L5: hierarchical agglomerative box grouping
    def group_textboxes(self, laparams: LAParams, boxes) -> List[LTTextGroup]:
        """Merge the two closest boxes, over and over, until one group is
        left; the merge order is exactly :meth:`_group_textboxes_heap`'s.

        That function heaps every pair ``(skip, d, s1, s2)``: ``d`` the
        area the union bbox adds, ``s1``/``s2`` the creation seqs in the
        pair's orientation (list order for two initial boxes, ``(group,
        other)`` for a group's pairs).  The next merge is the live,
        not-skipped pair with the least ``(d, s1, s2)``; if its union
        bbox holds another live box (``isany``, asked of the plane at that
        moment) the pair is marked skip instead; only when no not-skipped
        pair is left does the least skipped pair merge.

        Here each live item owns its pairs with the items before it (list
        order, then creation order), and only its best owned pair is
        heaped.  An item's owned pairs only ever leave (a partner merges,
        or the pair is skipped); none joins, as a new group owns all of
        its pairs.  So a heaped best is a lower bound of its owner's true
        best, and an entry whose partner has merged is recomputed only
        when it reaches the top.  This takes O(n) memory and one pass over
        the live items per new group and per recompute, instead of heaping
        all n(n-1)/2 pairs.

        With a non-finite or huge coordinate ``d`` can be NaN and the heap
        order has no total order to copy: such a page keeps the heap."""
        lim = _COORD_LIMIT
        for b in boxes:
            if not (-lim <= b.x0 <= lim and -lim <= b.y0 <= lim
                    and -lim <= b.x1 <= lim and -lim <= b.y1 <= lim):
                return self._group_textboxes_heap(laparams, boxes)
        plane = Plane(self.bbox)
        plane.extend(boxes)
        items = list(boxes)
        n_boxes = len(items)
        # per item, by rank: (rank, x0, y0, x1, y1, area, seq)
        recs = [
            (r, o.x0, o.y0, o.x1, o.y1, o.width * o.height, o.seq)
            for r, o in enumerate(items)
        ]
        live = list(recs)  # the live items' records, in rank order
        alive = [True] * n_boxes
        skipped: List[Optional[Set[int]]] = [None] * n_boxes
        best: List[Any] = [None] * n_boxes  # each owner's heaped entry
        heap: List[Any] = []
        skip_heap: List[Any] = []

        def rebest(rec) -> None:
            # heap the owner's least (d, s1, s2) over its live, not-skipped
            # pairs, as (d, s1, s2, owner rank, partner rank)
            r, x0, y0, x1, y1, a, s = rec
            skip = skipped[r]
            bd = bs = bq = None
            if r < n_boxes:  # pair (earlier box, r): the owner is o2
                for q, qx0, qy0, qx1, qy1, qa, qs in live:
                    if q >= r:
                        break
                    if skip is not None and q in skip:
                        continue
                    d = (
                        ((x1 if x1 > qx1 else qx1) - (x0 if x0 < qx0 else qx0))
                        * ((y1 if y1 > qy1 else qy1) - (y0 if y0 < qy0 else qy0))
                        - qa
                        - a
                    )
                    if bd is None or d < bd or (d == bd and qs < bs):
                        bd, bs, bq = d, qs, q
                entry = None if bq is None else (bd, bs, s, r, bq)
            else:  # pair (group r, other): the owner is o1
                for q, qx0, qy0, qx1, qy1, qa, qs in live:
                    if q >= r:
                        break
                    if skip is not None and q in skip:
                        continue
                    d = (
                        ((qx1 if qx1 > x1 else x1) - (qx0 if qx0 < x0 else x0))
                        * ((qy1 if qy1 > y1 else y1) - (qy0 if qy0 < y0 else y0))
                        - a
                        - qa
                    )
                    if bd is None or d < bd or (d == bd and qs < bs):
                        bd, bs, bq = d, qs, q
                entry = None if bq is None else (bd, s, bs, r, bq)
            best[r] = entry
            if entry is not None:
                heapq.heappush(heap, entry)

        def isany(obj1, obj2) -> bool:
            x0 = min(obj1.x0, obj2.x0)
            y0 = min(obj1.y0, obj2.y0)
            x1 = max(obj1.x1, obj2.x1)
            y1 = max(obj1.y1, obj2.y1)
            for obj in plane.find((x0, y0, x1, y1)):
                if obj is not obj1 and obj is not obj2:
                    return True
            return False

        for rec in recs[1:]:
            rebest(rec)
        while True:
            while heap:
                entry = heap[0]
                r = entry[3]
                if not alive[r] or best[r] is not entry:
                    heapq.heappop(heap)
                elif not alive[entry[4]]:
                    heapq.heappop(heap)
                    rebest(recs[r])
                else:
                    break
            if heap:
                entry = heapq.heappop(heap)
            else:
                while skip_heap:
                    entry = heapq.heappop(skip_heap)
                    if alive[entry[3]] and alive[entry[4]]:
                        break
                else:
                    break
            r, q = entry[3], entry[4]
            if r < n_boxes:
                obj1, obj2 = items[q], items[r]
            else:
                obj1, obj2 = items[r], items[q]
            # a heaped best is asked isany; a skipped pair merges as it is
            if best[r] is entry and isany(obj1, obj2):
                if skipped[r] is None:
                    skipped[r] = set()
                skipped[r].add(q)
                heapq.heappush(skip_heap, entry)
                rebest(recs[r])
                continue
            if isinstance(obj1, (LTTextBoxVertical, LTTextGroupTBRL)) or isinstance(
                obj2, (LTTextBoxVertical, LTTextGroupTBRL)
            ):
                group: LTTextGroup = LTTextGroupTBRL([obj1, obj2])
            else:
                group = LTTextGroupLRTB([obj1, obj2])
            plane.remove(obj1)
            plane.remove(obj2)
            alive[r] = alive[q] = False
            live = [rec for rec in live if rec[0] != r and rec[0] != q]
            rec = (
                len(items), group.x0, group.y0, group.x1, group.y1,
                group.width * group.height, group.seq,
            )
            items.append(group)
            recs.append(rec)
            alive.append(True)
            skipped.append(None)
            best.append(None)
            rebest(rec)
            live.append(rec)
            plane.add(group)
        return list(plane)

    def _group_textboxes_heap(self, laparams: LAParams, boxes) -> List[LTTextGroup]:
        """L5 as the reference writes it: every pair on one heap.  Kept
        for pages with a non-finite or huge coordinate, and as the oracle
        that :meth:`group_textboxes` is tested against."""
        plane = Plane(self.bbox)

        def dist(o1, o2) -> float:
            x0 = min(o1.x0, o2.x0)
            y0 = min(o1.y0, o2.y0)
            x1 = max(o1.x1, o2.x1)
            y1 = max(o1.y1, o2.y1)
            return (
                (x1 - x0) * (y1 - y0)
                - o1.width * o1.height
                - o2.width * o2.height
            )

        def isany(o1, o2) -> bool:
            x0 = min(o1.x0, o2.x0)
            y0 = min(o1.y0, o2.y0)
            x1 = max(o1.x1, o2.x1)
            y1 = max(o1.y1, o2.y1)
            found = set(plane.find((x0, y0, x1, y1)))
            return bool(found.difference((o1, o2)))

        dists: List[Tuple[bool, float, int, int, Any, Any]] = []
        for i, box1 in enumerate(boxes):
            for box2 in boxes[i + 1 :]:
                dists.append(
                    (False, dist(box1, box2), box1.seq, box2.seq, box1, box2)
                )
        heapq.heapify(dists)

        plane.extend(boxes)
        merged: Set[int] = set()
        while dists:
            skip_isany, d, s1, s2, obj1, obj2 = heapq.heappop(dists)
            if s1 in merged or s2 in merged:
                continue
            if not skip_isany and isany(obj1, obj2):
                heapq.heappush(dists, (True, d, s1, s2, obj1, obj2))
                continue
            if isinstance(obj1, (LTTextBoxVertical, LTTextGroupTBRL)) or isinstance(
                obj2, (LTTextBoxVertical, LTTextGroupTBRL)
            ):
                group: LTTextGroup = LTTextGroupTBRL([obj1, obj2])
            else:
                group = LTTextGroupLRTB([obj1, obj2])
            plane.remove(obj1)
            plane.remove(obj2)
            merged.update((s1, s2))
            for other in plane:
                heapq.heappush(
                    dists,
                    (False, dist(group, other), group.seq, other.seq, group, other),
                )
            plane.add(group)
        return list(plane)

    def analyze(self, laparams: LAParams) -> None:
        textobjs, otherobjs = _fsplit(lambda o: isinstance(o, LTChar), self._objs)
        for obj in otherobjs:
            obj.analyze(laparams)
        if not textobjs:
            return
        textlines = list(self.group_objects(laparams, textobjs))
        empties, textlines = _fsplit(lambda o: o.is_empty(), textlines)
        for obj in empties:
            obj.analyze(laparams)
        textboxes = list(self.group_textlines(laparams, textlines))
        if laparams.boxes_flow is None:
            for tb in textboxes:
                tb.analyze(laparams)

            def getkey(box: LTTextBox):
                if isinstance(box, LTTextBoxVertical):
                    return (0, -box.x1, -box.y0)
                return (1, -box.y0, box.x0)

            textboxes.sort(key=getkey)
        else:
            self.groups = self.group_textboxes(laparams, textboxes)
            assigner = IndexAssigner()
            for group in self.groups:
                group.analyze(laparams)
                assigner.run(group)
            textboxes.sort(key=lambda box: box.index)
        self._objs = textboxes + otherobjs + empties


class LTFigure(LTLayoutContainer):
    """Form XObject area; analyzed only with all_texts."""

    def __init__(self, name: str, bbox: Rect, matrix: Matrix) -> None:
        self.name = name
        self.matrix = matrix
        x, y, w, h = bbox
        super().__init__(apply_matrix_rect(matrix, (x, y, x + w, y + h)))

    def analyze(self, laparams: LAParams) -> None:
        if not laparams.all_texts:
            return
        LTLayoutContainer.analyze(self, laparams)


class LTPage(LTLayoutContainer):
    def __init__(self, pageid: int, bbox: Rect, rotate: float = 0) -> None:
        super().__init__(bbox)
        self.pageid = pageid
        self.rotate = rotate
