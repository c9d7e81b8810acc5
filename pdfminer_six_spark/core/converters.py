"""Structured sinks (SURVEY.md §2.1 S7-S10): XML / HTML / hOCR / tag output
from analyzed layout trees.

Output is byte-identical to the reference converters (converter.py:383-681
HTML, :683-837 XML, :842-1016 hOCR, pdfdevice.py:255-327 TagExtractor),
including their quirks: the literal un-interpolated ``top:%dpx;`` in the
HTML page-number div, div border colors written as the item *kind* name
("textbox 1px solid"), and the hOCR word accumulator's stale-text carry
across font changes.  In the Spark engine these are *formatting*
functions — pure ``LTPage -> str`` — so a DataFrame of per-turn XML is
just one more ``mapInPandas`` projection over the same extraction kernel.
"""

from __future__ import annotations

import re
from html import escape as _html_escape
from typing import List, Optional

from pdfminer_six_spark.core.layout import (
    LTAnno,
    LTChar,
    LTCurve,
    LTFigure,
    LTImage,
    LTLine,
    LTPage,
    LTRect,
    LTTextBox,
    LTTextBoxVertical,
    LTTextGroup,
    LTTextLine,
)

_CONTROL = re.compile("[\x00-\x08\x0b-\x0c\x0e-\x1f]")


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _enc(x) -> str:
    """SGML escape (reference utils.py:692-696: bytes vanish, html.escape
    with quote=True otherwise)."""
    if isinstance(x, bytes):
        return ""
    return _html_escape(x)


def _compat_str(x) -> str:
    if isinstance(x, bytes):
        try:
            return x.decode("utf-8")
        except UnicodeDecodeError:
            return x.decode("latin-1")
    return str(x)


def _bbox(o) -> str:
    return f"{o.x0:.3f},{o.y0:.3f},{o.x1:.3f},{o.y1:.3f}"


def page_to_xml(
    page: LTPage,
    page_number: Optional[int] = None,
    stripcontrol: bool = False,
    imagewriter=None,
) -> str:
    """One page of the reference XMLConverter's output, byte-identical
    (converter.py:735-837): <page><textbox><textline><text …> nesting,
    <layout> textgroup tree when layout analysis ran, and the reference's
    exact attribute sets (colourspace/ncolour on chars, pts on curves,
    unescaped figure names)."""
    out: List[str] = []
    write = out.append

    def write_text(text: str) -> None:
        if stripcontrol:
            text = _CONTROL.sub("", text)
        write(_enc(text))

    def show_group(item) -> None:
        if isinstance(item, LTTextBox):
            write(f'<textbox id="{item.index}" bbox="{_bbox(item)}" />\n')
        elif isinstance(item, LTTextGroup):
            write(f'<textgroup bbox="{_bbox(item)}">\n')
            for child in item:
                show_group(child)
            write("</textgroup>\n")

    def render(item) -> None:
        if isinstance(item, LTPage):
            pid = item.pageid if page_number is None else page_number
            write(f'<page id="{pid}" bbox="{_bbox(item)}" rotate="{item.rotate}">\n')
            for child in item:
                render(child)
            if item.groups is not None:
                write("<layout>\n")
                for group in item.groups:
                    show_group(group)
                write("</layout>\n")
            write("</page>\n")
        elif isinstance(item, LTLine):
            write(f'<line linewidth="{item.linewidth}" bbox="{_bbox(item)}" />\n')
        elif isinstance(item, LTRect):
            write(f'<rect linewidth="{item.linewidth}" bbox="{_bbox(item)}" />\n')
        elif isinstance(item, LTCurve):
            pts = ",".join("{:.3f},{:.3f}".format(*p) for p in item.pts)
            write(
                f'<curve linewidth="{item.linewidth}" bbox="{_bbox(item)}" '
                f'pts="{pts}"/>\n'
            )
        elif isinstance(item, LTFigure):
            write(f'<figure name="{item.name}" bbox="{_bbox(item)}">\n')
            for child in item:
                render(child)
            write("</figure>\n")
        elif isinstance(item, LTTextLine):
            write(f'<textline bbox="{_bbox(item)}">\n')
            for child in item:
                render(child)
            write("</textline>\n")
        elif isinstance(item, LTTextBox):
            wmode = ' wmode="vertical"' if isinstance(item, LTTextBoxVertical) else ""
            write(f'<textbox id="{item.index}" bbox="{_bbox(item)}"{wmode}>\n')
            for child in item:
                render(child)
            write("</textbox>\n")
        elif isinstance(item, LTChar):
            ncs_name = item.ncs.name if item.ncs is not None else "DeviceGray"
            ncolor = item.graphicstate.ncolor if item.graphicstate is not None else 0
            write(
                f'<text font="{_enc(item.fontname)}" bbox="{_bbox(item)}" '
                f'colourspace="{ncs_name}" ncolour="{ncolor}" '
                f'size="{item.size:.3f}">'
            )
            write_text(item.get_text())
            write("</text>\n")
        elif isinstance(item, LTAnno):
            write(f"<text>{item.get_text()}</text>\n")
        elif isinstance(item, LTImage):
            if imagewriter is not None:
                name = imagewriter.export_image(item)
                write(
                    f'<image src="{_enc(name)}" width="{item.width}" '
                    f'height="{item.height}" />\n'
                )
            else:
                write(f'<image width="{item.width}" height="{item.height}" />\n')

    render(page)
    return "".join(out)


def pages_to_xml(
    pages: List[LTPage], stripcontrol: bool = False, imagewriter=None
) -> str:
    body = "".join(
        page_to_xml(p, i + 1, stripcontrol=stripcontrol, imagewriter=imagewriter)
        for i, p in enumerate(pages)
    )
    return '<?xml version="1.0" encoding="utf-8" ?>\n<pages>\n' + body + "</pages>\n"


class _HTMLEmitter:
    """The reference HTMLConverter's exact output (converter.py:383-681):
    absolutely-positioned divs/spans, running y-offset across pages, font
    span coalescing, and the reference's literal quirks (un-interpolated
    ``top:%dpx;`` page-number div, item-kind names as border colors)."""

    def __init__(
        self,
        scale: float = 1.0,
        fontscale: float = 1.0,
        layoutmode: str = "normal",
        showpageno: bool = True,
        pagemargin: int = 50,
        imagewriter=None,
        debug: int = 0,
    ) -> None:
        self.scale = scale
        self.fontscale = fontscale
        self.layoutmode = layoutmode
        self.showpageno = showpageno
        self.pagemargin = pagemargin
        self.imagewriter = imagewriter
        self.rect_colors = {"curve": "black", "page": "gray"}
        self.text_colors = {"char": "black"}
        if debug:
            self.rect_colors.update(
                {"figure": "yellow", "textline": "magenta", "textbox": "cyan",
                 "textgroup": "red", "curve": "black", "page": "gray"}
            )
            self.text_colors.update({"textbox": "blue", "char": "black"})
        self._yoffset: float = self.pagemargin
        self._font = None
        self._fontstack: List = []
        self.out: List[str] = []
        self.pageno = 1
        self.write("<html><head>\n")
        self.write(
            '<meta http-equiv="Content-Type" content="text/html; '
            'charset=utf-8">\n'
        )
        self.write("</head><body>\n")

    def write(self, s: str) -> None:
        self.out.append(s)

    def write_text(self, text: str) -> None:
        self.write(_enc(text))

    def place_rect(self, color, borderwidth, x, y, w, h) -> None:
        color2 = self.rect_colors.get(color)
        if color2 is not None:
            self.write(
                '<span style="position:absolute; '
                f"border: {color2} {borderwidth}px solid; "
                f"left:{x * self.scale}px; "
                f"top:{(self._yoffset - y) * self.scale}px; "
                f"width:{w * self.scale}px; "
                f'height:{h * self.scale}px;"></span>\n'
            )

    def place_border(self, color, borderwidth, item) -> None:
        self.place_rect(color, borderwidth, item.x0, item.y1, item.width, item.height)

    def place_image(self, item, borderwidth, x, y, w, h) -> None:
        if self.imagewriter is not None:
            name = self.imagewriter.export_image(item)
            self.write(
                f'<img src="{_enc(name)}" border="{borderwidth}" '
                'style="position:absolute; '
                f"left:{x * self.scale}px; "
                f'top:{(self._yoffset - y) * self.scale}px;" '
                f'width="{w * self.scale}" '
                f'height="{h * self.scale}" />\n'
            )

    def place_text(self, color, text, x, y, size) -> None:
        color2 = self.text_colors.get(color)
        if color2 is not None:
            self.write(
                '<span style="position:absolute; '
                f"color:{color2}; "
                f"left:{x * self.scale}px; "
                f"top:{(self._yoffset - y) * self.scale}px; "
                f'font-size:{size * self.scale * self.fontscale}px;">'
            )
            self.write_text(text)
            self.write("</span>\n")

    def begin_div(self, color, borderwidth, x, y, w, h, writing_mode="False"):
        self._fontstack.append(self._font)
        self._font = None
        self.write(
            '<div style="position:absolute; '
            f"border: {color} {borderwidth}px solid; "
            f"writing-mode:{writing_mode}; "
            f"left:{x * self.scale}px; "
            f"top:{(self._yoffset - y) * self.scale}px; "
            f"width:{w * self.scale}px; "
            f'height:{h * self.scale}px;">'
        )

    def end_div(self, color) -> None:
        if self._font is not None:
            self.write("</span>")
        self._font = self._fontstack.pop()
        self.write("</div>")

    def put_text(self, text, fontname, fontsize) -> None:
        font = (fontname, fontsize)
        if font != self._font:
            if self._font is not None:
                self.write("</span>")
            fontname_without_subset_tag = fontname.split("+")[-1]
            self.write(
                '<span style="'
                f"font-family: {fontname_without_subset_tag}; "
                f'font-size:{fontsize * self.scale * self.fontscale}px">'
            )
            self._font = font
        self.write_text(text)

    def put_newline(self) -> None:
        self.write("<br>")

    def feed(self, ltpage: LTPage) -> None:
        def show_group(item) -> None:
            if isinstance(item, LTTextGroup):
                self.place_border("textgroup", 1, item)
                for child in item:
                    show_group(child)

        def render(item) -> None:
            if isinstance(item, LTPage):
                self._yoffset += item.y1
                self.place_border("page", 1, item)
                if self.showpageno:
                    self.write(
                        '<div style="position:absolute; top:%dpx;">'
                        f"{(self._yoffset - item.y1) * self.scale}",
                    )
                    self.write(
                        f'<a name="{item.pageid}">Page {item.pageid}</a></div>\n',
                    )
                for child in item:
                    render(child)
                if item.groups is not None:
                    for group in item.groups:
                        show_group(group)
            elif isinstance(item, LTCurve):
                self.place_border("curve", 1, item)
            elif isinstance(item, LTFigure):
                self.begin_div("figure", 1, item.x0, item.y1, item.width, item.height)
                for child in item:
                    render(child)
                self.end_div("figure")
            elif isinstance(item, LTImage):
                self.place_image(item, 1, item.x0, item.y1, item.width, item.height)
            elif self.layoutmode == "exact":
                if isinstance(item, LTTextLine):
                    self.place_border("textline", 1, item)
                    for child in item:
                        render(child)
                elif isinstance(item, LTTextBox):
                    self.place_border("textbox", 1, item)
                    self.place_text(
                        "textbox", str(item.index + 1), item.x0, item.y1, 20
                    )
                    for child in item:
                        render(child)
                elif isinstance(item, LTChar):
                    self.place_border("char", 1, item)
                    self.place_text(
                        "char", item.get_text(), item.x0, item.y1, item.size
                    )
            elif isinstance(item, LTTextLine):
                for child in item:
                    render(child)
                if self.layoutmode != "loose":
                    self.put_newline()
            elif isinstance(item, LTTextBox):
                self.begin_div(
                    "textbox", 1, item.x0, item.y1, item.width, item.height,
                    item.get_writing_mode(),
                )
                for child in item:
                    render(child)
                self.end_div("textbox")
            elif isinstance(item, LTChar):
                fontname = _compat_str(item.fontname)
                self.put_text(item.get_text(), fontname, item.size)
            elif isinstance(item, (LTAnno,)):
                self.write_text(item.get_text())

        render(ltpage)
        self._yoffset += self.pagemargin
        self.pageno += 1

    def close(self) -> str:
        page_links = [f'<a href="#{i}">{i}</a>' for i in range(1, self.pageno)]
        self.write(
            '<div style="position:absolute; top:0px;">'
            f"Page: {', '.join(page_links)}</div>\n"
        )
        self.write("</body></html>\n")
        return "".join(self.out)


def pages_to_html(
    pages: List[LTPage],
    scale: float = 1.0,
    fontscale: float = 1.0,
    layoutmode: str = "normal",
    pagemargin: int = 50,
    imagewriter=None,
    debug: int = 0,
) -> str:
    emitter = _HTMLEmitter(
        scale=scale, fontscale=fontscale, layoutmode=layoutmode,
        pagemargin=pagemargin, imagewriter=imagewriter, debug=debug,
    )
    for p in pages:
        emitter.feed(p)
    return emitter.close()


class _HOCREmitter:
    """The reference HOCRConverter's exact output (converter.py:842-1016):
    ocr_page/ocr_block/ocr_line divs with flipped integer bboxes and the
    ocrx_word accumulator, including its stale-state carries (word text is
    not cleared on font/size change flushes)."""

    def __init__(self, codec: str = "utf-8", stripcontrol: bool = False) -> None:
        self.codec = codec
        self.stripcontrol = stripcontrol
        self.within_chars = False
        self.out: List[str] = []
        self.page_bbox = (0.0, 0.0, 0.0, 0.0)
        write = self.out.append
        write(
            "<html xmlns='http://www.w3.org/1999/xhtml' "
            f"xml:lang='en' lang='en' charset='{codec}'>\n"
        )
        write("<head>\n")
        write("<title></title>\n")
        write("<meta http-equiv='Content-Type' content='text/html;charset=utf-8' />\n")
        write("<meta name='ocr-system' content='pdfminer.six HOCR Converter' />\n")
        write(
            "  <meta name='ocr-capabilities'"
            " content='ocr_page ocr_block ocr_line ocrx_word'/>\n"
        )
        write("</head>\n")
        write("<body>\n")

    def write(self, s: str) -> None:
        self.out.append(s)

    def write_text(self, text: str) -> None:
        if self.stripcontrol:
            text = _CONTROL.sub("", text)
        self.write(text)

    def bbox_repr(self, bbox) -> str:
        (in_x0, in_y0, in_x1, in_y1) = bbox
        out_x0 = int(in_x0)
        out_y0 = int(self.page_bbox[3] - in_y1)
        out_x1 = int(in_x1)
        out_y1 = int(self.page_bbox[3] - in_y0)
        return f"bbox {out_x0} {out_y0} {out_x1} {out_y1}"

    def write_word(self) -> None:
        if len(self.working_text) > 0:
            bold_and_italic_styles = ""
            if "Italic" in self.working_font:
                bold_and_italic_styles = "font-style: italic; "
            if "Bold" in self.working_font:
                bold_and_italic_styles += "font-weight: bold; "
            self.write(
                f'<span style=\'font:"{self.working_font}"; '
                f"font-size:{self.working_size}; "
                f"{bold_and_italic_styles}' "
                f"class='ocrx_word' "
                f"title='{self.bbox_repr(self.working_bbox)}; "
                f"x_font {self.working_font}; "
                f"x_fsize {self.working_size}'>"
                f"{self.working_text.strip()}</span>"
            )
        self.within_chars = False

    def feed(self, ltpage: LTPage) -> None:
        def render(item) -> None:
            if self.within_chars and isinstance(item, LTAnno):
                self.write_word()
            if isinstance(item, LTPage):
                self.page_bbox = item.bbox
                self.write(
                    f"<div class='ocr_page' id='{item.pageid}' "
                    f"title='{self.bbox_repr(item.bbox)}'>\n"
                )
                for child in item:
                    render(child)
                self.write("</div>\n")
            elif isinstance(item, LTTextLine):
                self.write(
                    f"<span class='ocr_line' title='{self.bbox_repr(item.bbox)}'>"
                )
                for child_line in item:
                    render(child_line)
                self.write("</span>\n")
            elif isinstance(item, LTTextBox):
                self.write(
                    f"<div class='ocr_block' id='{item.index}' "
                    f"title='{self.bbox_repr(item.bbox)}'>\n"
                )
                for child in item:
                    render(child)
                self.write("</div>\n")
            elif isinstance(item, LTChar):
                if not self.within_chars:
                    self.within_chars = True
                    self.working_text = item.get_text()
                    self.working_bbox = item.bbox
                    self.working_font = item.fontname
                    self.working_size = item.size
                elif len(item.get_text().strip()) == 0:
                    self.write_word()
                    self.write(item.get_text())
                else:
                    if (
                        self.working_bbox[1] != item.bbox[1]
                        or self.working_font != item.fontname
                        or self.working_size != item.size
                    ):
                        self.write_word()
                        self.working_bbox = item.bbox
                        self.working_font = item.fontname
                        self.working_size = item.size
                    self.working_text += item.get_text()
                    self.working_bbox = (
                        self.working_bbox[0],
                        self.working_bbox[1],
                        item.bbox[2],
                        self.working_bbox[3],
                    )

        render(ltpage)

    def close(self) -> str:
        self.write("<!-- comment in the following line to debug -->\n")
        self.write(
            "<!--script src='https://unpkg.com/hocrjs'></script--></body></html>\n"
        )
        return "".join(self.out)


def pages_to_hocr(
    pages: List[LTPage], codec: str = "utf-8", stripcontrol: bool = False
) -> str:
    emitter = _HOCREmitter(codec=codec, stripcontrol=stripcontrol)
    for p in pages:
        emitter.feed(p)
    return emitter.close()


class TagExtractor:
    """Marked-content tag sink (SURVEY.md §2.1 S10; reference
    pdfdevice.py:255-327): emits the structure-tag stream with page
    wrappers and decoded text, no layout analysis."""

    def __init__(self) -> None:
        self.ctm = None
        self.pageno = 0
        self._stack: List[str] = []
        self.parts: List[str] = []

    def set_ctm(self, ctm) -> None:
        self.ctm = ctm

    def _w(self, s: str) -> None:
        self.parts.append(s)

    def begin_page(self, page, ctm) -> None:
        x0, y0, x1, y1 = page.mediabox
        self._w(
            f'<page id="{self.pageno}" '
            f'bbox="{x0:.3f},{y0:.3f},{x1:.3f},{y1:.3f}" '
            f'rotate="{page.rotate}">'
        )

    def end_page(self, page) -> None:
        self._w("</page>\n")
        self.pageno += 1

    def begin_figure(self, name, bbox, matrix) -> None: ...
    def end_figure(self, name) -> None: ...
    def paint_path(self, *a) -> None: ...
    def render_image(self, name, stream) -> None: ...

    def render_string(self, textstate, seq, ncs, graphicstate) -> None:
        from pdfminer_six_spark.core.fonts import UnicodeNotDefined

        font = textstate.font
        if font is None:
            return
        text = ""
        for obj in seq:
            if not isinstance(obj, bytes):
                continue
            for cid in font.decode(obj):
                try:
                    text += font.to_unichr(cid)
                except UnicodeNotDefined:
                    pass
        self._w(_esc(text))

    def begin_tag(self, tag, props=None) -> None:
        attrs = ""
        if isinstance(props, dict):
            attrs = "".join(
                f' {_esc(str(k))}="{_esc(str(v))}"'
                for k, v in sorted(props.items())
            )
        self._w(f"<{_esc(str(tag.name))}{attrs}>")
        self._stack.append(str(tag.name))

    def end_tag(self) -> None:
        if self._stack:
            self._w(f"</{_esc(self._stack.pop())}>")

    def do_tag(self, tag, props=None) -> None:
        self.begin_tag(tag, props)
        if self._stack:
            self._stack.pop()

    def get_output(self) -> str:
        return "".join(self.parts)


def extract_tags(
    data: bytes,
    password: str = "",
    page_numbers=None,
    maxpages: int = 0,
    rotation: int = 0,
) -> str:
    """Tag-stream extraction over a whole document."""
    from pdfminer_six_spark.core.document import get_pages
    from pdfminer_six_spark.core.extract import _apply_rotation
    from pdfminer_six_spark.core.interp import Interpreter, ResourceManager

    device = TagExtractor()
    interp = Interpreter(ResourceManager(), device)
    for page in get_pages(
        data, password=password, page_numbers=page_numbers, maxpages=maxpages
    ):
        interp.process_page(_apply_rotation(page, rotation))
    return device.get_output()
