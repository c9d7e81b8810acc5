"""Font machinery: factory, metrics, byte->CID->Unicode (SURVEY.md §2.7-2.8).

Semantics per the reference (pdfminer.six pdffont.py: get_widths :54-108,
PDFFont :891-1097, PDFCIDFont :1100-1250, Type1 header parser :118-161,
TrueType cmap subtables :726-872).  Base-14 AFM metrics come from our
re-serialized public Adobe data (resources/afm_core14.json.gz).
"""

from __future__ import annotations

import struct
from functools import lru_cache
from io import BytesIO
from typing import Any, Dict, Iterable, List, Mapping, Optional, Tuple, Union

from pdfminer_six_spark.core import cmaps as cm
from pdfminer_six_spark.core.encodings import (
    GlyphNameError,
    get_encoding,
    glyph2unicode,
    load_resource,
)
from pdfminer_six_spark.core.objects import (
    KWD,
    LexEOF,
    Name,
    PDFError,
    StreamObject,
    dict_value,
    int_value,
    list_value,
    name_str,
    num_value,
    resolve1,
    resolve_all,
    stream_value,
)
from pdfminer_six_spark.core.parser import StackParser


class FontError(PDFError):
    pass


class UnicodeNotDefined(FontError):
    def __init__(self, cidcoding, cid):
        super().__init__(f"undefined: {cidcoding} cid={cid}")
        self.cidcoding = cidcoding
        self.cid = cid


def safe_float(x) -> Optional[float]:
    try:
        return float(x)
    except (TypeError, ValueError, OverflowError):
        # OverflowError: int wider than a double (reference casting.py:17-21)
        return None


def parse_w_array(seq: Iterable[Any]) -> Dict[int, float]:
    """CID font /W array: runs ``c [w1 w2 …]`` or ``c1 c2 w``
    (reference pdffont.py:54-87)."""
    widths: Dict[int, float] = {}
    run: List[float] = []
    for v in seq:
        v = resolve1(v)
        if isinstance(v, list):
            if run:
                first = run[-1]
                if isinstance(first, int):
                    for i, w in enumerate(v):
                        widths[first + i] = w
                run = []
        elif isinstance(v, (int, float)):
            run.append(v)
            if len(run) == 3:
                c1, c2, w = run
                if isinstance(c1, int) and isinstance(c2, int):
                    for c in range(c1, c2 + 1):
                        widths[c] = w
                run = []
    return widths


def parse_w2_array(seq: Iterable[Any]) -> Dict[int, Tuple[float, Tuple[float, float]]]:
    """Vertical /W2 array -> cid: (w1y, (vx, vy)) (reference pdffont.py:90-108)."""
    widths: Dict[int, Tuple[float, Tuple[float, float]]] = {}
    run: List[float] = []
    for v in seq:
        v = resolve1(v)
        if isinstance(v, list):
            if run:
                first = run[-1]
                it = iter(v)
                for i, (w, vx, vy) in enumerate(zip(it, it, it)):
                    widths[int(first) + i] = (w, (vx, vy))
                run = []
        elif isinstance(v, (int, float)):
            run.append(v)
            if len(run) == 5:
                c1, c2, w, vx, vy = run
                for c in range(int(c1), int(c2) + 1):
                    widths[c] = (w, (vx, vy))
                run = []
    return widths


@lru_cache(maxsize=1)
def _afm_db() -> Dict[str, Any]:
    return load_resource("afm_core14")


def core14_metrics(fontname: str) -> Tuple[Dict[str, Any], Dict[str, float]]:
    db = _afm_db()
    entry = db[fontname]  # KeyError propagates (caller falls back)
    return entry["descriptor"], entry["widths"]


# ---------------------------------------------------------------------------
# Type1 cleartext header: 'dup <code> /glyphname put' lines

_KW_PUT = KWD(b"put")


class _Type1HeaderParser(StackParser):
    def __init__(self, data: bytes) -> None:
        super().__init__(data)
        self.pairs: List[Tuple[int, str]] = []

    def parse(self) -> Dict[int, str]:
        try:
            while True:
                self.nextobject()
        except LexEOF:
            pass
        out: Dict[int, str] = {}
        for code, glyph in self.pairs:
            try:
                out[code] = glyph2unicode(glyph)
            except GlyphNameError:
                pass
        return out

    def do_keyword(self, pos: int, token) -> None:
        if token is _KW_PUT:
            popped = self.pop(2)
            if len(popped) == 2:
                (_, key), (_, value) = popped
                if isinstance(key, int) and isinstance(value, Name):
                    self.pairs.append((key, name_str(value)))
                    self.add_results((pos, (key, value)))


def parse_type1_header_encoding(data: bytes) -> Dict[int, str]:
    return _Type1HeaderParser(data).parse()


# ---------------------------------------------------------------------------
# TrueType 'cmap' table -> unicode map (reference pdffont.py:726-872)


class TrueTypeCMapError(FontError):
    pass


def truetype_unicode_map(data: bytes) -> cm.FileUnicodeMap:
    fp = BytesIO(data)
    fp.read(4)  # font type tag
    tables: Dict[bytes, Tuple[int, int]] = {}
    try:
        (ntables,) = struct.unpack(">H", fp.read(2))
        fp.read(6)
        for _ in range(ntables):
            tag, _csum, off, length = struct.unpack(">4sLLL", fp.read(16))
            tables[tag] = (off, length)
    except struct.error:
        pass
    if b"cmap" not in tables:
        raise TrueTypeCMapError("no cmap table")
    base, _ = tables[b"cmap"]
    fp.seek(base)
    _version, nsub = struct.unpack(">HH", fp.read(4))
    subtables = [struct.unpack(">HHL", fp.read(8)) for _ in range(nsub)]
    char2gid: Dict[int, int] = {}
    for platform_id, encoding_id, st_offset in subtables:
        if not (platform_id == 0 or (platform_id == 3 and encoding_id in (1, 10))):
            continue
        fp.seek(base + st_offset)
        (fmt,) = struct.unpack(">H", fp.read(2))
        if fmt == 0:
            fp.read(4)
            char2gid.update(enumerate(struct.unpack(">256B", fp.read(256))))
        elif fmt == 2:
            _parse_fmt2(fp, char2gid)
        elif fmt == 4:
            _parse_fmt4(fp, char2gid)
        elif fmt == 6:
            fp.read(4)
            first, count = struct.unpack(">HH", fp.read(4))
            gids = struct.unpack(f">{count}H", fp.read(2 * count))
            for i, g in enumerate(gids):
                char2gid[first + i] = g
        elif fmt in (10, 12):
            fp.read(10)
            if fmt == 10:
                start, count = struct.unpack(">II", fp.read(8))
                gids = struct.unpack(f">{count}H", fp.read(2 * count))
                for i, g in enumerate(gids):
                    char2gid[start + i] = g
            else:
                (ngroups,) = struct.unpack(">I", fp.read(4))
                for _ in range(ngroups):
                    sc, ec, sgid = struct.unpack(">III", fp.read(12))
                    for c in range(sc, ec + 1):
                        char2gid[c] = sgid
                        sgid += 1
        else:
            raise TrueTypeCMapError(f"unhandled cmap format {fmt}")
    if not char2gid:
        raise TrueTypeCMapError("empty cmap")
    umap = cm.FileUnicodeMap()
    for char, gid in char2gid.items():
        umap.add_cid2unichr(gid, char)
    return umap


def _parse_fmt2(fp, char2gid: Dict[int, int]) -> None:
    fp.read(4)
    subheaderkeys = struct.unpack(">256H", fp.read(512))
    firstbytes = [0] * 8192
    for i, k in enumerate(subheaderkeys):
        firstbytes[k // 8] = i
    nhdrs = max(subheaderkeys) // 8 + 1
    hdrs = []
    for i in range(nhdrs):
        firstcode, entcount, delta, offset = struct.unpack(">HHhH", fp.read(8))
        hdrs.append((i, firstcode, entcount, delta, fp.tell() - 2 + offset))
    for i, firstcode, entcount, delta, pos in hdrs:
        if not entcount:
            continue
        first = firstcode + (firstbytes[i] << 8)
        fp.seek(pos)
        for c in range(entcount):
            gid = struct.unpack(">H", fp.read(2))[0]
            if gid:
                gid += delta
            char2gid[first + c] = gid


def _parse_fmt4(fp, char2gid: Dict[int, int]) -> None:
    fp.read(4)
    segcount, _1, _2, _3 = struct.unpack(">HHHH", fp.read(8))
    segcount //= 2
    ecs = struct.unpack(f">{segcount}H", fp.read(2 * segcount))
    fp.read(2)
    scs = struct.unpack(f">{segcount}H", fp.read(2 * segcount))
    idds = struct.unpack(f">{segcount}h", fp.read(2 * segcount))
    pos = fp.tell()
    idrs = struct.unpack(f">{segcount}H", fp.read(2 * segcount))
    for ec, sc, idd, idr in zip(ecs, scs, idds, idrs):
        if idr:
            fp.seek(pos + idr)
            for c in range(sc, ec + 1):
                b = struct.unpack(">H", fp.read(2))[0]
                char2gid[c] = (b + idd) & 0xFFFF
        else:
            for c in range(sc, ec + 1):
                char2gid[c] = (c + idd) & 0xFFFF


# ---------------------------------------------------------------------------
# font classes

LITERAL_STANDARD = "StandardEncoding"
_IDENTITY_ALIASES = {"DLIdent-H": "Identity-H", "DLIdent-V": "Identity-V"}


def _safe_rect(v) -> Optional[Tuple[float, float, float, float]]:
    try:
        x0, y0, x1, y1 = (float(n) for n in v)
        return (x0, y0, x1, y1)
    except (TypeError, ValueError):
        return None


class Font:
    """Base font: metrics + identity byte decode."""

    def __init__(
        self,
        descriptor: Mapping[str, Any],
        widths: Dict[Union[int, str], float],
        default_width: Optional[float] = None,
    ) -> None:
        self.descriptor = descriptor
        self.widths = resolve_all(widths)
        fontname = resolve1(descriptor.get("FontName", "unknown"))
        self.fontname = name_str(fontname) if isinstance(fontname, Name) else fontname
        self.flags = int_value(descriptor.get("Flags", 0))
        self.ascent = num_value(descriptor.get("Ascent", 0))
        self.descent = num_value(descriptor.get("Descent", 0))
        self.italic_angle = num_value(descriptor.get("ItalicAngle", 0))
        if default_width is None:
            self.default_width = num_value(descriptor.get("MissingWidth", 0))
        else:
            self.default_width = resolve1(default_width)
        self.leading = num_value(descriptor.get("Leading", 0))
        bbox = _safe_rect(resolve_all(descriptor.get("FontBBox")))
        self.bbox = bbox if bbox is not None else (0.0, 0.0, 0.0, 0.0)
        self.hscale = self.vscale = 0.001
        if self.descent > 0:
            self.descent = -self.descent  # PScript5.dll emits positive
        # char_width memo: widths/hscale/default_width (and to_unichr's
        # inputs) are fixed after construction, so width is a pure
        # function of cid for this instance
        self._wcache: Dict[int, float] = {}

    def __repr__(self) -> str:
        return f"<Font {self.fontname!r}>"

    def is_vertical(self) -> bool:
        return False

    def is_multibyte(self) -> bool:
        return False

    def decode(self, data: bytes) -> Iterable[int]:
        return bytearray(data)

    def get_ascent(self) -> float:
        return self.ascent * self.vscale

    def get_descent(self) -> float:
        return self.descent * self.vscale

    def get_width(self) -> float:
        w = self.bbox[2] - self.bbox[0]
        if w == 0:
            w = -self.default_width
        return w * self.hscale

    def get_height(self) -> float:
        h = self.bbox[3] - self.bbox[1]
        if h == 0:
            h = self.ascent - self.descent
        return h * self.vscale

    def char_width(self, cid: int) -> float:
        cw = self._wcache.get(cid)
        if cw is None:
            cw = self._char_width_uncached(cid)
            self._wcache[cid] = cw
        return cw

    def _char_width_uncached(self, cid: int) -> float:
        w = safe_float(self.widths.get(cid))
        if w is not None:
            return w * self.hscale
        try:
            w = safe_float(self.widths.get(self.to_unichr(cid)))
            if w is not None:
                return w * self.hscale
        except UnicodeNotDefined:
            pass
        return self.default_width * self.hscale

    def char_disp(self, cid: int) -> Union[float, Tuple[Optional[float], float]]:
        return 0

    def string_width(self, s: bytes) -> float:
        return sum(self.char_width(cid) for cid in self.decode(s))

    def to_unichr(self, cid: int) -> str:
        raise NotImplementedError


class SimpleFont(Font):
    """Single-byte-encoded font (Type1/TrueType/Type3)."""

    def __init__(
        self,
        descriptor: Mapping[str, Any],
        widths: Dict[Union[int, str], float],
        spec: Mapping[str, Any],
    ) -> None:
        subtype = spec.get("Subtype")
        default_encoding = LITERAL_STANDARD
        if isinstance(subtype, Name) and name_str(subtype) == "TrueType":
            default_encoding = "WinAnsiEncoding"
        encoding: Any = default_encoding
        if "Encoding" in spec:
            encoding = resolve1(spec["Encoding"])
        if isinstance(encoding, dict):
            base = encoding.get("BaseEncoding")
            name = name_str(base) if isinstance(base, Name) else default_encoding
            diff = list_value(encoding.get("Differences", []))
            self.cid2unicode = get_encoding(name, diff)
        else:
            name = name_str(encoding) if isinstance(encoding, Name) else str(encoding)
            self.cid2unicode = get_encoding(name)
        self.unicode_map: Optional[cm.UnicodeMap] = None
        if "ToUnicode" in spec:
            strm = resolve1(spec["ToUnicode"])
            if isinstance(strm, StreamObject):
                self.unicode_map = cm.parse_tounicode(strm.get_data())
        super().__init__(descriptor, widths)

    def to_unichr(self, cid: int) -> str:
        if self.unicode_map:
            try:
                return self.unicode_map.get_unichr(cid)
            except KeyError:
                pass
        try:
            return self.cid2unicode[cid]
        except KeyError:
            raise UnicodeNotDefined(None, cid)


class Type1Font(SimpleFont):
    def __init__(self, spec: Mapping[str, Any]) -> None:
        basefont = spec.get("BaseFont")
        self.basefont = name_str(basefont) if basefont is not None else "unknown"
        try:
            descriptor, afm_widths = core14_metrics(self.basefont)
            widths: Dict[Union[int, str], float] = dict(afm_widths)
        except KeyError:
            descriptor = dict_value(spec.get("FontDescriptor", {}))
            firstchar = int_value(spec.get("FirstChar", 0))
            width_list = list_value(spec.get("Widths", [0] * 256))
            widths = {
                i + firstchar: resolve1(w) for i, w in enumerate(width_list)
            }
        super().__init__(descriptor, widths, spec)
        if "Encoding" not in spec and "FontFile" in descriptor:
            # recover encoding from the cleartext Type1 header
            try:
                fontfile = stream_value(descriptor.get("FontFile"))
                length1 = int_value(fontfile["Length1"])
                data = fontfile.get_data()[:length1]
                self.cid2unicode = parse_type1_header_encoding(data)
            except Exception:
                pass


class TrueTypeSimpleFont(Type1Font):
    pass


class Type3Font(SimpleFont):
    def __init__(self, spec: Mapping[str, Any]) -> None:
        firstchar = int_value(spec.get("FirstChar", 0))
        width_list = list_value(spec.get("Widths", [0] * 256))
        widths = {i + firstchar: w for i, w in enumerate(width_list)}
        if "FontDescriptor" in spec:
            descriptor = dict_value(spec["FontDescriptor"])
        else:
            descriptor = {
                "Ascent": 0,
                "Descent": 0,
                "FontBBox": spec.get("FontBBox", (0, 0, 0, 0)),
            }
        super().__init__(descriptor, widths, spec)
        self.matrix = tuple(list_value(spec.get("FontMatrix", (1, 0, 0, 1, 0, 0))))
        (_, self.descent, _, self.ascent) = self.bbox
        (self.hscale, self.vscale) = _matrix_norm(self.matrix, (1, 1))
        self._wcache.clear()  # widths memoized under the default scale


def _matrix_norm(m, pt):
    a, b, c, d, _e, _f = m
    x, y = pt
    return (a * x + c * y, b * x + d * y)


class CIDFont(Font):
    """Composite (Type0) font with CMap-driven multibyte decoding."""

    def __init__(self, spec: Mapping[str, Any]) -> None:
        basefont = spec.get("BaseFont")
        self.basefont = name_str(basefont) if basefont is not None else "unknown"
        self.cidsysteminfo = dict_value(spec.get("CIDSystemInfo", {}))
        registry = resolve1(self.cidsysteminfo.get("Registry", b"unknown"))
        ordering = resolve1(self.cidsysteminfo.get("Ordering", b"unknown"))
        if isinstance(registry, bytes):
            registry = registry.decode("latin1")
        if isinstance(ordering, bytes):
            ordering = ordering.decode("latin1")
        self.cidcoding = f"{str(registry).strip()}-{str(ordering).strip()}"
        self.cmap = self._cmap_from_spec(spec)
        descriptor = dict_value(spec.get("FontDescriptor", {}))
        ttf_data: Optional[bytes] = None
        if "FontFile2" in descriptor:
            try:
                ttf_data = stream_value(descriptor["FontFile2"]).get_data()
            except Exception:
                ttf_data = None
        self.unicode_map: Optional[cm.UnicodeMap] = None
        if "ToUnicode" in spec:
            tu = resolve1(spec["ToUnicode"])
            if isinstance(tu, StreamObject):
                self.unicode_map = cm.parse_tounicode(tu.get_data())
            elif isinstance(tu, Name):
                cmap_name = name_str(tu)
                enc = spec.get("Encoding")
                enc_name = name_str(enc) if isinstance(enc, Name) else ""
                if (
                    "Identity" in ordering
                    or "Identity" in cmap_name
                    or "Identity" in enc_name
                ):
                    self.unicode_map = cm.IdentityUnicodeMap()
        elif self.cidcoding in ("Adobe-Identity", "Adobe-UCS"):
            if ttf_data is not None:
                try:
                    self.unicode_map = truetype_unicode_map(ttf_data)
                except TrueTypeCMapError:
                    pass
        else:
            try:
                self.unicode_map = cm.CMapDB.get_unicode_map(
                    self.cidcoding, self.cmap.is_vertical()
                )
            except cm.CMapNotFound:
                pass
        self.vertical = self.cmap.is_vertical()
        if self.vertical:
            widths2 = parse_w2_array(list_value(spec.get("W2", [])))
            self.disps = {cid: (vx, vy) for cid, (_, (vx, vy)) in widths2.items()}
            dw2 = resolve1(spec.get("DW2", [880, -1000]))
            vy, w = dw2
            self.default_disp: Union[float, Tuple[Optional[float], float]] = (None, vy)
            widths = {cid: w for cid, (w, _) in widths2.items()}
            default_width = w
        else:
            self.disps = {}
            self.default_disp = 0
            widths = parse_w_array(list_value(spec.get("W", [])))
            default_width = spec.get("DW", 1000)
        super().__init__(descriptor, widths, default_width=default_width)

    @staticmethod
    def _cmap_from_spec(spec: Mapping[str, Any]) -> cm.BaseCMap:
        cmap_name = "unknown"
        enc = spec.get("Encoding")
        if enc is not None:
            enc_r = resolve1(enc)
            if isinstance(enc_r, Name):
                cmap_name = name_str(enc_r)
            elif isinstance(enc_r, (dict, StreamObject)):
                inner = (
                    enc_r.get("CMapName")
                    if isinstance(enc_r, dict)
                    else enc_r.attrs.get("CMapName")
                )
                if isinstance(inner, Name):
                    cmap_name = name_str(inner)
                elif isinstance(inner, str):
                    # the reference's literal_name coerces plain strings
                    # too (pdffont.py:1205-1210 via psparser literal_name)
                    cmap_name = inner
        cmap_name = _IDENTITY_ALIASES.get(cmap_name, cmap_name)
        try:
            return cm.CMapDB.get_cmap(cmap_name)
        except cm.CMapNotFound:
            return cm.CMap()

    def is_vertical(self) -> bool:
        return self.vertical

    def is_multibyte(self) -> bool:
        return True

    def decode(self, data: bytes) -> Iterable[int]:
        return self.cmap.decode(data)

    def char_disp(self, cid: int):
        return self.disps.get(cid, self.default_disp)

    def to_unichr(self, cid: int) -> str:
        try:
            if not self.unicode_map:
                raise KeyError(cid)
            return self.unicode_map.get_unichr(cid)
        except KeyError:
            raise UnicodeNotDefined(self.cidcoding, cid)


def make_font(spec: Mapping[str, Any], cache: Optional[Dict[Any, Font]] = None) -> Font:
    """Font factory dispatching on /Subtype (reference pdfinterp.py:212-253)."""
    spec = dict_value(spec)
    subtype = spec.get("Subtype")
    st = name_str(subtype) if isinstance(subtype, Name) else ""
    if st in ("Type1", "MMType1"):
        return Type1Font(spec)
    if st == "TrueType":
        return TrueTypeSimpleFont(spec)
    if st == "Type3":
        return Type3Font(spec)
    if st in ("CIDFontType0", "CIDFontType2"):
        return CIDFont(spec)
    if st == "Type0":
        # composite: recurse into the first descendant, merging Encoding/ToUnicode
        dfonts = list_value(spec.get("DescendantFonts", []))
        if dfonts:
            subspec = dict_value(resolve1(dfonts[0])).copy()
            for k in ("Encoding", "ToUnicode"):
                if k in spec:
                    subspec[k] = resolve1(spec[k])
            return make_font(subspec)
    # fallback: permissive Type1
    return Type1Font(spec)
