"""PDF object model for the extraction engine.

Semantics follow the PDF object model as exercised by the reference
implementation (pdfminer.six: pdfminer/psparser.py:33-101 for interned
symbols, pdfminer/pdftypes.py:69-406 for refs/streams/coercers), but the
code here is an independent implementation: symbols are lightweight interned
dataclass-style objects, coercers are table-driven, and stream decoding is
delegated to :mod:`pdfminer_six_spark.core.filters`.

Design note (Spark): none of these objects ever cross an executor boundary.
The PDF object graph lives entirely inside one Arrow-batched UDF invocation;
only flat relational rows (chars/lines/boxes/extracted) leave the UDF.
"""

from __future__ import annotations

from typing import Any, Dict, Iterator, List, Optional, Tuple

STRICT = False


class PDFError(Exception):
    pass


class ParseError(PDFError):
    pass


class LexEOF(ParseError):
    """Ran out of bytes mid-scan."""


class TypeCoercionError(PDFError):
    pass


class ObjectNotFound(PDFError):
    pass


class _Symbol:
    """Interned symbol; identity comparison is valid within a process."""

    __slots__ = ("name",)
    _pool: Dict[Any, "_Symbol"] = {}

    def __init__(self, name) -> None:
        self.name = name

    def __repr__(self) -> str:
        return f"/{self.name!r}" if isinstance(self, Name) else f"#{self.name!r}"

    @classmethod
    def intern(cls, name):
        key = (cls, name)
        sym = _Symbol._pool.get(key)
        if sym is None:
            sym = cls(name)
            _Symbol._pool[key] = sym
        return sym


class Name(_Symbol):
    """A PDF name object, e.g. ``/Type``.  ``name`` is str (utf-8) or bytes."""

    __slots__ = ()


class Keyword(_Symbol):
    """An operator/keyword token, e.g. ``Tj``; ``name`` is bytes."""

    __slots__ = ()


LIT = Name.intern
KWD = Keyword.intern


def name_str(x: Any) -> str:
    """Best-effort conversion of a Name (or anything) to str."""
    if isinstance(x, Name):
        n = x.name
        if isinstance(n, str):
            return n
        try:
            return n.decode("utf-8")
        except UnicodeDecodeError:
            return str(n)
    if STRICT:
        raise TypeCoercionError(f"name required: {x!r}")
    return str(x)


class ObjRef:
    """Indirect reference ``objid gen R`` — a lazy foreign key into the
    document's object store (reference: pdftypes.py:69-104)."""

    __slots__ = ("doc", "objid")

    def __init__(self, doc, objid: int) -> None:
        self.doc = doc
        self.objid = objid

    def __repr__(self) -> str:
        return f"<ref:{self.objid}>"

    def resolve(self, default: Any = None) -> Any:
        try:
            return self.doc.getobj(self.objid)
        except ObjectNotFound:
            return default


def resolve1(x: Any, default: Any = None) -> Any:
    """Resolve one level of indirection."""
    while isinstance(x, ObjRef):
        x = x.resolve(default=default)
    return x


def resolve_all(x: Any, default: Any = None, _depth: int = 0) -> Any:
    """Recursively resolve every indirect reference inside x."""
    if _depth > 32:
        return x
    while isinstance(x, ObjRef):
        x = x.resolve(default=default)
    if isinstance(x, list):
        return [resolve_all(v, default=default, _depth=_depth + 1) for v in x]
    if isinstance(x, dict):
        return {
            k: resolve_all(v, default=default, _depth=_depth + 1)
            for k, v in x.items()
        }
    return x


def decipher_all(decipher, objid: int, genno: int, x: Any) -> Any:
    """Apply a decryption callable to every string/stream in x."""
    if isinstance(x, bytes):
        return decipher(objid, genno, x)
    if isinstance(x, list):
        return [decipher_all(decipher, objid, genno, v) for v in x]
    if isinstance(x, dict):
        return {k: decipher_all(decipher, objid, genno, v) for k, v in x.items()}
    return x


# ---------------------------------------------------------------------------
# permissive coercers (schema-on-read with typed defaults, reference
# pdftypes.py:148-218)

def _coerce(x: Any, types, default):
    x = resolve1(x)
    if not isinstance(x, types):
        if STRICT:
            raise TypeCoercionError(f"expected {types}, got {x!r}")
        return default
    return x


def int_value(x: Any) -> int:
    return _coerce(x, int, 0)


def num_value(x: Any):
    return _coerce(x, (int, float), 0)


def bytes_value(x: Any) -> bytes:
    return _coerce(x, bytes, b"")


def list_value(x: Any) -> list:
    return _coerce(x, (list, tuple), [])


def dict_value(x: Any) -> dict:
    return _coerce(x, dict, {})


def stream_value(x: Any) -> "StreamObject":
    x = resolve1(x)
    if not isinstance(x, StreamObject):
        if STRICT:
            raise TypeCoercionError(f"expected stream, got {x!r}")
        return StreamObject({}, b"")
    return x


def safe_int(x: Any) -> Optional[int]:
    try:
        return int(x)
    except (TypeError, ValueError):
        return None


# filter-name aliases incl. inline-image abbreviations
# (reference pdftypes.py:31-39)
_FILTER_ALIASES = {
    "FlateDecode": "FlateDecode", "Fl": "FlateDecode",
    "LZWDecode": "LZWDecode", "LZW": "LZWDecode",
    "ASCII85Decode": "ASCII85Decode", "A85": "ASCII85Decode",
    "ASCIIHexDecode": "ASCIIHexDecode", "AHx": "ASCIIHexDecode",
    "RunLengthDecode": "RunLengthDecode", "RL": "RunLengthDecode",
    "CCITTFaxDecode": "CCITTFaxDecode", "CCF": "CCITTFaxDecode",
    "DCTDecode": "DCTDecode", "DCT": "DCTDecode",
    "Crypt": "Crypt",
    "JBIG2Decode": "JBIG2Decode",
    "JPXDecode": "JPXDecode",
}
_PASSTHROUGH_FILTERS = {"DCTDecode", "JBIG2Decode", "JPXDecode"}


class StreamObject:
    """A PDF stream: attribute dict + raw bytes + lazy decode through the
    declared filter chain (reference: pdftypes.py:243-406)."""

    __slots__ = ("attrs", "rawdata", "decipher", "data", "objid", "genno")

    def __init__(self, attrs: dict, rawdata: bytes, decipher=None) -> None:
        self.attrs = attrs
        self.rawdata: Optional[bytes] = rawdata
        self.decipher = decipher
        self.data: Optional[bytes] = None
        self.objid: Optional[int] = None
        self.genno: Optional[int] = None

    def set_objid(self, objid: int, genno: int) -> None:
        self.objid = objid
        self.genno = genno

    def __repr__(self) -> str:
        n = len(self.rawdata) if self.rawdata is not None else -1
        return f"<stream({self.objid}) raw={n} {self.attrs!r}>"

    def __contains__(self, k) -> bool:
        return k in self.attrs

    def __getitem__(self, k):
        return self.attrs[k]

    def get(self, k, default=None):
        return self.attrs.get(k, default)

    def get_any(self, keys, default=None):
        for k in keys:
            if k in self.attrs:
                return self.attrs[k]
        return default

    def get_filters(self) -> List[Tuple[str, dict]]:
        """Normalized (filter_name, params) chain, F/Filter + DP/DecodeParms
        aliases handled (reference pdftypes.py:292-307)."""
        filters = resolve_all(self.get_any(("F", "Filter")))
        params = resolve_all(self.get_any(("DP", "DecodeParms", "FDecodeParms")))
        if not filters:
            return []
        if not isinstance(filters, list):
            filters = [filters]
        if not isinstance(params, list):
            params = [params] * len(filters)
        if len(params) < len(filters):
            params = list(params) + [{}] * (len(filters) - len(params))
        out = []
        for f, p in zip(filters, params):
            fname = name_str(f) if isinstance(f, Name) else str(f)
            fname = _FILTER_ALIASES.get(fname, fname)
            out.append((fname, p if isinstance(p, dict) else {}))
        return out

    def decode(self) -> None:
        from pdfminer_six_spark.core import filters as _filters

        assert self.data is None and self.rawdata is not None
        data = self.rawdata
        if self.decipher:
            data = self.decipher(self.objid, self.genno, data, self.attrs)
        chain = self.get_filters()
        for fname, params in chain:
            if fname in _PASSTHROUGH_FILTERS:
                # compressed image payloads stay opaque binary
                pass
            elif fname == "Crypt":
                pass  # handled by decipher above
            else:
                data = _filters.apply_filter(fname, data, params)
                pred = params.get("Predictor")
                if pred is not None:
                    data = _filters.apply_predictor(
                        int_value(pred),
                        int_value(params.get("Colors", 1)) or 1,
                        int_value(params.get("Columns", 1)) or 1,
                        int_value(params.get("BitsPerComponent", 8)) or 8,
                        data,
                    )
        self.data = data
        self.rawdata = None

    def get_data(self) -> bytes:
        if self.data is None:
            self.decode()
        assert self.data is not None
        return self.data

    def get_rawdata(self) -> Optional[bytes]:
        return self.rawdata


def choppairs(seq) -> Iterator[Tuple[Any, Any]]:
    it = iter(seq)
    return zip(it, it)


def nunpack(data: bytes, default: int = 0) -> int:
    """Big-endian unsigned int of arbitrary width (xref streams)."""
    if not data:
        return default
    return int.from_bytes(data, "big")
