"""The reference's encoding/CMap-selection unit cases re-asserted
(tests/test_encodingdb.py and tests/test_pdfencoding.py there):
glyph-name → unicode rules (AGL, uniXXXX, uXXXXX, components, PUA) and
CIDFont encoding resolution (Identity / OneByteIdentity / DLIdent
aliases, literal vs stream /Encoding, spec-less default)."""

import pytest

from pdfminer_six_spark.core.cmaps import CMap, IdentityCMap, IdentityCMapByte
from pdfminer_six_spark.core.encodings import GlyphNameError, glyph2unicode
from pdfminer_six_spark.core import fonts
from pdfminer_six_spark.core.fonts import CIDFont
from pdfminer_six_spark.core.objects import LIT, StreamObject


def test_glyph2unicode_agl():
    assert glyph2unicode("Lcommaaccent") == "Ļ"


def test_glyph2unicode_uni_forms():
    assert glyph2unicode("uni20AC") == "€"
    assert glyph2unicode("uni20ac") == "€"
    assert glyph2unicode("uni20AC0308") == "€̈"
    assert glyph2unicode("uni20ac0308") == "€̈"
    assert glyph2unicode("uniF6FB") == ""
    assert glyph2unicode("unif6fb") == ""
    with pytest.raises(GlyphNameError):
        glyph2unicode("uniD801DC0C")  # lone surrogates are not mappable


def test_glyph2unicode_u_forms():
    assert glyph2unicode("u013B") == "Ļ"
    assert glyph2unicode("u013b") == "Ļ"
    assert glyph2unicode("u1040C") == "\U0001040c"
    assert glyph2unicode("u1040c") == "\U0001040c"


def test_glyph2unicode_components_and_unknown():
    assert (
        glyph2unicode("Lcommaaccent_uni20AC0308_u1040C.alternate")
        == "Ļ€̈\U0001040c"
    )
    with pytest.raises(GlyphNameError):
        glyph2unicode("foo")


def _font(encoding) -> CIDFont:
    return CIDFont({"Encoding": encoding})


def test_cid_encoding_identity():
    for name in ("Identity-H", "Identity-V", "DLIdent-H", "DLIdent-V"):
        assert isinstance(_font(LIT(name)).cmap, IdentityCMap), name


def test_cid_encoding_onebyte_identity():
    for name in ("OneByteIdentityH", "OneByteIdentityV"):
        assert isinstance(_font(LIT(name)).cmap, IdentityCMapByte), name


def test_cid_encoding_from_stream_cmapname():
    for value in (LIT("Identity-H"), "Identity-H", LIT("DLIdent-V")):
        stream = StreamObject({"CMapName": value}, b"")
        assert isinstance(_font(stream).cmap, IdentityCMap), value


def test_cid_font_without_spec_defaults():
    font = CIDFont({})
    assert isinstance(font.cmap, CMap)


def test_type3_char_width_follows_font_matrix(monkeypatch):
    """A Type3 font scales widths by its own FontMatrix, even when a width
    was memoized under the default 0.001 scale during construction."""
    base_init = fonts.SimpleFont.__init__

    def init_then_measure(self, *args, **kwargs):
        base_init(self, *args, **kwargs)
        self.char_width(65)  # before Type3Font rebinds hscale

    monkeypatch.setattr(fonts.SimpleFont, "__init__", init_then_measure)
    font = fonts.Type3Font({
        "FirstChar": 65, "Widths": [500, 250],
        "FontMatrix": [0.01, 0, 0, 0.01, 0, 0], "FontBBox": [0, 0, 750, 750],
    })
    assert font.hscale == 0.01
    assert font.char_width(65) == 500 * font.hscale
    assert font.char_width(66) == 250 * font.hscale
