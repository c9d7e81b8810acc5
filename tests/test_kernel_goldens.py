"""Hermetic kernel goldens: digests of the extraction kernel's output on
fixed synthetic PDFs, so a kernel change that moves one glyph, one bbox
bit or one box's reading order fails here without the reference.

Each case is one input under one set of LAParams; its digest covers:

* ``extract_text`` (the text sink);
* the XML sink (``pages_to_xml`` over ``extract_pages``);
* each page's layout tree: item types, exact bboxes (``repr``, so an int
  turning into a float or a last-bit change shows), child order, every
  ``LTChar`` attribute a sink or the chars relation reads, and the
  ``page.groups`` textgroup tree.

Regenerate the table (only when a change is meant to alter the output)
with ``python3 -m tests.test_kernel_goldens``.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from pdfminer_six_spark.core.converters import pages_to_xml
from pdfminer_six_spark.core.extract import extract_pages, extract_text
from pdfminer_six_spark.core.layout import (
    LAParams,
    LTAnno,
    LTChar,
    LTContainer,
    LTCurve,
    LTTextBox,
    LTTextGroup,
)
from pdfminer_six_spark.datagen.transcripts import (
    _WORDS,
    _pdf_file,
    synth_cid_pdf,
    synth_pdf,
    synth_rich_pdf,
)


def _text_doc(seed: int) -> bytes:
    rng = random.Random(seed)
    return synth_pdf([
        [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 12)))
         for _ in range(rng.randint(3, 40))]
        for _ in range(rng.randint(1, 3))
    ])


def _many_box_page() -> bytes:
    """One page of 300 lines: at 14 pt leading most of them fall below
    the media box, where no line finds a neighbour, so each is a text box
    of its own and L5 clusters about 250 boxes."""
    rng = random.Random(300)
    return synth_pdf([[" ".join(rng.choice(_WORDS) for _ in range(9))
                       for _ in range(300)]])


def _figure_page() -> bytes:
    """A page whose text is partly inside a Form XObject drawn twice (a
    figure, laid out only under ``all_texts``), plus a rule and a box."""
    form = (b"BT /F1 10 Tf 0 40 Td (figure caption line one) Tj "
            b"0 -12 Td (and the second line) Tj ET 0 0 m 150 0 l S")
    page = (b"BT /F1 12 Tf 72 720 Td (Body text above the figure) Tj ET "
            b"q 1 0 0 1 72 500 cm /Fm1 Do Q q 0 1 -1 0 400 300 cm /Fm1 Do Q "
            b"BT /F1 12 Tf 72 200 Td (Body text below) Tj ET 60 60 200 100 re S")
    return _pdf_file([
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 200 60] "
        b"/Resources << /Font << /F1 1 0 R >> >> /Length %d >>\nstream\n%s\n"
        b"endstream" % (len(form), form),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(page), page),
        b"<< /Type /Page /Parent 5 0 R /MediaBox [0 0 612 792] /Resources "
        b"<< /Font << /F1 1 0 R >> /XObject << /Fm1 2 0 R >> >> "
        b"/Contents 3 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 5 0 R >>",
    ], 6)


INPUTS = {
    **{f"text-{s}": (lambda s=s: _text_doc(s)) for s in (1, 2, 3, 4)},
    **{f"rich-{s}": (lambda s=s: synth_rich_pdf(s, max_pages=3))
       for s in (1, 2, 3, 5, 8, 13)},
    **{f"cid-{s}": (lambda s=s: synth_cid_pdf(s)) for s in (1, 2, 3, 4, 6)},
    "many-box": _many_box_page,
    "figure": _figure_page,
}

LAPARAMS = {
    "default": {},
    "vertical": {"detect_vertical": True},
    "noflow": {"boxes_flow": None},
    "alltexts": {"all_texts": True},
    "vertical-alltexts": {"detect_vertical": True, "all_texts": True},
}


def _tree(item, out: list) -> None:
    name = type(item).__name__
    if isinstance(item, LTAnno):
        out.append(f"{name} {item.get_text()!r}")
        return
    line = f"{name} {item.bbox!r} {item.width!r} {item.height!r}"
    if isinstance(item, LTChar):
        ncs = item.ncs.name if item.ncs is not None else None
        ncolor = item.graphicstate.ncolor if item.graphicstate is not None else None
        line += (f" {item.get_text()!r} {item.fontname!r} {item.size!r}"
                 f" {item.adv!r} {item.upright!r} {item.matrix!r}"
                 f" {ncs!r} {ncolor!r}")
    elif isinstance(item, LTTextBox):
        line += f" index={item.index}"
    elif isinstance(item, LTCurve):
        line += f" {item.pts!r}"
    out.append(line)
    if isinstance(item, LTContainer):
        for child in item:
            _tree(child, out)
        out.append("/")
    groups = getattr(item, "groups", None)
    if groups is not None:
        out.append("groups")
        for group in groups:
            _group(group, out)
        out.append("/groups")


def _group(item, out: list) -> None:
    out.append(f"{type(item).__name__} {item.bbox!r}")
    if isinstance(item, LTTextGroup):
        for child in item:
            _group(child, out)
        out.append("/")
    else:
        out.append(f"index={item.index}")


def digest(pdf: bytes, laparams: LAParams) -> str:
    pages = list(extract_pages(pdf, laparams=laparams))
    tree: list = []
    for page in pages:
        _tree(page, tree)
    h = hashlib.sha256()
    for part in (extract_text(pdf, laparams=laparams),
                 pages_to_xml(pages), "\n".join(tree)):
        h.update(hashlib.sha256(part.encode("utf-8", "surrogatepass")).digest())
    return h.hexdigest()[:32]


GOLDEN = {
    "text-1/default": "5895aa255d3df81940202c7dd16fb544",
    "text-1/vertical": "5895aa255d3df81940202c7dd16fb544",
    "text-1/noflow": "01493fd043c305ffa624e3f772e72690",
    "text-1/alltexts": "5895aa255d3df81940202c7dd16fb544",
    "text-1/vertical-alltexts": "5895aa255d3df81940202c7dd16fb544",
    "text-2/default": "22608c0feb3e6e7c87a6cc8e5d985bb2",
    "text-2/vertical": "22608c0feb3e6e7c87a6cc8e5d985bb2",
    "text-2/noflow": "5ec6bfa2acceaa48b6b29ebeaec1e2e2",
    "text-2/alltexts": "22608c0feb3e6e7c87a6cc8e5d985bb2",
    "text-2/vertical-alltexts": "22608c0feb3e6e7c87a6cc8e5d985bb2",
    "text-3/default": "960f543009f9550e6ce5d5b8dc00af75",
    "text-3/vertical": "960f543009f9550e6ce5d5b8dc00af75",
    "text-3/noflow": "11f6451f7cfc06021cf797edbe851b6b",
    "text-3/alltexts": "960f543009f9550e6ce5d5b8dc00af75",
    "text-3/vertical-alltexts": "960f543009f9550e6ce5d5b8dc00af75",
    "text-4/default": "60cf725ebc7ad51c85e03396daa64fb6",
    "text-4/vertical": "60cf725ebc7ad51c85e03396daa64fb6",
    "text-4/noflow": "ac238d4926b7a8be4e2cfa887958f7a3",
    "text-4/alltexts": "60cf725ebc7ad51c85e03396daa64fb6",
    "text-4/vertical-alltexts": "60cf725ebc7ad51c85e03396daa64fb6",
    "rich-1/default": "922893ce34ab945c37ff1762c3ae2c11",
    "rich-1/vertical": "30c329c693e35bd6500c22343e3eac1b",
    "rich-1/noflow": "2d47215448ea518494302c2339625299",
    "rich-1/alltexts": "922893ce34ab945c37ff1762c3ae2c11",
    "rich-1/vertical-alltexts": "30c329c693e35bd6500c22343e3eac1b",
    "rich-2/default": "ca2d9dad9fe47bd81e121d7fe6e0b5cd",
    "rich-2/vertical": "ca2d9dad9fe47bd81e121d7fe6e0b5cd",
    "rich-2/noflow": "3e32f277a043ca6bbcb7f9fd65f0c696",
    "rich-2/alltexts": "ca2d9dad9fe47bd81e121d7fe6e0b5cd",
    "rich-2/vertical-alltexts": "ca2d9dad9fe47bd81e121d7fe6e0b5cd",
    "rich-3/default": "e02e5c8ffb2181ea815047b7b5bfc7a4",
    "rich-3/vertical": "8cc0b9f485c532b97e66d10289b301c0",
    "rich-3/noflow": "f20b841be5bea41b051381fea99bbd85",
    "rich-3/alltexts": "e02e5c8ffb2181ea815047b7b5bfc7a4",
    "rich-3/vertical-alltexts": "8cc0b9f485c532b97e66d10289b301c0",
    "rich-5/default": "5fa1f3f4243066897f6c4268c03b1742",
    "rich-5/vertical": "5fa1f3f4243066897f6c4268c03b1742",
    "rich-5/noflow": "f4eee79e3f9b84e1ecbdbbee32da5d32",
    "rich-5/alltexts": "5fa1f3f4243066897f6c4268c03b1742",
    "rich-5/vertical-alltexts": "5fa1f3f4243066897f6c4268c03b1742",
    "rich-8/default": "c3773cd27c502d9f78a256892ad07513",
    "rich-8/vertical": "c3773cd27c502d9f78a256892ad07513",
    "rich-8/noflow": "fa40c1cbe0010d4e493cbb8fca8e1c1c",
    "rich-8/alltexts": "c3773cd27c502d9f78a256892ad07513",
    "rich-8/vertical-alltexts": "c3773cd27c502d9f78a256892ad07513",
    "rich-13/default": "c493b04c255a13dff09fd609be258f64",
    "rich-13/vertical": "c493b04c255a13dff09fd609be258f64",
    "rich-13/noflow": "4b381a6f47aee904d6f7a75e8e3b123f",
    "rich-13/alltexts": "c493b04c255a13dff09fd609be258f64",
    "rich-13/vertical-alltexts": "c493b04c255a13dff09fd609be258f64",
    "cid-1/default": "5e98da60a23d91cfe985c852be258096",
    "cid-1/vertical": "a01a712b09ac2a2e0e6a776e3884ac49",
    "cid-1/noflow": "346d733131b0a5fb3f84aa312ceeb0ce",
    "cid-1/alltexts": "5e98da60a23d91cfe985c852be258096",
    "cid-1/vertical-alltexts": "a01a712b09ac2a2e0e6a776e3884ac49",
    "cid-2/default": "caf8aa64e22dbbce1207d9d28b7ccd13",
    "cid-2/vertical": "caf8aa64e22dbbce1207d9d28b7ccd13",
    "cid-2/noflow": "9787c979c9d1f6bbb2bc5d736e72330d",
    "cid-2/alltexts": "caf8aa64e22dbbce1207d9d28b7ccd13",
    "cid-2/vertical-alltexts": "caf8aa64e22dbbce1207d9d28b7ccd13",
    "cid-3/default": "4b7790a750927c020fd859f4347b6d91",
    "cid-3/vertical": "9d0276eb65f5e22abcc5d8a92026dee5",
    "cid-3/noflow": "c3c55ff4d04464f55296e2bb5b9714e1",
    "cid-3/alltexts": "4b7790a750927c020fd859f4347b6d91",
    "cid-3/vertical-alltexts": "9d0276eb65f5e22abcc5d8a92026dee5",
    "cid-4/default": "435f532e60bc3fad9e19dedd40fd162d",
    "cid-4/vertical": "68d8a5336938d547675e01810a60b022",
    "cid-4/noflow": "fd111fd3f9d779c12de8a1c82876e5f4",
    "cid-4/alltexts": "435f532e60bc3fad9e19dedd40fd162d",
    "cid-4/vertical-alltexts": "68d8a5336938d547675e01810a60b022",
    "cid-6/default": "d8ec8cc7fdda83beeb099788da879954",
    "cid-6/vertical": "d8ec8cc7fdda83beeb099788da879954",
    "cid-6/noflow": "0d6f190af69691c3b9055cfc55f3d5a0",
    "cid-6/alltexts": "d8ec8cc7fdda83beeb099788da879954",
    "cid-6/vertical-alltexts": "d8ec8cc7fdda83beeb099788da879954",
    "many-box/default": "a3c1f6de6664830f46ad010510ce87d4",
    "many-box/vertical": "a3c1f6de6664830f46ad010510ce87d4",
    "many-box/noflow": "946ca42f1d0169fa14f71379c4bb9c6d",
    "many-box/alltexts": "a3c1f6de6664830f46ad010510ce87d4",
    "many-box/vertical-alltexts": "a3c1f6de6664830f46ad010510ce87d4",
    "figure/default": "7787bbfb03d3ee5b99153a2e764f92cf",
    "figure/vertical": "7787bbfb03d3ee5b99153a2e764f92cf",
    "figure/noflow": "ab8c3e28d2bc21ad50172ffaad5a831a",
    "figure/alltexts": "f43764a9133c4f7019b69bc128be1ce4",
    "figure/vertical-alltexts": "9ccb4021b8c3ded2d7c520a652aab93d",
}


def _cases():
    return [(i, p) for i in INPUTS for p in LAPARAMS]


@pytest.mark.parametrize("inp,params", _cases())
def test_kernel_golden(inp, params):
    got = digest(INPUTS[inp](), LAParams(**LAPARAMS[params]))
    assert got == GOLDEN[f"{inp}/{params}"]


if __name__ == "__main__":
    print("GOLDEN = {")
    for inp, params in _cases():
        d = digest(INPUTS[inp](), LAParams(**LAPARAMS[params]))
        print(f'    "{inp}/{params}": "{d}",')
    print("}")
