"""Image export (S11) + CCITT G4 (F5) + JBIG2 wrap parity tests.

The CCITT codec is fuzzed differentially against the reference decoder
(round-trip through our encoder, byte-compare both decoders and the
original bitmap).  Image export is compared against the reference's
ImageWriter output and its committed golden (XIPLAYER0.jb2).

Known, documented divergence: our BMPs always contain the full declared
data size; the reference's seek-based writer can truncate the final row's
alignment padding (reference image.py:218-235), so BMP comparisons are
prefix-equality plus an explicit size check.
"""

import os
import sys

import numpy as np
import pytest

from pdfminer_six_spark.core.ccitt import ccitt_fax_decode, g4_decode, g4_encode
from pdfminer_six_spark.core.image import ImageWriter, bmp_bytes
from pdfminer_six_spark.core.jbig2 import encode_segment, parse_segments
from pdfminer_six_spark.core.layout import LTContainer, LTImage
from tests.conftest import requires_reference

SAMPLES = "/root/reference/samples"


def _reference_ccitt():
    sys.path.insert(0, "/root/reference")
    from pdfminer.ccitt import CCITTFaxDecoder

    return CCITTFaxDecoder


def _random_fax_image(rng, w, h):
    img = np.ones((h, w), dtype=bool)
    for y in range(h):
        x = 0
        color = bool(rng.integers(0, 2))
        while x < w:
            run = int(rng.integers(1, max(2, w // 3)))
            img[y, x : x + run] = color
            color = not color
            x += run
    return img


@requires_reference("pdfminer/ccitt.py")
def test_g4_differential_fuzz_vs_reference():
    CCITTFaxDecoder = _reference_ccitt()
    rng = np.random.default_rng(7)
    for _ in range(60):
        w = int(rng.integers(1, 80))
        h = int(rng.integers(1, 30))
        img = _random_fax_image(rng, w, h)
        for bytealign in (False, True):
            for rev in (False, True):
                enc = g4_encode(img, bytealign=bytealign)
                mine = g4_decode(enc, w, bytealign=bytealign, black_is_1=rev)
                ref = CCITTFaxDecoder(w, bytealign=bytealign, reversed=rev)
                ref.feedbytes(enc)
                assert mine == ref.close()
                rows = (
                    np.unpackbits(np.frombuffer(mine, dtype=np.uint8))
                    .reshape(h, -1)[:, :w]
                    .astype(bool)
                )
                assert np.array_equal(rows if not rev else ~rows, img)


def test_ccitt_fax_decode_params():
    img = np.zeros((4, 16), dtype=bool)
    img[1, 3:9] = True
    enc = g4_encode(img)
    out = ccitt_fax_decode(enc, {"K": -1, "Columns": 16})
    assert len(out) == 4 * 2
    from pdfminer_six_spark.core.ccitt import CCITTDecodeError

    with pytest.raises(CCITTDecodeError):
        ccitt_fax_decode(enc, {"K": 0, "Columns": 16})


@requires_reference("samples/contrib/XIPLAYER0.jb2")
def test_jbig2_segment_roundtrip():
    data = open(os.path.join(SAMPLES, "contrib", "XIPLAYER0.jb2"), "rb").read()
    segments = parse_segments(data[13:])  # skip file header
    assert segments, "golden should contain segments"
    assert b"".join(encode_segment(s) for s in segments) == data[13:]


def _export_ours(pdf_path, outdir, **kw):
    from pdfminer_six_spark.core.extract import extract_pages

    iw = ImageWriter(outdir)

    def walk(item):
        if isinstance(item, LTImage):
            iw.export_image(item)
        elif isinstance(item, LTContainer):
            for child in item:
                walk(child)

    with open(pdf_path, "rb") as f:
        data = f.read()
    for page in extract_pages(data, **kw):
        walk(page)
    return sorted(os.listdir(outdir))


def _export_reference(pdf_path, outdir, **kw):
    sys.path.insert(0, "/root/reference")
    from pdfminer.high_level import extract_pages as ref_extract_pages
    from pdfminer.image import ImageWriter as RefImageWriter
    from pdfminer.layout import LTContainer as RefLTContainer
    from pdfminer.layout import LTImage as RefLTImage

    iw = RefImageWriter(outdir)

    def walk(item):
        if isinstance(item, RefLTImage):
            iw.export_image(item)
        elif isinstance(item, RefLTContainer):
            for child in item:
                walk(child)

    for page in ref_extract_pages(pdf_path, **kw):
        walk(page)
    return sorted(os.listdir(outdir))


@requires_reference(
    "samples/contrib/pdf-with-jbig2.pdf", "samples/contrib/XIPLAYER0.jb2"
)
def test_jbig2_export_matches_reference_golden(tmp_path):
    names = _export_ours(
        os.path.join(SAMPLES, "contrib", "pdf-with-jbig2.pdf"), str(tmp_path)
    )
    assert names == ["XIPLAYER0.jb2"]
    ours = (tmp_path / "XIPLAYER0.jb2").read_bytes()
    golden = open(os.path.join(SAMPLES, "contrib", "XIPLAYER0.jb2"), "rb").read()
    assert ours == golden


@requires_reference("pdfminer", "samples/nonfree/dmca.pdf")
def test_bmp_export_matches_reference(tmp_path):
    pdf = os.path.join(SAMPLES, "nonfree", "dmca.pdf")
    ours_dir = tmp_path / "ours"
    ref_dir = tmp_path / "ref"
    names = _export_ours(pdf, str(ours_dir), page_numbers={0})
    ref_names = _export_reference(pdf, str(ref_dir), page_numbers=[0])
    assert names == ref_names == ["im1.bmp"]
    a = (ours_dir / "im1.bmp").read_bytes()
    b = (ref_dir / "im1.bmp").read_bytes()
    assert a[: len(b)] == b
    # ours honors the declared data size exactly
    import struct

    declared = struct.unpack("<I", a[2:6])[0]
    assert len(a) == declared


@requires_reference("pdfminer", "samples/encryption/encrypted_doc_no_id.pdf")
def test_ccitt_image_export_matches_reference(tmp_path):
    pdf = os.path.join(SAMPLES, "encryption", "encrypted_doc_no_id.pdf")
    ours_dir = tmp_path / "ours"
    ref_dir = tmp_path / "ref"
    names = _export_ours(pdf, str(ours_dir))
    ref_names = _export_reference(pdf, str(ref_dir))
    assert names == ref_names == ["I1.bmp"]
    a = (ours_dir / "I1.bmp").read_bytes()
    b = (ref_dir / "I1.bmp").read_bytes()
    assert a[: len(b)] == b


def test_bmp_writer_shapes():
    # 24-bit: 3 bytes/px, rows padded to 4; 2x2 red-ish pixels
    data = bytes([10, 20, 30] * 4)
    bmp = bmp_bytes(24, 2, 2, data)
    assert bmp[:2] == b"BM"
    assert len(bmp) == 14 + 40 + 2 * 8  # two 8-byte rows (6 data + 2 pad)
    with pytest.raises(ValueError):
        bmp_bytes(4, 2, 2, data)
