"""XML/HTML/hOCR sink parity: pdf2txt -t {xml,html,hocr} output is
byte-identical to the reference across the corpus, modulo two sanctioned
normalizations:

  * inline-image figure names are ``str(id(obj))`` in BOTH engines
    (reference pdfinterp.py:1310-1315) — unstable by construction, masked;
  * documents with tied pairwise box distances, where the reference's
    id()-based heap tiebreak makes its own <layout> tree run-order
    unstable (see tests/test_property_fuzz.py); mismatches there are
    accepted only after the tie detector confirms the ambiguity.
"""

import os
import re
import subprocess
import sys

import pytest

from tests.conftest import requires_reference, sample_or_synth
from tests.test_property_fuzz import _has_box_dist_ties

SAMPLES = "/root/reference/samples/"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_ENV = dict(os.environ, PYTHONPATH="/root/reference")
IDNAME = re.compile(rb'name="\d+"')

CORPUS = [
    "simple1.pdf",
    "simple3.pdf",
    "simple4.pdf",
    "simple5.pdf",
    "jo.pdf",
    "font-size-test.pdf",
    "contrib/issue-449-vertical.pdf",
    "contrib/matplotlib.pdf",
    "nonfree/naacl06-shinyama.pdf",
    "nonfree/dmca.pdf",
]
NEEDS_REF_TOOL = ("pdfminer", "tools/pdf2txt.py")


def _convert(tool, fmt, path):
    if tool == "ours":
        cmd = [sys.executable, os.path.join(REPO, "tools", "pdf2txt.py"),
               "-t", fmt, path]
        return subprocess.run(cmd, capture_output=True)
    cmd = [sys.executable, "/root/reference/tools/pdf2txt.py", "-t", fmt, path]
    return subprocess.run(cmd, capture_output=True, env=REF_ENV)


@requires_reference(*NEEDS_REF_TOOL, *("samples/" + s for s in CORPUS))
@pytest.mark.parametrize("fmt", ["xml", "html", "hocr"])
def test_sink_byte_parity(fmt):
    mismatches = []
    for sample in CORPUS:
        path = SAMPLES + sample
        ours = IDNAME.sub(b'name="#"', _convert("ours", fmt, path).stdout)
        ref = IDNAME.sub(b'name="#"', _convert("ref", fmt, path).stdout)
        assert ours, sample
        if ours != ref:
            mismatches.append(sample)
    for sample in mismatches:
        with open(SAMPLES + sample, "rb") as f:
            assert _has_box_dist_ties(f.read()), (
                f"{sample}: {fmt} output differs without tied box distances"
            )


OPTION_CASES = [
    (["-R", "90"], "simple1.pdf"),
    (["-n"], "simple1.pdf"),
    (["-n", "-t", "xml"], "simple1.pdf"),
    (["-t", "xml", "-S"], "simple3.pdf"),
    (["-t", "html", "-s", "2.0"], "simple1.pdf"),
    (["-t", "html", "-Y", "exact"], "simple1.pdf"),
    (["-t", "html", "-Y", "loose"], "simple1.pdf"),
    (["-t", "tag"], "jo.pdf"),
    (["--page-numbers", "2"], "font-size-test.pdf"),
    (["-p", "2", "-t", "xml"], "font-size-test.pdf"),
    (["-A", "-V"], "contrib/issue-449-vertical.pdf"),
    (["-F", "disabled"], "simple3.pdf"),
]


@requires_reference(
    *NEEDS_REF_TOOL, *sorted({"samples/" + s for _, s in OPTION_CASES})
)
def test_cli_option_surface_parity():
    """Rotation, -n no-layout, strip-control, scale, layoutmodes, tag sink,
    page selection forms — each byte-equal to the reference CLI."""
    for opts, sample in OPTION_CASES:
        path = SAMPLES + sample
        ours = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "pdf2txt.py"),
             *opts, path],
            capture_output=True,
        )
        ref = subprocess.run(
            [sys.executable, "/root/reference/tools/pdf2txt.py", *opts, path],
            capture_output=True, env=REF_ENV,
        )
        assert ours.returncode == ref.returncode, (opts, sample, ours.stderr)
        assert ours.stdout == ref.stdout, (opts, sample)


def test_sequential_page_ids(tmp_path):
    # any PDF of two or more pages checks the numbering
    pdf = sample_or_synth(tmp_path, "font-size-test.pdf", [["one"], ["two"]])
    out = _convert("ours", "xml", pdf).stdout
    assert b'<page id="1"' in out and b'<page id="2"' in out


@requires_reference("pdfminer", "samples/jo.pdf", "samples/simple1.pdf")
def test_high_level_api_shapes():
    """Reference import surface: extract_text accepts path/Path/file-like;
    extract_text_to_fp writes identical XML to the reference's."""
    import io
    import pathlib

    from pdfminer_six_spark import high_level

    jo = SAMPLES + "jo.pdf"
    t1 = high_level.extract_text(jo)
    t2 = high_level.extract_text(pathlib.Path(jo))
    with open(jo, "rb") as f:
        t3 = high_level.extract_text(f)
    assert t1 == t2 == t3 and t1

    from pdfminer_six_spark.core.layout import LAParams

    bio = io.BytesIO()
    with open(SAMPLES + "simple1.pdf", "rb") as f:
        high_level.extract_text_to_fp(f, bio, output_type="xml",
                                      laparams=LAParams())
    sys.path.insert(0, "/root/reference")
    import pdfminer.high_level as ref_hl
    from pdfminer.layout import LAParams as RefLA

    rbio = io.BytesIO()
    with open(SAMPLES + "simple1.pdf", "rb") as f:
        ref_hl.extract_text_to_fp(f, rbio, output_type="xml", laparams=RefLA())
    assert bio.getvalue() == rbio.getvalue()
