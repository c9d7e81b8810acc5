"""Cluster-deploy regression: the package must work when imported from the
spark-submit --py-files zip (zipimport) — executors never see a checkout,
so every resource load has to go through importlib.resources."""

import os
import subprocess
import sys

from tests.conftest import sample_or_synth

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# jo.pdf is only an input; without it, one Helvetica/WinAnsi page of 30
# lines (over 1,000 chars of text) still loads the AFM metrics and the
# encoding tables from inside the zip.
PAGES = [[f"line {i}: the quick brown fox jumps over the lazy dog"
          for i in range(30)]]

SCRIPT = """
import sys
sys.path.insert(0, {zip_path!r})
import pdfminer_six_spark
assert "zip" in pdfminer_six_spark.__file__, pdfminer_six_spark.__file__
from pdfminer_six_spark.core.extract import extract_text
text = extract_text(open({pdf_path!r}, "rb").read())
assert len(text) > 1000
from pdfminer_six_spark.core.ccitt import g4_decode, g4_encode
import numpy as np
img = np.zeros((3, 10), dtype=bool)
assert g4_decode(g4_encode(img), 10)
print("ZIPIMPORT_OK")
"""


def test_package_runs_from_zip(tmp_path):
    subprocess.run(
        ["bash", os.path.join(REPO, "jobs", "package.sh")],
        check=True, capture_output=True,
    )
    zip_path = os.path.join(REPO, "dist", "pdfminer_six_spark.zip")
    pdf_path = sample_or_synth(tmp_path, "jo.pdf", PAGES)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(zip_path=zip_path,
                                             pdf_path=pdf_path)],
        capture_output=True, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert b"ZIPIMPORT_OK" in out.stdout
