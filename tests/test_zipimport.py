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


WORKER_SETUP_SCRIPT = """
import gc, importlib, sys, zipfile, zipimport

zpath = sys.argv[1]
MODS = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "",
        "zpkg/sub/mod.py": "X = 1\\n"}


def write(mods):
    with zipfile.ZipFile(zpath, "w") as z:
        for name, src in mods.items():
            z.writestr(name, src)


write(MODS)
sys.path.insert(0, zpath)
import zpkg.sub.mod  # one zipimporter per package directory

reads = []
read_directory = zipimport._read_directory


def counting(archive):
    if archive == zpath:
        reads.append(archive)
    return read_directory(archive)


zipimport._read_directory = counting

from pdfminer_six_spark.spark.pipeline import _worker_setup

_worker_setup()
assert gc.get_freeze_count() > 0
importlib.invalidate_caches()
first = len(reads)
importlib.invalidate_caches()
second = len(reads) - first
assert first <= 1 and second == 0, (first, second)

write(dict(MODS, **{"zpkg/sub/new.py": "Y = 2\\n"}))
before = len(reads)
importlib.invalidate_caches()
import zpkg.sub.new
assert zpkg.sub.new.Y == 2
assert len(reads) > before
print("WORKER_SETUP_OK")
"""


def test_worker_setup_rereads_a_zip_only_when_it_changed(tmp_path):
    """The once-per-worker setup: ``importlib.invalidate_caches()`` (which
    pyspark's worker calls every task) re-reads an unchanged archive's
    directory at most once and then never; a rewritten archive is re-read
    and its new module imports; the loaded kernel is frozen out of the
    collector's generations."""
    out = subprocess.run(
        [sys.executable, "-c", WORKER_SETUP_SCRIPT,
         str(tmp_path / "pkg.zip")],
        capture_output=True, cwd=str(tmp_path),
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert out.returncode == 0, out.stderr
    assert b"WORKER_SETUP_OK" in out.stdout
