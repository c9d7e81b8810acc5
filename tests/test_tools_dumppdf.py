"""dumppdf CLI parity: XML object-graph dumps byte-equal to the reference.

Runs both tools as subprocesses over the corpus with the option sets the
reference's own test suite exercises (tests/test_tools_dumppdf.py there):
default trailer dump, ``-t -a`` full object dump, ``-T`` outlines, and
``-p 1`` page attrs, plus AES-encrypted object dumps (issue-1122 padding)
and the known ``-r``/``-b`` TypeError behavior.
"""

import os
import subprocess
import sys

from tests.conftest import requires_reference, sample_or_synth

SAMPLES = "/root/reference/samples/"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_ENV = dict(os.environ, PYTHONPATH="/root/reference")

CORPUS = [
    "simple1.pdf",
    "simple3.pdf",
    "simple5.pdf",  # glued "endobjNN 0 obj" garbage → carve-reset recovery
    "jo.pdf",
    "nonfree/dmca.pdf",
    "nonfree/f1040nr.pdf",
    "nonfree/kampo.pdf",
    "contrib/pagelabels.pdf",  # null-in-ObjStm stays a keyword token
    "contrib/issue-886-xref-stream-widths.pdf",
]
AES_SAMPLES = ("encryption/aes-128.pdf", "encryption/aes-256.pdf")
NEEDS_REF_TOOL = ("pdfminer", "tools/dumppdf.py")


def _run(tool, args):
    if tool == "ours":
        cmd = [sys.executable, os.path.join(REPO, "tools", "dumppdf.py"), *args]
        return subprocess.run(cmd, capture_output=True)
    cmd = [sys.executable, "/root/reference/tools/dumppdf.py", *args]
    return subprocess.run(cmd, capture_output=True, env=REF_ENV)


def _assert_match(args):
    ours = _run("ours", args)
    ref = _run("ref", args)
    assert ours.returncode == ref.returncode, (args, ours.stderr, ref.stderr)
    assert ours.stdout == ref.stdout, args


@requires_reference(*NEEDS_REF_TOOL, *("samples/" + s for s in CORPUS))
def test_dump_parity_corpus():
    for sample in CORPUS:
        path = SAMPLES + sample
        for opts in ([], ["-t", "-a"], ["-T"], ["-p", "1"]):
            _assert_match([*opts, path])


@requires_reference(*NEEDS_REF_TOOL, *("samples/" + s for s in AES_SAMPLES))
def test_dump_encrypted_aes_unpadded():
    for sample in AES_SAMPLES:
        out = _run("ours", ["-P", "foo", "-i", "1", SAMPLES + sample])
        assert b'<string size="5">de-DE</string>' in out.stdout
        _assert_match(["-P", "foo", "-t", "-a", SAMPLES + sample])


@requires_reference(*NEEDS_REF_TOOL, "samples/nonfree/i1040nr.pdf")
def test_extract_embedded_matches_reference(tmp_path):
    pdf = SAMPLES + "nonfree/i1040nr.pdf"
    ours_dir, ref_dir = str(tmp_path / "ours"), str(tmp_path / "ref")
    _run("ours", ["-E", ours_dir, pdf])
    _run("ref", ["-E", ref_dir, pdf])
    names = sorted(os.listdir(ours_dir))
    assert names == sorted(os.listdir(ref_dir)) and names
    for n in names:
        with open(os.path.join(ours_dir, n), "rb") as a, open(
            os.path.join(ref_dir, n), "rb"
        ) as b:
            assert a.read() == b.read()


@requires_reference(*NEEDS_REF_TOOL)
def test_dump_fuzz_synth_pdfs(tmp_path):
    """Random rich/CID PDFs from the fuzz generators dump identically
    (in-process, -t -a equivalent) — object-graph parity beyond the
    committed corpus."""
    import importlib.util
    import io

    from pdfminer_six_spark.datagen.transcripts import synth_cid_pdf, synth_rich_pdf

    spec = importlib.util.spec_from_file_location(
        "our_dumppdf", os.path.join(REPO, "tools", "dumppdf.py")
    )
    ours_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ours_mod)
    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")
    rspec = importlib.util.spec_from_file_location(
        "ref_dumppdf", "/root/reference/tools/dumppdf.py"
    )
    ref_mod = importlib.util.module_from_spec(rspec)
    rspec.loader.exec_module(ref_mod)

    for gen, seeds in ((synth_rich_pdf, range(25)), (synth_cid_pdf, range(10))):
        for seed in seeds:
            path = tmp_path / f"{gen.__name__}-{seed}.pdf"
            path.write_bytes(gen(seed))
            a, b = io.StringIO(), io.StringIO()
            ours_mod.dumppdf(a, str(path), [], set(), dumpall=True, codec="text")
            ref_mod.dumppdf(b, str(path), [], set(), dumpall=True, codec="text")
            assert a.getvalue() == b.getvalue(), (gen.__name__, seed)


def test_dump_raw_binary_typeerror(tmp_path):
    # the reference's own tests assert this crash; we keep behavior parity.
    # Any PDF with a stream triggers it, so a two-page synth_pdf stands in
    # for simple1.pdf where the sample is absent.
    pdf = sample_or_synth(tmp_path, "simple1.pdf", [["Hello"], ["World"]])
    for opt in ("-r", "-b"):
        ours = _run("ours", [opt, "-a", "-o", str(tmp_path / "dump.out"),
                             pdf])
        assert ours.returncode != 0
        assert b"TypeError" in ours.stderr
