import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
SAMPLES = os.path.join(REFERENCE, "samples")


def reference_available() -> bool:
    return os.path.isdir(REFERENCE)


def requires_reference(*relpaths):
    """skipif mark for a test that reads the given paths under REFERENCE
    (the ``pdfminer`` package, a ``tools/`` script, ``samples/...``;
    relative to it, or absolute); the reason names each one missing."""
    missing = [
        os.path.join(REFERENCE, p)
        for p in relpaths
        if not os.path.exists(os.path.join(REFERENCE, p))
    ]
    return pytest.mark.skipif(
        bool(missing), reason="needs " + ", ".join(missing)
    )


def sample_or_synth(tmp_path, sample, pages) -> str:
    """Path of the reference sample ``sample`` where it exists, otherwise
    of a :func:`synth_pdf` of ``pages`` written under ``tmp_path`` — for
    tests that need *a* PDF of some shape rather than that sample."""
    path = os.path.join(SAMPLES, sample)
    if os.path.exists(path):
        return path
    from pdfminer_six_spark.datagen.transcripts import synth_pdf

    out = tmp_path / ("synth-" + os.path.basename(sample))
    out.write_bytes(synth_pdf(pages))
    return str(out)


def import_reference():
    """Import the reference pdfminer.six in place (read-only) for
    differential tests and golden generation."""
    if REFERENCE not in sys.path:
        sys.path.insert(0, REFERENCE)
    import pdfminer  # noqa: F401

    return pdfminer
