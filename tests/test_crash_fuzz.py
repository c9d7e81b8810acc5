"""Arbitrary-bytes crash fuzzing of the extraction kernel through the
pipeline's permissive wrapper — the analogue of the reference's atheris
fuzz targets (reference fuzzing/extract_text_fuzzer.py,
fuzzed_data_provider.py) with deterministic corpus mutations instead of
coverage guidance (atheris isn't in this container, and determinism is
what CI needs).

Contract under test: at 10^12 dirty turns no payload may kill a task —
the pipeline's kernel (``_kernel`` with the PDF text body) must return a
(text, status, error, wall_ms) outcome for ANY bytes, never raise
(pipeline.py STRICT=False semantics).  The base corpus is synthesized
(``datagen``), so the test needs no sample files."""

import base64
import os
import random

import pytest

from pdfminer_six_spark.datagen.transcripts import (
    synth_cid_pdf,
    synth_pdf,
    synth_rich_pdf,
)

pyspark = pytest.importorskip("pyspark")

N_MUTATIONS = int(os.environ.get("CRASH_FUZZ_N", "2000"))
_STATUSES = {"ok", "empty", "bad_password", "error"}


# plain Type1 text over two pages, a rich multi-operator page, and
# horizontal + vertical Type0/CID pages
BASE_DOCS = [
    synth_pdf([["Hello (world) \\ text", "second line"], ["page two"]]),
    synth_rich_pdf(7),
    synth_cid_pdf(2),  # Identity-H
    synth_cid_pdf(1),  # Identity-V
]


def _corpus():
    return list(BASE_DOCS)


def _extract_one(b85: str):
    from pdfminer_six_spark.spark.pipeline import _kernel, _pdf_text

    return _kernel(b85, "", _pdf_text)


def _mutations(corpus, n, seed=0x5EED):
    """Deterministic mutation stream: byte flips, truncations, splices,
    header/trailer corruption, and pure garbage."""
    rng = random.Random(seed)
    for i in range(n):
        kind = i % 5
        base = bytearray(rng.choice(corpus))
        if kind == 0:  # k random byte flips
            for _ in range(rng.randint(1, 64)):
                base[rng.randrange(len(base))] = rng.randrange(256)
            yield bytes(base)
        elif kind == 1:  # truncate anywhere (kills xref/startxref/streams)
            yield bytes(base[: rng.randrange(1, len(base))])
        elif kind == 2:  # splice two docs at random cut points
            other = rng.choice(corpus)
            yield bytes(base[: rng.randrange(len(base))]) + bytes(
                other[rng.randrange(len(other)):]
            )
        elif kind == 3:  # corrupt structural keywords
            token = rng.choice(
                [b"xref", b"trailer", b"endobj", b"stream", b"/Root", b"%PDF"]
            )
            buf = bytes(base).replace(token, bytes(len(token)), rng.randint(1, 4))
            yield buf
        else:  # arbitrary garbage, sometimes with a PDF header
            blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 2048)))
            yield (b"%PDF-1.5\n" + blob) if rng.random() < 0.5 else blob


def test_extract_one_never_raises_on_mutated_corpus():
    corpus = _corpus()
    n_ok = n_err = 0
    for payload in _mutations(corpus, N_MUTATIONS):
        row = _extract_one(base64.b85encode(payload).decode())
        assert isinstance(row, tuple) and len(row) == 4
        text, status, error, wall_ms = row
        assert isinstance(text, str) == (status in ("ok", "empty"))
        assert isinstance(wall_ms, float) and wall_ms >= 0
        assert status in _STATUSES
        assert isinstance(error, str)
        if status == "ok":
            n_ok += 1
        else:
            n_err += 1
    # the stream must exercise BOTH branches: salvageable docs still
    # extract, broken ones degrade to a recorded error — never a crash
    assert n_ok > 0 and n_err > 0, (n_ok, n_err)


def test_extract_one_handles_hostile_non_pdf_inputs():
    hostile = [
        b"",
        b"%PDF-",
        b"%PDF-1.7\n%%EOF",
        b"\x00" * 4096,
        b"%PDF-1.4\n1 0 obj\n<<>>\nstream\n" + b"\xff" * 512,  # unclosed stream
        b"startxref\n-1\n%%EOF",
        b"%PDF-1.4\ntrailer<</Prev 0/Root 1 0 R>>\nstartxref\n0\n%%EOF",
    ]
    for payload in hostile:
        _, status, _, _ = _extract_one(base64.b85encode(payload).decode())
        assert status in _STATUSES
    # invalid base85 must be caught too (the decode happens inside)
    _, status, err, _ = _extract_one("~~not-base85~~")
    assert status == "error" and "b85decode" in err


def test_spark_pipeline_survives_mutated_batch(tmp_path):
    """End-to-end: a batch of mutated payloads through extract_transcripts
    yields exactly one row per input turn, each with a valid status."""
    import pandas as pd

    from pdfminer_six_spark.spark.session import build_session
    from pdfminer_six_spark.spark.pipeline import extract_transcripts

    corpus = _corpus()
    payloads = list(_mutations(corpus, 60, seed=0xF077))
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(payloads))],
            "turn_idx": list(range(len(payloads))),
            "role": ["tool"] * len(payloads),
            "text": [base64.b85encode(p).decode() for p in payloads],
            "tool": ["pdf"] * len(payloads),
        }
    )
    spark = build_session(
        app_name="crash-fuzz", master="local[4]", shuffle_partitions=4
    )
    try:
        rows = extract_transcripts(spark.createDataFrame(pdf)).collect()
        assert len(rows) == len(payloads)
        assert all(r.status in _STATUSES for r in rows)
    finally:
        spark.stop()
