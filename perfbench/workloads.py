"""Seeded workload inputs for the benchmark, built from the repo's own
``datagen`` primitives.

Each generator returns a :class:`Workload`: the transcript rows, how they
are staged on disk, and a record of the mix.  The same seed always gives
the same rows, byte for byte.

* ``pdf_scan``: 300 turns, every one a distinct PDF, in equal thirds
  multi-page text (``synth_pdf``, 2 to 3 pages), rich operators, fonts
  and paths (``synth_rich_pdf``) and CID/CMap fonts (``synth_cid_pdf``).
  Staged as one parquet file with one row group, as a small PDF corpus
  is, so the scan has one split.
* ``corpus_build``: agent transcripts (:func:`chat_mix`), mostly plain
  and tool text, about one third HTML, about 1 % PDFs drawn from a small
  repeated pool, some tool outputs re-run with one word changed.  Staged
  across many files.

In ``pdf_scan`` the per-kind counts and the text PDFs' page counts are
fixed by the size, not drawn from the seed, so the work per run moves
little from one seed to the next.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass
from typing import Dict, List, Tuple

from pdfminer_six_spark.datagen.transcripts import (
    _WORDS,
    synth_cid_pdf,
    synth_html,
    synth_pdf,
    synth_rich_pdf,
)

_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_TOOLS = ("bash", "search", "python", "read_file")

Row = Tuple[str, int, str, str, str, dt.datetime]

# Turn counts per size.  "full" is what the benchmark measures; "tiny" is
# for the smoke test.  The full sizes keep one run of pdf_scan near half a
# minute and one of corpus_build under a minute and a half: pdf_scan is half
# of the 600-turn PDF table on which extraction was seen to run as one task;
# a build pass over 100 conversations (about 1,000 turns) takes nearly as
# long as over 300, because the build's per-stage Spark jobs cost more than
# its rows.
SIZES = {
    "full": {"pdf_scan": 300, "build_convs": 100},
    "tiny": {"pdf_scan": 12, "build_convs": 30},
}


@dataclass
class Workload:
    rows: List[Row]
    n_files: int
    row_group_rows: int
    mix: Dict[str, object]


def _prose(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _tool_output(rng: random.Random) -> str:
    lines = []
    for i in range(rng.randint(8, 40)):
        lines.append(
            f"[{i:03d}] {rng.choice(('ok', 'info', 'warn'))} "
            f"{rng.choice(_WORDS)}={rng.randint(0, 99999)} {_prose(rng, 5)}"
        )
    return "\n".join(lines)


def _b85(payload: bytes) -> str:
    return base64.b85encode(payload).decode("ascii")


def _text_pdf(rng: random.Random, n_pages: int, n_lines: int) -> bytes:
    return synth_pdf(
        [[_prose(rng, 9) for _ in range(n_lines)] for _ in range(n_pages)]
    )


def pdf_scan(seed: int, size: str = "full") -> Workload:
    """Distinct PDFs only: a third each multi-page text, rich and CID."""
    n = SIZES[size]["pdf_scan"]
    rng = random.Random(seed)
    n_text = n_rich = n // 3
    kinds = ["text"] * n_text + ["rich"] * n_rich + ["cid"] * (n - n_text - n_rich)
    rng.shuffle(kinds)
    seen = set()
    rows: List[Row] = []
    n_text_done = 0
    for i, kind in enumerate(kinds):
        while True:
            if kind == "text":
                payload = _text_pdf(rng, 2 + n_text_done % 2, 6)
            elif kind == "rich":
                payload = synth_rich_pdf(rng.getrandbits(31), max_pages=3)
            else:
                payload = synth_cid_pdf(rng.getrandbits(31))
            digest = hashlib.sha1(payload).digest()
            if digest not in seen:  # every turn a distinct PDF
                seen.add(digest)
                break
        n_text_done += kind == "text"
        rows.append(
            (f"scan-{i // 8:05d}", i % 8, "tool", _b85(payload), "pdf",
             _BASE_TS + dt.timedelta(seconds=i))
        )
    mix = _mix(rows, {"text_pdf": n_text, "rich_pdf": n_rich,
                      "cid_pdf": n - n_text - n_rich})
    return Workload(rows, n_files=1, row_group_rows=len(rows), mix=mix)


def _retry(rng: random.Random, output: str) -> str:
    """A re-run tool call: the same output with one word changed, a
    near-duplicate for the corpus build's dedup stage."""
    lines = output.split("\n")
    i = rng.randrange(len(lines))
    lines[i] = lines[i].rsplit(" ", 1)[0] + " " + rng.choice(_WORDS)
    return "\n".join(lines)


def chat_mix(seed: int, n_convs: int) -> Workload:
    """Agent transcripts: per 100 turns about 33 HTML, 1 PDF from a
    six-document pool, 21 tool outputs (about one in seven a retry of an
    earlier one) and the rest plain chat."""
    rng = random.Random(seed)
    pool = [_b85(_text_pdf(rng, 1, 4)) for _ in range(6)]
    rows: List[Row] = []
    outputs: List[str] = []
    kinds: Dict[str, int] = {"plain": 0, "tool": 0, "retry": 0, "html": 0, "pdf": 0}
    for ci in range(n_convs):
        conv_id = f"chat-{ci:06d}"
        for ti in range(4 + (ci * 7) % 13):  # 4..16 turns, fixed by ci
            ts = _BASE_TS + dt.timedelta(seconds=ci * 600 + ti * 15)
            r = rng.random()
            if r < 0.01:
                kind, role, text = "pdf", "tool", rng.choice(pool)
                tool = "pdf"
            elif r < 0.34:
                kind, role, tool = "html", "tool", "html"
                text = synth_html([_prose(rng, 8) for _ in range(3)], rng)
            elif r < 0.55:
                kind, role, tool = "tool", "tool", rng.choice(_TOOLS)
                if outputs and rng.random() < 0.15:
                    kind, text = "retry", _retry(rng, rng.choice(outputs))
                else:
                    text = _tool_output(rng)
                    outputs.append(text)
            else:
                kind, tool = "plain", ""
                role = "user" if ti % 2 == 0 else "assistant"
                text = _prose(rng, rng.randint(8, 60))
            kinds[kind] += 1
            rows.append((conv_id, ti, role, text, tool, ts))
    mix = _mix(rows, kinds)
    return Workload(rows, n_files=16, row_group_rows=1024, mix=mix)


def corpus_build(seed: int, size: str = "full") -> Workload:
    return chat_mix(seed, SIZES[size]["build_convs"])


GENERATORS = {"pdf_scan": pdf_scan, "corpus_build": corpus_build}


def _mix(rows: List[Row], kinds: Dict[str, int]) -> Dict[str, object]:
    pdf_bytes = sum(len(r[3]) * 4 // 5 for r in rows if r[4] == "pdf")
    distinct = len({(r[4], r[3]) for r in rows})
    return {
        "turns": len(rows),
        "kinds": dict(kinds),
        "payload_bytes": sum(len(r[3].encode("utf-8")) for r in rows),
        "pdf_payload_bytes": pdf_bytes,
        "distinct_payloads": distinct,
        "repetition_factor": round(len(rows) / max(distinct, 1), 4),
    }


def stage(wl: Workload, path: str) -> Dict[str, int]:
    """Write the rows as parquet under ``path`` (replacing what is there):
    ``wl.n_files`` files of contiguous rows, ``wl.row_group_rows`` rows
    per row group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        for name in os.listdir(path):
            os.remove(os.path.join(path, name))
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*wl.rows))
    table = pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }
    )
    per_file = -(-len(wl.rows) // wl.n_files)
    row_groups = 0
    for f in range(wl.n_files):
        part = table.slice(f * per_file, per_file)
        pq.write_table(
            part, os.path.join(path, f"part-{f:05d}.parquet"),
            row_group_size=wl.row_group_rows,
        )
        row_groups += -(-part.num_rows // wl.row_group_rows)
    return {"files": wl.n_files, "row_groups": row_groups}
