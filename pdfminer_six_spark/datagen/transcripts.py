"""Deterministic synthesis of the transcripts input table (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Payload mix: PDF turns (base85-encoded bytes — synthetic PDFs generated by
:func:`synth_pdf`, plus the reference sample corpus when present), HTML turns
(boilerplate-wrapped main content), and plain prose turns.  Everything is
seeded (seed=42) — same inputs on every run, no external data.

Conversation lengths are skewed (a few very long conversations) to exercise
the salting path at scale.
"""

from __future__ import annotations

import base64
import datetime as dt
import glob
import os
import random
import zlib
from typing import Dict, Iterator, List, Optional, Tuple

SEED = 42
_BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu data spark shuffle partition executor arrow "
    "batch vector column schema parquet iceberg lineage checkpoint resume"
).split()


# ---------------------------------------------------------------------------
# minimal deterministic PDF writer (Helvetica, one or more pages)

def synth_pdf(pages: List[List[str]], compress: bool = True) -> bytes:
    """Build a small single-font PDF whose pages show the given text lines.

    Uses classic xref, Type1 Helvetica (AFM metrics path), Tj operators at
    fixed leading — deliberately exercising the engine's main code path.
    """
    objs: List[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font_id = add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    page_ids: List[int] = []
    content_ids: List[int] = []
    for lines in pages:
        ops = [b"BT /F1 12 Tf 14 TL 72 720 Td"]
        for line in lines:
            esc = (
                line.encode("cp1252", "replace")
                .replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(")
                .replace(b")", b"\\)")
            )
            ops.append(b"(" + esc + b") Tj T*")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if compress:
            data = zlib.compress(stream)
            content_ids.append(
                add(
                    b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                    % (len(data), data)
                )
            )
        else:
            content_ids.append(
                add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
            )
    pages_id = len(objs) + len(pages) + 1
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, font_id, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    real_pages_id = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    )
    assert real_pages_id == pages_id
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    return _pdf_file(objs, catalog_id)


def _pdf_file(objs: List[bytes], catalog_id: int) -> bytes:
    """Serialize object bodies 1..n with a classic xref table and a
    trailer rooted at ``catalog_id``."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog_id, xref_pos)
    )
    return bytes(out)


def synth_locked_pdf(seed: int) -> bytes:
    """A :func:`synth_pdf` whose trailer gains a Standard ``/Encrypt``
    dict (``/V 1 /R 2``, random 32-byte ``/O`` and ``/U``) plus ``/ID``:
    no password authenticates, so extraction raises
    ``EncryptionError("bad password")``."""
    rng = random.Random(seed)

    def hexstr(n: int) -> bytes:
        return b"<%s>" % bytes(rng.randrange(256) for _ in range(n)).hex().encode()

    pdf = synth_pdf([["locked"]])
    head, sep, tail = pdf.rpartition(b"trailer\n")
    encrypt = (
        b" /Encrypt << /Filter /Standard /V 1 /R 2 /P -4 /O %s /U %s >>"
        b" /ID [%s %s] >>" % (hexstr(32), hexstr(32), hexstr(16), hexstr(16))
    )
    return head + sep + tail.replace(b" >>", encrypt, 1)


def synth_html(main_lines: List[str], rng: random.Random) -> str:
    nav = " ".join(rng.sample(_WORDS, 4))
    footer = " ".join(rng.sample(_WORDS, 3))
    body = "\n".join(f"<p>{line}</p>" for line in main_lines)
    return (
        "<html><head><title>t</title><script>var x=1;</script></head><body>"
        f"<nav><ul><li>{nav}</li></ul></nav>"
        f"<div class='ad'>SUBSCRIBE NOW</div>"
        f"<main>{body}</main>"
        f"<footer>{footer}</footer>"
        "</body></html>"
    )


def _prose(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


_SAMPLE_CACHE: Optional[Dict[str, bytes]] = None


def reference_sample_payloads() -> Dict[str, bytes]:
    """PDF payloads from the reference corpus, when present (tests only).
    Cached per process: the generator calls this once per conversation."""
    global _SAMPLE_CACHE
    if _SAMPLE_CACHE is not None:
        return _SAMPLE_CACHE
    out: Dict[str, bytes] = {}
    base = "/root/reference/samples"
    if not os.path.isdir(base):
        return out
    for name in (
        "simple1.pdf", "simple2.pdf", "simple3.pdf", "simple4.pdf",
        "simple5.pdf", "zen_of_python_corrupted.pdf", "jo.pdf",
        "font-size-test.pdf", "sampleOneByteIdentityEncode.pdf",
        "contrib/issue_566_test_1.pdf", "contrib/issue_566_test_2.pdf",
        "contrib/issue-625-identity-cmap.pdf",
        "contrib/issue-791-non-unicode-cmap.pdf",
        "contrib/issue-886-xref-stream-widths.pdf",
        "contrib/issue_495_pdfobjref.pdf",
    ):
        path = os.path.join(base, name)
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = f.read()
    _SAMPLE_CACHE = out
    return out


def generate_rows(
    n_convs: int = 100,
    pdf_every: int = 3,
    html_every: int = 3,
    skew_convs: int = 0,
    skew_turns: int = 1000,
    use_reference_samples: bool = True,
    synth_pages_max: int = 3,
) -> Iterator[Tuple[str, int, str, str, str, dt.datetime]]:
    """Yield transcript rows. Deterministic for fixed arguments."""
    rng = random.Random(SEED)
    samples = reference_sample_payloads() if use_reference_samples else {}
    sample_names = sorted(samples)
    roles = ("user", "assistant", "tool")
    for ci in range(n_convs):
        conv_id = f"conv-{ci:06d}"
        if skew_convs and ci < skew_convs:
            n_turns = skew_turns
        else:
            n_turns = rng.randint(2, 20)
        for ti in range(n_turns):
            role = roles[ti % 3]
            ts = _BASE_TS + dt.timedelta(seconds=ci * 3600 + ti * 30)
            slot = (ci * 7 + ti) % (pdf_every + html_every + 1)
            if slot < pdf_every:
                if sample_names and (ci + ti) % 2 == 0:
                    name = sample_names[(ci * 13 + ti) % len(sample_names)]
                    payload = samples[name]
                else:
                    n_pages = 1 + (ci + ti) % synth_pages_max
                    pages = [
                        [
                            f"conv {ci} turn {ti} page {p} line {ln}: "
                            + _prose(rng, 6)
                            for ln in range(4)
                        ]
                        for p in range(n_pages)
                    ]
                    payload = synth_pdf(pages)
                text = base64.b85encode(payload).decode("ascii")
                tool = "pdf"
            elif slot < pdf_every + html_every:
                lines = [_prose(rng, 8) for _ in range(3)]
                text = synth_html(lines, rng)
                tool = "html"
            else:
                text = _prose(rng, 20)
                tool = ""
            yield (conv_id, ti, role, text, tool, ts)


TRANSCRIPTS_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def transcripts_pandas(**kwargs):
    """The transcripts table as a pandas DataFrame (tests & fixtures)."""
    import pandas as pd

    rows = list(generate_rows(**kwargs))
    df = pd.DataFrame(rows, columns=TRANSCRIPTS_COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def transcripts_df(spark, n_convs: int = 1000, convs_per_task: int = 10, **gen_kwargs):
    """Distributed transcripts generation: conv ids fan out to executors and
    each task synthesizes its conversations locally (no driver bottleneck,
    no data movement — the generator is deterministic per conv id)."""
    from pyspark.sql import functions as F  # noqa: N812
    from pdfminer_six_spark.spark.pipeline import TRANSCRIPTS_SCHEMA

    import pandas as pd

    def gen(batches):
        for b in batches:
            all_rows = []
            for ci in b["id"]:
                all_rows.extend(_conv_rows(int(ci), **gen_kwargs))
            yield pd.DataFrame(all_rows, columns=TRANSCRIPTS_COLUMNS)

    n_parts = max(1, n_convs // convs_per_task)
    return (
        spark.range(0, n_convs, numPartitions=n_parts)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )


def _conv_rows(ci: int, pdf_every: int = 3, html_every: int = 3,
               use_reference_samples: bool = True, synth_pages_max: int = 3,
               turns_min: int = 2, turns_max: int = 20):
    """Rows for one conversation — deterministic in ci alone (so the
    distributed and local generators agree per conversation)."""
    rng = random.Random(SEED * 1_000_003 + ci)
    samples = reference_sample_payloads() if use_reference_samples else {}
    sample_names = sorted(samples)
    roles = ("user", "assistant", "tool")
    conv_id = f"conv-{ci:06d}"
    n_turns = rng.randint(turns_min, turns_max)
    rows = []
    for ti in range(n_turns):
        role = roles[ti % 3]
        ts = _BASE_TS + dt.timedelta(seconds=ci * 3600 + ti * 30)
        slot = (ci * 7 + ti) % (pdf_every + html_every + 1)
        if slot < pdf_every:
            if sample_names and (ci + ti) % 2 == 0:
                payload = samples[sample_names[(ci * 13 + ti) % len(sample_names)]]
            else:
                n_pages = 1 + (ci + ti) % synth_pages_max
                pages = [
                    [f"conv {ci} turn {ti} page {p} line {ln}: " + _prose(rng, 6)
                     for ln in range(4)]
                    for p in range(n_pages)
                ]
                payload = synth_pdf(pages)
            rows.append((conv_id, ti, role,
                         base64.b85encode(payload).decode("ascii"), "pdf", ts))
        elif slot < pdf_every + html_every:
            rows.append((conv_id, ti, role,
                         synth_html([_prose(rng, 8) for _ in range(3)], rng),
                         "html", ts))
        else:
            rows.append((conv_id, ti, role, _prose(rng, 20), "", ts))
    return rows


_BASE14 = [b"Helvetica", b"Times-Roman", b"Courier", b"Helvetica-Bold",
           b"Times-Italic", b"Courier-Oblique", b"Symbol", b"ZapfDingbats"]


def synth_rich_pdf(seed: int, max_pages: int = 2) -> bytes:
    """Randomized multi-operator PDF for differential fuzzing: exercises
    TJ kerning arrays, Td/TD/Tm/T*, Tc/Tw/Tz/Ts/TL, q/Q + cm, colors,
    painted paths, several base-14 fonts, page /Rotate — all deterministic
    in the seed."""
    rng = random.Random(seed)
    n_fonts = rng.randint(1, 4)
    fonts = rng.sample(_BASE14, n_fonts)
    pages = []
    for _p in range(rng.randint(1, max_pages)):
        ops = []
        if rng.random() < 0.3:
            ops.append(b"q %g 0 0 %g 0 0 cm" % (rng.uniform(0.5, 2), rng.uniform(0.5, 2)))
        ops.append(b"BT")
        x, y = rng.randint(30, 90), rng.randint(600, 760)
        ops.append(b"/F%d %d Tf" % (rng.randrange(n_fonts) + 1, rng.randint(6, 24)))
        ops.append(b"%d TL %d %d Td" % (rng.randint(8, 20), x, y))
        for _ln in range(rng.randint(1, 12)):
            r = rng.random()
            if r < 0.15:
                ops.append(b"/F%d %d Tf" % (rng.randrange(n_fonts) + 1, rng.randint(6, 24)))
            if r < 0.3:
                ops.append(b"%g Tc %g Tw" % (rng.uniform(-0.5, 2), rng.uniform(0, 3)))
            if 0.3 <= r < 0.4:
                ops.append(b"%d Tz" % rng.randint(50, 150))
            if 0.4 <= r < 0.5:
                ops.append(b"%g Ts" % rng.uniform(-3, 3))
            words = [
                "".join(rng.choice("abcdefgh XYZ.,:!?0123456789")
                        for _ in range(rng.randint(1, 8)))
                for _ in range(rng.randint(1, 6))
            ]
            text = " ".join(words).encode("cp1252", "replace")
            text = text.replace(b"\\", b"").replace(b"(", b"").replace(b")", b"")
            if rng.random() < 0.4:
                # TJ with kerning numbers between chunks
                mid = max(1, len(text) // 2)
                ops.append(
                    b"[(%s) %d (%s)] TJ T*"
                    % (text[:mid], rng.randint(-500, 500), text[mid:])
                )
            elif rng.random() < 0.2:
                ops.append(b"(%s) '" % text)
            else:
                ops.append(b"(%s) Tj T*" % text)
            if rng.random() < 0.2:
                ops.append(
                    b"1 0 0 1 %d %d Tm" % (rng.randint(30, 400), rng.randint(100, 700))
                )
            if rng.random() < 0.1:
                ops.append(b"%d %d TD" % (rng.randint(-20, 20), rng.randint(-30, -5)))
        ops.append(b"ET")
        if rng.random() < 0.3:
            ops.append(b"0.5 g %d %d %d %d re f" % (
                rng.randint(0, 300), rng.randint(0, 300),
                rng.randint(5, 100), rng.randint(5, 100)))
        if rng.random() < 0.3:
            ops.append(b"Q")
        pages.append(b"\n".join(ops))

    objs: List[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font_ids = [
        add(b"<< /Type /Font /Subtype /Type1 /BaseFont /%s >>" % f)
        for f in fonts
    ]
    content_ids = []
    for stream in pages:
        if rng.random() < 0.5:
            data = zlib.compress(stream)
            content_ids.append(add(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(data), data)))
        else:
            content_ids.append(add(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)))
    pages_id = len(objs) + len(pages) + 1
    fontres = b" ".join(
        b"/F%d %d 0 R" % (i + 1, fid) for i, fid in enumerate(font_ids)
    )
    page_ids = []
    for cid in content_ids:
        rot = rng.choice((0, 0, 0, 90, 180, 270))
        page_ids.append(add(
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] /Rotate %d "
            b"/Resources << /Font << %s >> >> /Contents %d 0 R >>"
            % (pages_id, rot, fontres, cid)))
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    assert add(b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))) == pages_id
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    return _pdf_file(objs, catalog_id)


def synth_cid_pdf(seed: int) -> bytes:
    """Randomized Type0/CID PDF (Identity-H or Identity-V, 2-byte codes,
    embedded ToUnicode CMap, /W width runs, optional /DW /W2) — fuzzes the
    composite-font decode path end to end."""
    rng = random.Random(seed)
    vertical = rng.random() < 0.4
    enc = b"Identity-V" if vertical else b"Identity-H"
    # map CIDs 100..139 to a mix of BMP codepoints
    cids = list(range(100, 100 + rng.randint(5, 40)))
    cps = [rng.choice("abcXYZ") if rng.random() < 0.5
           else chr(rng.randint(0x3040, 0x30FF))  # kana
           for _ in cids]
    bf = b"\n".join(
        b"<%04x> <%04x>" % (cid, ord(cp)) for cid, cp in zip(cids, cps)
    )
    tounicode = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CMapName /T0 def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        b"%d beginbfchar\n%s\nendbfchar\nendcmap\n"
        b"CMapName currentdict /CMap defineresource pop\nend\nend"
        % (len(cids), bf)
    )
    # /W runs: some explicit widths
    w_entries = b" ".join(
        b"%d [%d]" % (cid, rng.choice((400, 500, 750, 1000)))
        for cid in cids[: rng.randint(0, len(cids))]
    )
    ops = [b"BT /F1 %d Tf 72 700 Td %d TL" % (rng.randint(8, 18), rng.randint(10, 22))]
    for _ln in range(rng.randint(1, 8)):
        codes = b"".join(
            b"%04x" % rng.choice(cids) for _ in range(rng.randint(1, 12))
        )
        if rng.random() < 0.3:
            ops.append(b"[<%s> %d <%s>] TJ T*" % (codes, rng.randint(-400, 400), codes))
        else:
            ops.append(b"<%s> Tj T*" % codes)
    ops.append(b"ET")
    stream = b"\n".join(ops)

    objs: List[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    tu_id = add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tounicode), tounicode))
    desc_id = add(
        b"<< /Type /FontDescriptor /FontName /Synth /Flags 4 "
        b"/FontBBox [0 -200 1000 900] /Ascent 880 /Descent -120 "
        b"/ItalicAngle 0 /CapHeight 700 /StemV 80 >>"
    )
    cidfont_id = add(
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Synth "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /FontDescriptor %d 0 R /DW %d /W [%s] "
        b"/DW2 [880 -1000] >>"
        % (desc_id, rng.choice((500, 1000)), w_entries)
    )
    font_id = add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth /Encoding /%s "
        b"/DescendantFonts [%d 0 R] /ToUnicode %d 0 R >>"
        % (enc, cidfont_id, tu_id)
    )
    content_id = add(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
    pages_id = len(objs) + 2
    page_id = add(
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
        % (pages_id, font_id, content_id)
    )
    assert add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page_id) == pages_id
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    return _pdf_file(objs, catalog_id)


# the image write_pdf_corpus embeds: 5 x 3 8-bit gray samples (an odd
# width, so the BMP rows need padding)
GRAY_IMAGE = (5, 3, bytes((37 * i) % 256 for i in range(15)))


def synth_gray_image_pdf(width: int, height: int, raw: bytes) -> bytes:
    """A one-page PDF that draws one Flate-encoded 8-bit ``/DeviceGray``
    image XObject holding the ``width * height`` samples ``raw``."""
    data = zlib.compress(raw)
    content = b"q 50 0 0 30 72 700 cm /Im1 Do Q"
    objs = [
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length %d >>\nstream\n%s\nendstream"
        % (width, height, len(data), data),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Page /Parent 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /XObject << /Im1 1 0 R >> >> /Contents 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    return _pdf_file(objs, 5)


def write_pdf_corpus(root: str) -> str:
    """Write an eleven-file synthetic PDF directory into ``root`` (created
    if missing) and return ``root``: a two-page text PDF, four rich and
    three CID PDFs, ``image.pdf`` (one 8-bit gray image, ``GRAY_IMAGE``),
    ``truncated.pdf`` (the text PDF cut in half; status ``error``) and
    ``locked.pdf`` (no password opens it; ``bad_password``).  The bytes
    are deterministic.  Each file is written under a dot-prefixed name
    and renamed into place, so a concurrent reader of the directory
    never lists a partial file."""
    text = synth_pdf([["corpus text page"], ["second page"]])
    docs = {
        "text.pdf": text,
        "image.pdf": synth_gray_image_pdf(*GRAY_IMAGE),
        "truncated.pdf": text[: len(text) // 2],
        "locked.pdf": synth_locked_pdf(1),
    }
    docs.update({f"rich{i}.pdf": synth_rich_pdf(i) for i in range(1, 5)})
    docs.update({f"cid{i}.pdf": synth_cid_pdf(i) for i in range(1, 4)})
    os.makedirs(root, exist_ok=True)
    for name, data in docs.items():
        tmp = os.path.join(root, f".{name}.{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(root, name))
    return root
