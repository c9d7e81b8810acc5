"""The distributed extraction pipeline (the engine's flagship job).

Input: a transcripts DataFrame with the BASELINE.json input_hint schema
    (conv_id string, turn_idx int, role string, text string, tool string,
     ts timestamp).
Output: ``extracted`` rows — per-turn text + spans + status — plus optional
flattened layout relations (chars/lines/boxes) and per-partition lineage.

Design (SURVEY.md §2.11, §4):

* Extraction is a **row-local map** — no keyed shuffle is required at all.
  We use ``mapInPandas`` (Arrow-batched; never per-row Python).  The only
  shuffle in the whole job is an optional round-robin ``repartition(N)`` to
  rebalance skew (a 500-page payload next to one-liners), and an optional
  ``repartitionByRange(conv_id, turn_idx)`` before the sink when the
  stable-output-ordering invariant is requested.
* Per-executor warm caches: AFM/encodings/CMap resources load once per
  python worker at module import; fonts are cached per document.
* One kernel, one status contract.  Every path (per-turn text, the
  split path's page count and page groups, layout, and the PDF-corpus
  sources) runs each payload through ``_kernel`` under one batch driver,
  ``_drive``.  Failures never kill a task: each payload gets a
  ``status`` of ok | empty | bad_password | error —
  ``error`` is ``"b85decode: <msg>"`` for an undecodable payload and
  ``"<ExceptionType>: <msg>"`` otherwise; ``bad_password`` carries the
  ``EncryptionError`` message; ``empty`` means extraction produced
  nothing (a PDF with no pages).  STRICT=False semantics, lifted to the
  pipeline level (reference pdfminer.six settings.py:1, permissive
  coercers pdftypes.py:148-218).
* ``wall_ms`` is the kernel time of that one turn, payload decode
  included (the split path sums its page groups' times; the dedup path
  reports the time of the one extraction its turns share).
"""

from __future__ import annotations

import base64
import functools
import time
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    BooleanType,
)

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("wall_ms", DoubleType()),
        # character-span offsets (north rule): [start, end) into `text`
        # per page (PDF turns; pages end at \f) or one whole-text span
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("page", IntegerType()),
                        StructField("start", IntegerType()),
                        StructField("end", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _char_spans(text: str, n_pages: int):
    """[(page, start, end)] offsets into the extracted text; PDF page
    texts are terminated by \\f (the text sink emits one per page)."""
    if not text:
        return []
    if n_pages <= 0:
        return [(0, 0, len(text))]
    spans = []
    start = 0
    page = 0
    while True:
        i = text.find("\f", start)
        if i == -1:
            if start < len(text):
                spans.append((page, start, len(text)))
            break
        spans.append((page, start, i + 1))
        start = i + 1
        page += 1
    return spans

CHARS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("char_seq", IntegerType()),
        StructField("text", StringType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("size", DoubleType()),
        StructField("adv", DoubleType()),
        StructField("upright", BooleanType()),
        StructField("fontname", StringType()),
    ]
)

LINES_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("line_id", IntegerType()),
        StructField("box_id", IntegerType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("wmode", StringType()),
        StructField("text", StringType()),
    ]
)

BOXES_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("box_id", IntegerType()),
        StructField("box_index", IntegerType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("wmode", StringType()),
        StructField("text", StringType()),
    ]
)


_B85_DEC_LUT = None


def _b85decode_fast(s: str) -> bytes:
    """Vectorized ``base64.b85decode`` for the per-turn payload decode —
    stdlib's pure-Python 5-char loop was ~10% of the per-turn kernel in
    its profile (each PDF payload is tens of KB of base85).  Identical
    semantics: same alphabet LUT, '~'-padding to a 5-multiple, stripped
    from the output; any invalid byte / non-ASCII input / 32-bit
    overflow falls back to stdlib so error messages stay byte-equal."""
    global _B85_DEC_LUT
    import numpy as np

    if _B85_DEC_LUT is None:
        lut = np.full(256, -1, dtype=np.int16)
        for i, c in enumerate(
            b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            b"abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
        ):
            lut[c] = i
        _B85_DEC_LUT = lut
    try:
        raw = s.encode("ascii")
    except UnicodeEncodeError:
        return base64.b85decode(s)  # stdlib raises its own ValueError
    pad = (-len(raw)) % 5
    arr = np.frombuffer(raw, dtype=np.uint8)
    digits = _B85_DEC_LUT[arr]
    if len(digits) and digits.min() < 0:
        return base64.b85decode(s)
    if pad:
        digits = np.concatenate(
            [digits, np.full(pad, 84, dtype=np.int16)]  # '~'
        )
    vals = (
        digits.astype(np.uint64).reshape(-1, 5)
        * np.array([85**4, 85**3, 85**2, 85, 1], dtype=np.uint64)
    ).sum(axis=1)
    if len(vals) and vals.max() > 0xFFFFFFFF:
        return base64.b85decode(s)
    out = vals.astype(">u4").view(np.uint8).tobytes()
    return out[: len(out) - pad] if pad else out


# --- the extraction kernel and its batch driver -----------------------------


def _kernel(payload, password: str, body, b85: bool = True) -> tuple:
    """(result, status, error, wall_ms) for one payload.

    ``payload`` is a base85 ``str`` from a transcript (``b85=True``), raw
    ``bytes`` from a file source, or the text of an HTML or plain turn
    (``b85=False``).  ``body(data, password)`` is the per-mode work; a
    falsy result is ``empty``.  ``body=None`` is a plain turn: the payload
    is the text, always ``ok``.  ``result`` is None unless the status is
    ok or empty; ``wall_ms`` times this one payload, decode included."""
    from pdfminer_six_spark.core.crypto import EncryptionError

    t0 = time.perf_counter()
    result, status, error = None, "ok", ""
    if body is None:
        result = payload
    else:
        try:
            data = _b85decode_fast(payload) if b85 else payload
        except ValueError as e:
            status, error = "error", f"b85decode: {e}"
        else:
            try:
                result = body(data, password)
                if not result:
                    status = "empty"
            except EncryptionError as e:
                status, error = "bad_password", str(e)
            except Exception as e:  # permissive: record, never fail the task
                status, error = "error", f"{type(e).__name__}: {e}"
    return result, status, error, (time.perf_counter() - t0) * 1000.0


def _drive(items, password: str, emit) -> Iterator[tuple]:
    """The batch driver: each ``(key, payload, body, b85)`` item goes
    through the kernel once and ``emit(key, result, status, error,
    wall_ms)`` turns the outcome into zero or more output rows."""
    for key, payload, body, b85 in items:
        yield from emit(key, *_kernel(payload, password, body, b85))


def _map_batches(items, emit, schema: StructType, password: str):
    """``mapInPandas`` function over ``_drive``: ``items(batch)`` yields
    the kernel items of one Arrow batch."""
    cols = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                list(_drive(items(b), password, emit)), columns=cols
            )

    return run


# per-mode bodies: (data, password) -> result


def _pdf_text(data: bytes, password: str, page_numbers=None) -> str:
    from pdfminer_six_spark.core.extract import extract_text

    return extract_text(data, password=password, page_numbers=page_numbers)


def _html_text(text: str, password: str) -> str:
    from pdfminer_six_spark.core.html import extract_main_text

    return extract_main_text(text)


_TURN_BODIES = {"pdf": (_pdf_text, True), "html": (_html_text, False)}


def _turn_items(b: pd.DataFrame):
    for conv_id, turn_idx, tool, text in zip(
        b["conv_id"], b["turn_idx"], b["tool"], b["text"]
    ):
        body, b85 = _TURN_BODIES.get(tool, (None, False))
        yield (conv_id, turn_idx, tool == "pdf"), text or "", body, b85


def _turn_row(key, text, status, error, wall_ms):
    conv_id, turn_idx, is_pdf = key
    text = text or ""
    n_pages = text.count("\f") if is_pdf else 0
    yield (conv_id, turn_idx, text, n_pages, len(text), status, error,
           wall_ms, _char_spans(text, n_pages))


def extract_transcripts(
    df: DataFrame,
    password: str = "",
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """transcripts -> extracted.  Arrow-batched, row-local, shuffle-free
    (unless rebalancing/sorting is requested)."""

    src = df.select("conv_id", "turn_idx", "text", "tool")
    if rebalance_partitions:
        # round-robin: uniform work distribution without a keyed shuffle
        src = src.repartition(rebalance_partitions)
    out = src.mapInPandas(
        _map_batches(_turn_items, _turn_row, EXTRACTED_SCHEMA, password),
        schema=EXTRACTED_SCHEMA,
    )
    if sort_output:
        # stable turn ordering invariant for the sink
        out = out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out


def extract_transcripts_dedup(
    df: DataFrame,
    password: str = "",
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """Extraction with payload-level dedup: each DISTINCT (tool, text)
    payload runs through the kernel once; results join back to every
    referencing turn.  Transcript corpora repeat attachments heavily (the
    same PDF pasted into thousands of conversations), so kernel cost
    divides by the repetition factor for the price of two shuffles (the
    payload distinct + the fingerprint join-back) — at 10^12 turns with
    shared attachments this is the dominant optimization.  Opt-in
    (jobs/extract.py --dedup-payloads) because on a distinct-payload
    corpus the shuffles buy nothing.

    Extraction is a pure function of (tool, text, password), so the
    joined-back rows are exactly what per-turn extraction would produce;
    ``wall_ms`` is the per-distinct-payload kernel cost (not re-scaled
    per turn).  Payload identity is xxhash64(tool, text) — a collision
    (2^-64 per pair) would silently share one extraction between two
    payloads.
    """
    fp = F.xxhash64(
        F.coalesce(F.col("tool"), F.lit("")),
        F.coalesce(F.col("_raw"), F.lit("")),
    ).cast("string")
    keyed = df.select(
        "conv_id", "turn_idx", F.col("text").alias("_raw"), "tool"
    ).withColumn("_fp", fp)
    # one row per distinct payload; the fingerprint rides in conv_id so
    # the unmodified kernel passes it through to the join key
    payloads = (
        keyed.select(
            F.col("_fp").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.col("_raw").alias("text"),
            "tool",
        )
        .dropDuplicates(["conv_id"])
    )
    per_payload = extract_transcripts(
        payloads, password=password, rebalance_partitions=rebalance_partitions
    ).select(
        F.col("conv_id").alias("_fp"),
        "text", "n_pages", "n_chars", "status", "error", "wall_ms", "spans",
    )
    # conv_id/turn_idx come from `keyed` (the caller's input dtypes), not
    # from the kernel's EXTRACTED_SCHEMA — cast so both the per-turn and
    # dedup paths emit byte-identical schemas (an int64 turn_idx input
    # would otherwise make downstream parquet type-diverge per path)
    out = keyed.join(per_payload, "_fp").select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "text", "n_pages", "n_chars", "status",
        "error", "wall_ms", "spans",
    )
    if sort_output:
        out = out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out


# --- page-split extraction (intra-payload parallelism) ---------------------
#
# The unit of parallelism above is the turn, so one pathological 500-page /
# 100 MB payload owns one task end-to-end.  The split path caps task skew at
# the page group: pass 1 opens each oversized payload once and counts its
# pages (xref + page-tree DFS only — no content interpretation); the payload
# then explodes to ceil(n_pages / pages_per_group) rows, each carrying the
# payload bytes once per GROUP (shuffle volume = payload_bytes x n_groups —
# pages_per_group is the dial between skew cap and replication); pass 2
# extracts each page range independently (extract_text(page_numbers=...));
# reassembly concatenates group texts in page order.  Page texts are
# \f-terminated by the text sink, so the concatenation is byte-identical to
# the unsplit output (differentially tested) — the distributed version of
# the reference's per-page lazy iteration (high_level.py:190-227).

_PAGED_COUNTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("status", StringType()),  # '' = splittable, else terminal
        StructField("error", StringType()),
    ]
)

_PAGED_PARTIAL_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("grp", IntegerType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("wall_ms", DoubleType()),
    ]
)


def _page_count(data: bytes, password: str) -> int:
    """Pass-1 body: xref + page-tree DFS only, no content interpretation.
    A doc that is BOTH tree-corrupt and content-corrupt fails here with
    the tree error, while the unsplit kernel may hit an earlier content
    error first: the text is '' either way; only the error string can
    differ on that double-corrupt case."""
    from pdfminer_six_spark.core.document import Document, iter_pages

    return max(sum(1 for _ in iter_pages(Document(data, password=password))), 1)


def _count_items(b: pd.DataFrame):
    for conv_id, turn_idx, text in zip(b["conv_id"], b["turn_idx"], b["text"]):
        yield (conv_id, turn_idx, text), text or "", _page_count, True


def _counted_row(key, n_pages, status, error, wall_ms):
    conv_id, turn_idx, text = key
    if status == "ok":
        yield conv_id, turn_idx, text, n_pages, "", ""
    else:
        yield conv_id, turn_idx, "", 0, status, error


def page_groups(
    counted: DataFrame,
    pages_per_group: int = 8,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Explode pass-1 rows to one row per page group and spread the groups
    across tasks (hash on (conv_id, turn_idx, grp) — the whole point: two
    groups of the same document land on different tasks).  Factored out so
    tests can assert the spread directly."""
    g = counted.withColumn(
        "grp",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.col("n_pages") / F.lit(pages_per_group)).cast("int") - 1,
            )
        ),
    )
    return g.repartition(
        num_partitions or counted.sparkSession.sparkContext.defaultParallelism,
        "conv_id", "turn_idx", "grp",
    )


def extract_transcripts_split_pages(
    df: DataFrame,
    password: str = "",
    split_chars: int = 200_000,
    pages_per_group: int = 8,
    rebalance_partitions: Optional[int] = None,
    sort_output: bool = False,
) -> DataFrame:
    """Extraction with opt-in page-level splitting of oversized payloads
    (jobs/extract.py --split-pages): turns whose b85 payload is at least
    ``split_chars`` characters (~split_chars*4/5 bytes) AND tool='pdf' take
    the two-pass page-group path; everything else takes the standard
    row-local kernel.  Output is byte-identical to extract_transcripts
    modulo wall_ms (per-group costs are summed) — differentially tested.
    """
    src = df.select("conv_id", "turn_idx", "text", "tool")
    is_big = (F.col("tool") == F.lit("pdf")) & (
        F.length("text") >= F.lit(split_chars)
    )
    small_out = extract_transcripts(
        df.filter(~F.coalesce(is_big, F.lit(False))),
        password=password,
        rebalance_partitions=rebalance_partitions,
    )
    big = src.filter(F.coalesce(is_big, F.lit(False)))

    # persist: `counted` feeds BOTH union branches (terminal rows + the
    # page-group explode); without it the expensive pass-1 kernel (b85
    # decode + xref + page-tree DFS of every oversized payload) runs
    # twice per action (accumulator-measured 2x).  No explicit unpersist:
    # the return is lazy — the caller's first action populates the cache,
    # and the blocks are LRU-evicted / released with the job
    counted = big.mapInPandas(
        _map_batches(_count_items, _counted_row, _PAGED_COUNTED_SCHEMA, password),
        schema=_PAGED_COUNTED_SCHEMA,
    ).persist()
    # pass-1 terminal failures: same row shape the unsplit kernel emits
    empty_spans = F.array().cast(EXTRACTED_SCHEMA["spans"].dataType)
    direct = counted.filter(F.col("status") != "").select(
        "conv_id", "turn_idx",
        F.lit("").alias("text"),
        F.lit(0).cast("int").alias("n_pages"),
        F.lit(0).cast("int").alias("n_chars"),
        "status", "error",
        F.lit(0.0).alias("wall_ms"),
        empty_spans.alias("spans"),
    )

    groups = page_groups(
        counted.filter(F.col("status") == ""), pages_per_group,
        rebalance_partitions,
    )

    def group_items(b: pd.DataFrame):
        for conv_id, turn_idx, text, grp in zip(
            b["conv_id"], b["turn_idx"], b["text"], b["grp"]
        ):
            first = int(grp) * pages_per_group
            pages = set(range(first, first + pages_per_group))
            yield ((conv_id, turn_idx, int(grp)), text,
                   functools.partial(_pdf_text, page_numbers=pages), True)

    def group_row(key, text, status, error, wall_ms):
        yield (*key, text or "", status, error, wall_ms)

    partials = groups.mapInPandas(
        _map_batches(group_items, group_row, _PAGED_PARTIAL_SCHEMA, password),
        schema=_PAGED_PARTIAL_SCHEMA,
    )

    def reassemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # one group key = one document's page-group partials (small by
        # construction: n_pages / pages_per_group rows)
        pdf = pdf.sort_values("grp")
        key = (pdf["conv_id"].iloc[0], pdf["turn_idx"].iloc[0], True)
        failed = pdf[~pdf["status"].isin(("ok", "empty"))]
        if len(failed):
            # the unsplit kernel fails the WHOLE doc on the first page
            # error — reproduce that contract (lowest-group error wins)
            text = ""
            status, error = failed["status"].iloc[0], failed["error"].iloc[0]
        else:
            text, error = "".join(pdf["text"]), ""
            status = "ok" if (pdf["status"] == "ok").any() else "empty"
        return pd.DataFrame(
            list(_turn_row(key, text, status, error, float(pdf["wall_ms"].sum()))),
            columns=EXTRACTED_SCHEMA.fieldNames(),
        )

    assembled = partials.groupBy("conv_id", "turn_idx").applyInPandas(
        reassemble, EXTRACTED_SCHEMA
    )

    out = small_out.unionByName(assembled).unionByName(direct)
    if sort_output:
        out = out.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
            "conv_id", "turn_idx"
        )
    return out


LAYOUT_UNION_SCHEMA = StructType(
    [
        StructField("relation", StringType()),  # char | line | box | status
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_id", IntegerType()),
        StructField("id1", IntegerType()),  # char_seq / line_id / box_id
        StructField("id2", IntegerType()),  # - / box_id / box_index
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("size", DoubleType()),
        StructField("adv", DoubleType()),
        StructField("upright", BooleanType()),
        StructField("fontname", StringType()),
        StructField("wmode", StringType()),  # a status row: its status
        StructField("text", StringType()),  # a status row: its error
    ]
)


def _layout_pages(data: bytes, password: str) -> list:
    """Layout body: per page, the union rows without their turn key,
    ``(relation, page_id, id1, id2, x0, ..., text)``.  Parses each page
    once into the raw (unanalyzed) tree for emission-ordered chars, the
    exact input order of the L1 char->line operator, then runs LAParams
    analysis on the same tree (identical to LayoutDevice.end_page,
    device.py:150-151) and walks boxes/lines."""
    from pdfminer_six_spark.core.device import LayoutDevice
    from pdfminer_six_spark.core.document import get_pages
    from pdfminer_six_spark.core.interp import Interpreter, ResourceManager
    from pdfminer_six_spark.core.layout import (
        LAParams,
        LTChar,
        LTContainer,
        LTTextBox,
        LTTextBoxVertical,
        LTTextLine,
        LTTextLineVertical,
    )

    rsrcmgr = ResourceManager()
    trees = []
    for pageno, page in enumerate(get_pages(data, password=password), 1):
        # laparams=None: raw tree, chars in content-stream emission order
        device = LayoutDevice(laparams=None, pageno=pageno)
        Interpreter(rsrcmgr, device).process_page(page)
        trees.append(device.get_result())
    out = []
    for pageno, page in enumerate(trees):
        rows = []
        seq = 0

        def walk(item):
            nonlocal seq
            if isinstance(item, LTChar):
                rows.append(
                    (
                        "char", pageno, seq, None,
                        item.x0, item.y0, item.x1, item.y1,
                        item.size, item.adv, bool(item.upright),
                        item.fontname, None, item.get_text(),
                    )
                )
                seq += 1
            if isinstance(item, LTContainer):
                for child in item:
                    walk(child)

        walk(page)
        # same call LayoutDevice.end_page makes when laparams is set —
        # analyzing the already-built tree is identical
        page.analyze(LAParams())
        box_id = 0
        line_id = 0
        for item in page:
            if not isinstance(item, LTTextBox):
                continue
            rows.append(
                (
                    "box", pageno, box_id, item.index,
                    item.x0, item.y0, item.x1, item.y1, None, None, None, None,
                    "tb-rl" if isinstance(item, LTTextBoxVertical) else "lr-tb",
                    item.get_text(),
                )
            )
            for line in item:
                if not isinstance(line, LTTextLine):
                    continue
                rows.append(
                    (
                        "line", pageno, line_id, box_id,
                        line.x0, line.y0, line.x1, line.y1,
                        None, None, None, None,
                        "tb-rl"
                        if isinstance(line, LTTextLineVertical)
                        else "lr-tb",
                        line.get_text(),
                    )
                )
                line_id += 1
            box_id += 1
        out.append(rows)
    return out


def _layout_items(b: pd.DataFrame):
    for conv_id, turn_idx, tool, text in zip(
        b["conv_id"], b["turn_idx"], b["tool"], b["text"]
    ):
        if tool == "pdf":
            yield (conv_id, int(turn_idx)), text or "", _layout_pages, True


_NO_LAYOUT = (None,) * 11


def _layout_rows(key, pages, status, error, wall_ms):
    conv_id, turn_idx = key
    if status != "ok":
        yield ("status", conv_id, turn_idx, *_NO_LAYOUT, status, error)
        return
    for rows in pages:
        for r in rows:
            yield (r[0], conv_id, turn_idx, *r[1:])


def extract_layout_tables(
    df: DataFrame, password: str = "", persist: bool = True
) -> dict:
    """transcripts -> {chars, lines, boxes, status} flattened layout
    relations.

    Only PDF turns contribute.  Single-pass: ONE ``mapInPandas`` runs
    each payload through ``_layout_pages`` once.  A PDF turn whose status
    is not ``ok`` emits one ``relation='status'`` row instead, so the
    ``status`` view ``(conv_id, turn_idx, status, error)`` holds exactly
    what ``extract_transcripts`` emits for those turns.  With
    ``persist=True`` the tagged union is cached so the filtered views
    share the one kernel run; PDF parsing is the dominant cost, so this
    is 3× cheaper than a kernel run per relation (VERDICT r01 'what's
    wrong' #5).  Callers that consume the views should ``unpersist()`` the
    returned ``_union`` when done; callers consuming a SINGLE view should
    pass ``persist=False`` — caching a relation read once is pure
    overhead, and a handed-off DataFrame outlives the caller's chance to
    unpersist (ADVICE r02).
    """
    src = df.select("conv_id", "turn_idx", "text", "tool")
    union = src.mapInPandas(
        _map_batches(_layout_items, _layout_rows, LAYOUT_UNION_SCHEMA, password),
        schema=LAYOUT_UNION_SCHEMA,
    )
    if persist:
        union = union.persist()
    common = ["conv_id", "turn_idx", "page_id"]
    chars = union.filter(F.col("relation") == "char").select(
        *common,
        F.col("id1").alias("char_seq"),
        "text", "x0", "y0", "x1", "y1", "size", "adv", "upright", "fontname",
    ).select([f.name for f in CHARS_SCHEMA.fields])
    lines = union.filter(F.col("relation") == "line").select(
        *common,
        F.col("id1").alias("line_id"),
        F.col("id2").alias("box_id"),
        "x0", "y0", "x1", "y1", "wmode", "text",
    ).select([f.name for f in LINES_SCHEMA.fields])
    boxes = union.filter(F.col("relation") == "box").select(
        *common,
        F.col("id1").alias("box_id"),
        F.col("id2").alias("box_index"),
        "x0", "y0", "x1", "y1", "wmode", "text",
    ).select([f.name for f in BOXES_SCHEMA.fields])
    status = union.filter(F.col("relation") == "status").select(
        "conv_id", "turn_idx",
        F.col("wmode").alias("status"), F.col("text").alias("error"),
    )
    return {"chars": chars, "lines": lines, "boxes": boxes,
            "status": status, "_union": union}


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (SURVEY.md §1.1 lineage relation).

    Committed alongside results; a restarted job anti-joins its input
    against the already-committed (conv_id, turn_idx) pairs to resume.
    """
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias(
                "n_error"
            ),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_pages").alias("n_pages"),
            F.avg("wall_ms").alias("avg_wall_ms"),
            # order-insensitive streaming content fingerprint: O(1) agg
            # buffer per partition (a collect_list of conv_ids would
            # materialize millions of ids in one buffer on a fat
            # partition at 100 TB).  SUM of a bounded hash rather than
            # bit_xor: XOR is blind to even-multiplicity duplicates
            # (a row duplicated twice cancels out — exactly the
            # corruption class lineage exists to catch), while the sum
            # shifts with every extra copy.  Per-row hashes are bounded
            # to 40 bits (a 20-bit bound let a dropped+added row pair
            # cancel with p=2^-20; 2^-40 is negligible) and accumulated
            # in DECIMAL so the ANSI sum cannot overflow at any
            # realistic partition size (~9e10 rows), then folded back to
            # the 40-bit domain as a long.  FORMAT NOTE: this fingerprint
            # changed r2->r3 (ordered xxhash64-of-collect_list -> 20-bit
            # sum) and r3->r4 (20-bit -> 40-bit pmod-folded); lineage
            # parquet written by different versions is NOT comparable —
            # resume correctness is unaffected (resume anti-joins on
            # (conv_id, turn_idx), never on this fingerprint).
            F.pmod(
                F.sum(
                    F.pmod(
                        F.xxhash64("conv_id", "turn_idx"), F.lit(1 << 40)
                    ).cast("decimal(13,0)")
                ),
                F.lit(1 << 40).cast("decimal(23,0)"),
            )
            .cast("long")
            .alias("conv_ids_hash"),
        )
    )


def resume_filter(transcripts: DataFrame, done: DataFrame) -> DataFrame:
    """Drop turns already present in the committed output (exact resume)."""
    return transcripts.join(
        done.select("conv_id", "turn_idx"),
        on=["conv_id", "turn_idx"],
        how="left_anti",
    )
