"""Sources (SURVEY.md §2.1 S1): whole-document ingest.

For transcript tables the payload is already a column; for raw document
corpora (a directory/bucket of PDFs) we use Spark's binaryFile source —
splittable listing, lazy content read, pushdown on path/length — and feed
the same extraction kernel.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdfminer_six_spark.spark.partitions import spread
from pdfminer_six_spark.spark.pipeline import _map_batches, _pdf_text

DOC_EXTRACTED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("length", LongType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)


def _file_items(body):
    """``items`` for ``_map_batches`` over a batch of binaryFile rows:
    every file's raw bytes through ``body``, keyed by the batch's other
    columns (``path``, and ``length`` where selected) in order."""

    def items(b: pd.DataFrame):
        keys = [b[c] for c in b.columns if c != "content"]
        for *key, content in zip(*keys, b["content"]):
            yield tuple(key), bytes(content), body, False

    return items


def _doc_row(key, text, status, error, wall_ms):
    text = text or ""
    yield (*key, text, text.count("\f"), status, error)


def read_pdf_corpus(spark: SparkSession, glob_path: str) -> DataFrame:
    """binaryFile scan over a PDF corpus: (path, length, content).

    ``path`` is the file's URI (``file:/...`` on a local disk).  A
    zero-length file is listed but Spark plans no split for it, so it
    yields no row."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(glob_path)
        .select("path", "length", "content")
    )


def extract_pdf_corpus(
    corpus: DataFrame, password: str = ""
) -> DataFrame:
    """(path, length, content) -> per-document ``(path, length, text,
    n_pages, status, error)``, Arrow-batched; the input is planned by
    ``spread``."""
    return spread(corpus.select("path", "length", "content")).mapInPandas(
        _map_batches(
            _file_items(_pdf_text), _doc_row, DOC_EXTRACTED_SCHEMA, password
        ),
        schema=DOC_EXTRACTED_SCHEMA,
    )


IMAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("page", IntegerType()),
        StructField("name", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("fmt", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("sha256", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)


def _page_images(data: bytes, password: str) -> list:
    """Image body: one ``(page, name, width, height, bits, fmt, n_bytes,
    sha256)`` tuple per embedded image, in emission order."""
    import hashlib

    from pdfminer_six_spark.core.extract import extract_pages
    from pdfminer_six_spark.core.image import export_image_bytes
    from pdfminer_six_spark.core.layout import LTContainer, LTImage

    def walk(item):
        if isinstance(item, LTImage):
            yield item
        elif isinstance(item, LTContainer):
            for child in item:
                yield from walk(child)

    out = []
    for pageno, page in enumerate(extract_pages(data, password=password), 1):
        inline_seq = 0
        for img in walk(page):
            # inline images carry id()-based names in both engines
            # (reference pdfinterp.py:1310-1315) — unusable as distributed
            # keys; renumber them in deterministic emission order
            name = img.name
            if name.isdigit():
                inline_seq += 1
                name = f"inline-{inline_seq}"
            try:
                ext, payload = export_image_bytes(img)
            except Exception:
                ext, payload = ".err", b""
            out.append(
                (pageno, name, img.srcsize[0], img.srcsize[1], img.bits, ext,
                 len(payload), hashlib.sha256(payload).hexdigest())
            )
    return out


_NO_IMAGE = (None,) * 8


def _image_rows(key, images, status, error, wall_ms):
    if status == "ok":
        for r in images:
            yield (*key, *r, status, error)
    elif status != "empty":
        yield (*key, *_NO_IMAGE, status, error)


def extract_images_corpus(corpus: DataFrame, password: str = "") -> DataFrame:
    """(path, content) -> one row per embedded image, Arrow-batched.

    The payload itself stays on the executor — we emit format + size +
    content hash so dedup/join logic downstream never shuffles megabyte
    blobs; a local sink (core/image.py:ImageWriter) re-derives identical
    bytes when files are wanted (the jb2/bmp exports are deterministic,
    tested against the reference's goldens).  An image whose export
    fails keeps its row with fmt ``.err``.

    Status contract: image rows carry status ``ok``; a document without
    images yields no row; a document that fails to extract yields one
    row with its path, status and error and nulls elsewhere.  The input
    is planned by ``spread``."""
    return spread(corpus.select("path", "content")).mapInPandas(
        _map_batches(
            _file_items(_page_images), _image_rows, IMAGE_SCHEMA, password
        ),
        schema=IMAGE_SCHEMA,
    )
