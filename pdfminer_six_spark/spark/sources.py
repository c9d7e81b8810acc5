"""Sources (SURVEY.md §2.1 S1): whole-document ingest.

For transcript tables the payload is already a column; for raw document
corpora (a directory/bucket of PDFs) we use Spark's binaryFile source —
splittable listing, lazy content read, pushdown on path/length — and feed
the same extraction kernel.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdfminer_six_spark.spark.pipeline import _drive, _map_batches, _pdf_text

DOC_EXTRACTED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)


def _file_items(body):
    """``items`` for ``_map_batches`` over a ``(path, content)`` batch:
    every file's raw bytes through ``body``, keyed by its path."""

    def items(b: pd.DataFrame):
        for path, content in zip(b["path"], b["content"]):
            yield (path,), bytes(content), body, False

    return items


def _doc_row(key, text, status, error, wall_ms):
    text = text or ""
    yield (*key, text, text.count("\f"), status, error)


def read_pdf_corpus(
    spark: SparkSession, glob_path: str, limit_bytes: Optional[int] = None
) -> DataFrame:
    """binaryFile scan over a PDF corpus: (path, length, content)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(glob_path)
        .select("path", "length", "content")
    )
    if limit_bytes:
        # predicate on file length prunes at the listing level
        df = df.filter(F.col("length") <= limit_bytes)
    return df


def extract_pdf_corpus(
    corpus: DataFrame, password: str = ""
) -> DataFrame:
    """(path, content) -> per-document extracted text, Arrow-batched."""
    return corpus.select("path", "content").mapInPandas(
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
    row with its path, status and error and nulls elsewhere."""
    return corpus.select("path", "content").mapInPandas(
        _map_batches(
            _file_items(_page_images), _image_rows, IMAGE_SCHEMA, password
        ),
        schema=IMAGE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Custom Python data source (Spark 4 DataSource API): the PDF corpus as a
# first-class format — `spark.read.format("pdfcorpus").load(dir)` — with
# source-level partition PLANNING (size-balanced LPT bins, not one task per
# file) and REAL filter pushdown: predicates on the file-metadata columns
# (path, length) prune at LISTING time, before a single byte of content is
# read — the DataSource-API analog of binaryFile's pathGlobFilter/length
# pushdown, visible to Catalyst as a smaller scan.
# ---------------------------------------------------------------------------

PDF_CORPUS_SCHEMA = (
    "path string, length bigint, text string, n_pages int, "
    "status string, error string"
)


def _make_pdf_corpus_classes(with_pushdown: bool = True):
    """Build the DataSource classes lazily so importing this module never
    requires a pyspark new enough to have pyspark.sql.datasource.
    ``with_pushdown=False`` strips the pushFilters override (Spark
    refuses a pushdown-capable reader when the session flag is off)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    class _PdfFilesPartition(InputPartition):
        """One planned input split: a tuple of (path, size) pairs."""

        def __init__(self, files):
            self.files = tuple(files)

        def __repr__(self):  # shown in the Spark UI task table
            return f"PdfFiles({len(self.files)} files)"

    class PdfCorpusReader(DataSourceReader):
        def __init__(self, options):
            self.root = options.get("path")
            if not self.root:
                raise ValueError("pdfcorpus: .load(<directory>) is required")
            self.glob = options.get("glob", "*.pdf")
            self.n_partitions = int(options.get("numpartitions", "8"))
            self.password = options.get("password", "")
            self.recursive = (
                options.get("recursive", "false").lower() == "true"
            )
            self._pushed = []

        # -- pushdown: keep (path, length) predicates, return the rest ----
        _META_LENGTH = (
            EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
            LessThanOrEqual,
        )
        _META_PATH = (
            EqualTo, StringContains, StringStartsWith, StringEndsWith,
        )

        def pushFilters(self, filters):
            for f in filters:
                col = f.attribute[0] if len(f.attribute) == 1 else None
                if col == "length" and isinstance(f, self._META_LENGTH):
                    self._pushed.append(f)
                elif col == "path" and isinstance(f, self._META_PATH):
                    self._pushed.append(f)
                else:
                    yield f  # unsupported -> Spark re-applies it post-scan

        def _keep(self, path: str, size: int) -> bool:
            import operator as op

            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                LessThan,
                LessThanOrEqual,
                StringContains,
                StringEndsWith,
                StringStartsWith,
            )

            ops = {
                EqualTo: op.eq, GreaterThan: op.gt,
                GreaterThanOrEqual: op.ge, LessThan: op.lt,
                LessThanOrEqual: op.le,
            }
            for f in self._pushed:
                col = f.attribute[0]
                val = path if col == "path" else size
                if isinstance(f, StringContains):
                    ok = f.value in val
                elif isinstance(f, StringStartsWith):
                    ok = val.startswith(f.value)
                elif isinstance(f, StringEndsWith):
                    ok = val.endswith(f.value)
                else:
                    ok = ops[type(f)](val, f.value)
                if not ok:
                    return False
            return True

        def _list(self):
            import glob as globmod
            import os

            pat = (
                os.path.join(self.root, "**", self.glob)
                if self.recursive
                else os.path.join(self.root, self.glob)
            )
            files = []
            for p in sorted(globmod.glob(pat, recursive=self.recursive)):
                if not os.path.isfile(p):
                    continue
                size = os.path.getsize(p)
                if self._keep(p, size):
                    files.append((p, size))
            return files

        def partitions(self):
            # size-balanced LPT bins: biggest file first into the lightest
            # bin — a 500 MB scan next to 2 KB fillers still levels out.
            files = self._list()
            n = max(1, min(self.n_partitions, len(files) or 1))
            bins = [[] for _ in range(n)]
            loads = [0] * n
            for p, size in sorted(files, key=lambda t: (-t[1], t[0])):
                i = loads.index(min(loads))
                bins[i].append((p, size))
                loads[i] += size
            return [_PdfFilesPartition(b) for b in bins]

        def read(self, partition):
            def items():
                for path, size in partition.files:
                    with open(path, "rb") as fh:
                        content = fh.read()
                    yield (path, size), content, _pdf_text, False

            yield from _drive(items(), self.password, _doc_row)

    class PdfCorpusDataSource(DataSource):
        """``spark.read.format("pdfcorpus").load(dir)`` — extraction fused
        into the scan.  Options: glob (default ``*.pdf``), recursive,
        numPartitions (planned LPT size bins), password."""

        @classmethod
        def name(cls):
            return "pdfcorpus"

        def schema(self):
            return PDF_CORPUS_SCHEMA

        def reader(self, schema):
            return PdfCorpusReader(self.options)

    if not with_pushdown:
        del PdfCorpusReader.pushFilters
    return PdfCorpusDataSource, PdfCorpusReader


def register_pdf_corpus_source(spark: SparkSession):
    """Register the ``pdfcorpus`` format on this session (idempotent).

    Python-data-source filter pushdown is gated behind
    ``spark.sql.python.filterPushdown.enabled`` (runtime-settable); Spark
    REFUSES a reader that implements pushFilters while the flag is off,
    so flip it here.  If a cluster pins it false, a reader without
    pushdown is registered instead — same rows, predicates just apply
    post-scan."""
    pushdown = True
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pushdown = False
    cls, _ = _make_pdf_corpus_classes(with_pushdown=pushdown)
    spark.dataSource.register(cls)
    return cls
