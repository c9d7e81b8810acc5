"""In-process replay of a workload's payloads through the kernel's public
calls (in the Spark driver's Python process), timing each call from
outside.

Stages and the calls timed:

* ``core.decode_s``: ``spark.pipeline._b85decode_fast`` (payload decode)
* ``core.parse_s``: ``document.get_pages`` (lex, parse, xref, objects)
* ``core.interp_s``: ``Interpreter.process_page`` into
  ``LayoutDevice(laparams=None)``; ``core.font_s`` is the part of it spent
  in ``ResourceManager.get_font``
* ``core.layout_s``: ``LTPage.analyze(LAParams())``
* ``core.sink_s``: ``TextDevice.receive_layout``
* ``core.html_s``: ``html.extract_main_text``

Each turn is replayed as the pipeline sees it, so a payload repeated in
the input is replayed every time it occurs.
"""

from __future__ import annotations

import time
from typing import Dict

from pdfminer_six_spark.core.device import LayoutDevice, TextDevice
from pdfminer_six_spark.core.document import get_pages
from pdfminer_six_spark.core.html import extract_main_text
from pdfminer_six_spark.core.interp import Interpreter, ResourceManager
from pdfminer_six_spark.core.layout import LAParams, LTChar, LTContainer
from pdfminer_six_spark.spark.pipeline import _b85decode_fast

STAGES = ("decode", "parse", "interp", "layout", "sink", "html")


class _TimedResources(ResourceManager):
    """ResourceManager whose ``get_font`` time is added up."""

    def __init__(self) -> None:
        super().__init__()
        self.font_s = 0.0

    def get_font(self, objid, spec):
        t0 = time.perf_counter()
        try:
            return super().get_font(objid, spec)
        finally:
            self.font_s += time.perf_counter() - t0


def _count_chars(item) -> int:
    if isinstance(item, LTChar):
        return 1
    if isinstance(item, LTContainer):
        return sum(_count_chars(c) for c in item)
    return 0


def replay(rows) -> Dict[str, float]:
    """Replay every turn once.  Returns seconds per stage plus the counts
    ``pages``, ``chars`` (characters placed by the interpreter) and
    ``errors`` (turns whose replay raised)."""
    t = dict.fromkeys(STAGES, 0.0)
    t["font"] = 0.0
    pages = chars = errors = 0
    clock = time.perf_counter
    for _conv, _turn, _role, text, tool, _ts in rows:
        if tool == "html":
            t0 = clock()
            extract_main_text(text)
            t["html"] += clock() - t0
            continue
        if tool != "pdf":
            continue
        try:
            t0 = clock()
            payload = _b85decode_fast(text)
            t1 = clock()
            t["decode"] += t1 - t0
            page_list = list(get_pages(payload))
            t["parse"] += clock() - t1
            rsrc = _TimedResources()
            laparams = LAParams()
            sink = TextDevice(laparams=laparams)
            for pageno, page in enumerate(page_list, 1):
                device = LayoutDevice(laparams=None, pageno=pageno)
                t0 = clock()
                Interpreter(rsrc, device).process_page(page)
                t1 = clock()
                ltpage = device.get_result()
                chars += _count_chars(ltpage)
                t2 = clock()
                ltpage.analyze(laparams)
                t3 = clock()
                sink.receive_layout(ltpage)
                t4 = clock()
                t["interp"] += t1 - t0
                t["layout"] += t3 - t2
                t["sink"] += t4 - t3
                pages += 1
            t["font"] += rsrc.font_s
        except Exception:  # a failing payload is counted, never fatal
            errors += 1
    t.update(pages=pages, chars=chars, errors=errors)
    return t


def kernel_self_s(t: Dict[str, float]) -> float:
    """Kernel time over all stages (font time is inside interp)."""
    return sum(t[s] for s in STAGES)
