#!/usr/bin/env python3
"""Where the extraction kernel spends its time, layer by layer, in one
process.

    python3 scripts/profile_kernel.py [--seeds 2 3] [--passes 3]

Builds the benchmark's ``pdf_scan`` mix (``perfbench/workloads.py``: text,
rich and CID PDFs) for each seed and replays every PDF turn through the
kernel as the pipeline's default text extraction runs it
(``extract_text`` with the default ``LAParams``), split into:

* ``decode``: the base85 payload decode;
* ``parse``: ``get_pages`` (lex, parse, xref, objects);
* ``interp``: ``Interpreter.process_page`` without glyph placement, and
  ``render_string`` (glyph placement, ``LTChar`` construction) apart;
* ``L1`` ``group_objects`` (chars to lines), ``L3`` ``group_textlines``
  (lines to boxes), ``L5`` ``group_textboxes`` (box clustering) and
  ``layout_other`` (the rest of ``LTPage.analyze``: sorts, reading order);
* ``sink``: ``TextDevice.receive_layout``.

``L5_by_boxes`` splits L5 by the number of boxes on the page.  Each pass
replays the whole mix; the script prints one JSON line per pass and a
last line with the per-stage median over the passes (the first pass also
warms the font caches).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from pdfminer_six_spark.core.device import Device, TextDevice  # noqa: E402
from pdfminer_six_spark.core.document import get_pages  # noqa: E402
from pdfminer_six_spark.core.interp import Interpreter, ResourceManager  # noqa: E402
from pdfminer_six_spark.core.layout import LAParams, LTLayoutContainer  # noqa: E402
from pdfminer_six_spark.spark.pipeline import _b85decode_fast  # noqa: E402

STAGES = ("decode", "parse", "interp", "render_string", "L1", "L3", "L5",
          "layout_other", "sink")
BUCKETS = ((0, 10, "<10"), (10, 50, "10-49"), (50, 100, "50-99"),
           (100, float("inf"), "100+"))

clock = time.perf_counter


class _Clock:
    """Accumulates the time spent in the wrapped methods."""

    def __init__(self) -> None:
        self.t = dict.fromkeys(("render_string", "L1", "L3", "L5"), 0.0)
        self.l5 = {name: [0, 0.0] for _, _, name in BUCKETS}

    def wrap(self, cls, attr: str, key: str, bucket: bool = False) -> None:
        orig = getattr(cls, attr)
        t = self.t
        l5 = self.l5

        def timed(obj, *args):
            t0 = clock()
            out = orig(obj, *args)
            if key in ("L1", "L3"):  # may yield: time the consumption
                out = list(out)
            dt = clock() - t0
            t[key] += dt
            if bucket:
                n = len(args[-1])
                for lo, hi, name in BUCKETS:
                    if lo <= n < hi:
                        l5[name][0] += 1
                        l5[name][1] += dt
            return out

        setattr(cls, attr, timed)


def _replay(rows, clk: _Clock) -> dict:
    t = dict.fromkeys(STAGES, 0.0)
    for k in clk.t:
        clk.t[k] = 0.0
    for v in clk.l5.values():
        v[:] = [0, 0.0]
    pages = 0
    for _conv, _turn, _role, text, tool, _ts in rows:
        if tool != "pdf":
            continue
        t0 = clock()
        payload = _b85decode_fast(text)
        t1 = clock()
        page_list = list(get_pages(payload))
        t["parse"] += clock() - t1
        t["decode"] += t1 - t0
        laparams = LAParams()
        device = TextDevice(laparams=laparams)
        interp = Interpreter(ResourceManager(), device)
        for page in page_list:
            # end_page runs analyze and the sink: time them from inside
            layout_s = sink_s = 0.0
            end_page = device.end_page
            receive = device.receive_layout

            def timed_receive(ltpage):
                nonlocal sink_s
                t0 = clock()
                receive(ltpage)
                sink_s += clock() - t0

            def timed_end_page(pg):
                nonlocal layout_s
                t0 = clock()
                end_page(pg)
                layout_s += clock() - t0

            device.receive_layout = timed_receive
            device.end_page = timed_end_page
            t0 = clock()
            interp.process_page(page)
            t["interp"] += clock() - t0 - layout_s
            t["layout_other"] += layout_s - sink_s
            t["sink"] += sink_s
            del device.receive_layout, device.end_page
            pages += 1
    for k, v in clk.t.items():
        t[k] = v
    t["interp"] -= t["render_string"]
    t["layout_other"] -= t["L1"] + t["L3"] + t["L5"]
    out = {k: round(v, 4) for k, v in t.items()}
    out["kernel"] = round(sum(t.values()), 4)
    out["pages"] = pages
    out["L5_by_boxes"] = {
        name: {"pages": n, "s": round(s, 4)} for name, (n, s) in clk.l5.items()
    }
    return out


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", default=[2, 3])
    p.add_argument("--passes", type=int, default=3)
    args = p.parse_args(argv)

    import workloads

    rows = [r for s in args.seeds for r in workloads.pdf_scan(s).rows]
    clk = _Clock()
    clk.wrap(Device, "render_string", "render_string")
    clk.wrap(LTLayoutContainer, "group_objects", "L1")
    clk.wrap(LTLayoutContainer, "group_textlines", "L3")
    clk.wrap(LTLayoutContainer, "group_textboxes", "L5", bucket=True)
    runs = []
    for i in range(args.passes):
        r = _replay(rows, clk)
        runs.append(r)
        print(json.dumps({"pass": i, **r}), flush=True)
    keys = STAGES + ("kernel",)
    print(json.dumps({
        "seeds": args.seeds, "passes": args.passes,
        "median": {k: round(statistics.median(r[k] for r in runs), 4)
                   for k in keys},
        "L5_by_boxes": {
            name: {"pages": runs[-1]["L5_by_boxes"][name]["pages"],
                   "s": round(statistics.median(
                       r["L5_by_boxes"][name]["s"] for r in runs), 4)}
            for _, _, name in BUCKETS
        },
    }), flush=True)


if __name__ == "__main__":
    main()
