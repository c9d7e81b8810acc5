"""Output checks.  Each returns the number of failed turns of one pass.

A turn fails when it is missing from the output, appears more than once,
does not have status ``ok``, or its text differs from what
``core.extract.extract_text`` / ``core.html.extract_main_text`` give in
this process for the same payload.  Rows for turns that were never in the
input count as failures too.
"""

from __future__ import annotations

import base64
import hashlib
import os
from typing import Dict, List, Tuple

Key = Tuple[str, int]


def _expect(item: Tuple[str, str]) -> Tuple[str, str]:
    from pdfminer_six_spark.core.extract import extract_text
    from pdfminer_six_spark.core.html import extract_main_text

    tool, text = item
    if tool == "pdf":
        res = extract_text(base64.b85decode(text))
    elif tool == "html":
        res = extract_main_text(text)
    else:
        res = text
    return ("ok" if res else "empty", res)


def oracle(rows, workers: int) -> Dict[Key, Tuple[str, str]]:
    """(conv_id, turn_idx) -> (status, text), computed in ``workers``
    processes on this host, one call per distinct payload."""
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context, resource_tracker

    payloads = sorted({(tool, text) for _c, _i, _r, text, tool, _ts in rows})
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        memo = dict(zip(payloads, pool.map(_expect, payloads, chunksize=8)))
    # the spawn context starts a resource tracker process that would
    # otherwise run until this process exits; stop it and wait for it
    resource_tracker._resource_tracker._stop()
    return {(c, int(i)): memo[tool, text] for c, i, _r, text, tool, _ts in rows}


def _read(path: str, columns: List[str]) -> Dict[str, list]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pydict()


def _count(expected, got: Dict[Key, List[str]], ok) -> int:
    """Failed turns given the texts seen per key; ``ok(key, texts)`` says
    whether one key's output matches."""
    failed = sum(1 for k in got if k not in expected)
    for k in expected:
        if k not in got or not ok(k, got[k]):
            failed += 1
    return failed


def check_extract(path: str, expected: Dict[Key, Tuple[str, str]]) -> int:
    t = _read(path, ["conv_id", "turn_idx", "status", "text"])
    got: Dict[Key, list] = {}
    for c, i, s, x in zip(t["conv_id"], t["turn_idx"], t["status"], t["text"]):
        got.setdefault((c, i), []).append((s, x))
    return _count(
        expected, got,
        lambda k, v: len(v) == 1 and v[0] == expected[k] and v[0][0] == "ok",
    )


# jobs/build's later stages and what each must keep of the stage before
_BUILD_STAGES = (("clean", "02_clean"), ("dedup", "03_dedup"),
                 ("score", "04_score"), ("pack", "06_pack"))
KEEP_BUCKETS = {1, 2}  # jobs/build's --keep-buckets default


def check_build(workdir: str, expected: Dict[Key, Tuple[str, str]],
                stats: dict) -> int:
    """The extract stage holds exactly the ``ok`` turns, with their text.

    Every later stage holds distinct doc_ids drawn from the stage before,
    as many as ``run()``'s stats report; the dedup stage has no two equal
    texts; the score stage keeps only the kept CCNet buckets; the final
    output is the pack stage's rows and is not empty.  A doc_id that breaks
    one of these fails its turn; a stage whose row count is off, or an
    empty final output, fails the whole pass.
    """
    t = _read(os.path.join(workdir, "01_extract"), ["doc_id", "text"])
    got: Dict[Key, list] = {}
    for doc_id, text in zip(t["doc_id"], t["text"]):
        got.setdefault(_key(doc_id), []).append(text)
    want = {k: v for k, v in expected.items() if v[0] == "ok"}
    failed = _count(want, got, lambda k, v: v == [want[k][1]])
    failed += sum(1 for v in expected.values() if v[0] != "ok")
    if len(t["doc_id"]) != stats["extract"]["rows"]:
        return len(expected)

    prev, bad = set(t["doc_id"]), set()
    for stage, sub in _BUILD_STAGES:
        cols = {"dedup": ["doc_id", "text"], "score": ["doc_id", "bucket"]}
        s = _read(os.path.join(workdir, sub), cols.get(stage, ["doc_id"]))
        ids = s["doc_id"]
        if len(ids) != stats[stage]["rows"]:
            return len(expected)
        seen = set()
        for d in ids:
            if d in seen or d not in prev:
                bad.add(d)
            seen.add(d)
        if stage == "dedup":
            first: Dict[str, str] = {}
            for d, x in zip(ids, s["text"]):
                if first.setdefault(x, d) != d:
                    bad.add(d)
        if stage == "score":
            bad.update(d for d, b in zip(ids, s["bucket"]) if b not in KEEP_BUCKETS)
        prev = seen
    final = _read(os.path.join(workdir, "final"), ["doc_id"])["doc_id"]
    if not final or len(final) != stats["final"]["rows"] or set(final) != prev:
        return len(expected)
    return min(len(expected), failed + len({_key(d) for d in bad}))


def _key(doc_id: str) -> Key:
    conv_id, _, turn = doc_id.rpartition("#")
    return conv_id, int(turn)


def digest(path: str) -> str:
    """Order-free sha256 of every row of a parquet directory."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    cols = sorted(t.column_names)
    rows = sorted(zip(*(t.column(c).to_pylist() for c in cols)), key=repr)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
